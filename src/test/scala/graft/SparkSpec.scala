package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/sf0.001/$name.parquet"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every node of an executed physical plan, looking through adaptive
    * wrappers, query stages and reused exchanges; with `intoCaches`, also
    * through the plan that filled each in-memory scan's cache (a scan of
    * a persisted frame is otherwise a leaf).
    */
  def planNodes(plan: org.apache.spark.sql.execution.SparkPlan,
      intoCaches: Boolean = true): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    plan +: (plan match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan, intoCaches)
      case q: QueryStageExec => planNodes(q.plan, intoCaches)
      case r: ReusedExchangeExec => planNodes(r.child, intoCaches)
      case m: InMemoryTableScanExec =>
        if (intoCaches) planNodes(m.relation.cachedPlan, intoCaches) else Nil
      case o => o.children.flatMap(planNodes(_, intoCaches))
    })
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // see Bench.scala: the 100-entry default codegen cache is smaller
      // than one index pipeline — the heavy suites re-paid compilation
      // per test without this
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // one stable classloader + stable generated class names: see Bench.scala
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
