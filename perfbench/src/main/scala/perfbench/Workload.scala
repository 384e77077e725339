package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed operation: `kind` is "primary" or "secondary" (each
  * workload says which of its operations is which), `rows` the rows or
  * docs it moved, `files` the files it wrote.
  */
final case class Sample(kind: String, label: String, seconds: Double, rows: Long, files: Long)

/** What a workload hands the timer for each operation. In a traced run,
  * the timed region is also recorded as an `op.<kind>` span, and layer
  * facts the workload measures outside the timer are added to `facts`.
  */
final class OpCtx(val tracer: Option[Tracer]) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val facts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def fact(name: String, v: Double): Unit = if (tracer.nonEmpty) facts(name) += v

  /** Times `f` (the call plus materializing its result) as one sample. */
  def time[A](kind: String, label: String, rows: Long)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = tracer match {
      case Some(tr) => tr.span(s"op.$kind")(f)
      case None => f
    }
    samples += Sample(kind, label, (System.nanoTime() - t0) / 1e9, rows, 0L)
    r
  }

  /** Times `f` as a named part of the operation being timed. Parts are
    * shown per name in the report line; they are not samples.
    */
  def part[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally parts += label -> (System.nanoTime() - t0) / 1e9
  }
  val parts = mutable.ArrayBuffer.empty[(String, Double)]

  /** Sets the file count of the last sample (counted outside the timer). */
  def filesOfLast(n: Long): Unit = {
    val s = samples.last
    samples(samples.size - 1) = s.copy(files = n)
  }

  def span[A](name: String)(f: => A): A = tracer match {
    case Some(tr) => tr.span(name)(f)
    case None => f
  }
}

/** Named set-up phases and their walls, for the run's report. */
object SetupPhases {
  val walls = mutable.ArrayBuffer.empty[(String, Double)]
  def apply[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally walls += name -> (System.nanoTime() - t0) / 1e9
  }
}

/** Runs independent set-up tasks on `threads` client threads (shard
  * bootstraps, per-table generation): set-up is not measured per
  * operation, and the engine's calls are driver-bound, so running them
  * side by side shortens it.
  */
object Parallel {
  def apply[A](threads: Int)(tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[A] { def call(): A = t() }))
      fs.map { f =>
        try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }
}

/** A benchmark workload: seeded inputs, a set-up, a sequence of timed
  * operations run as a closed loop by one client, and output checks.
  */
trait Workload {
  def name: String
  /** Generation and engine-side set-up; timed as part of `setup_s`. */
  def setup(): Unit
  /** Runs the next operation of the schedule, timing it through `ctx`;
    * resets between rounds happen here, outside the timer.
    */
  def step(ctx: OpCtx): Unit
  /** Output checks over everything run so far: one message per failure. */
  def check(): Seq[String]
  /** Failures found while running (an operation's own output check). */
  def stepFailures: Seq[String]
  /** Input properties the generator produced, for the run's report. */
  def properties: Seq[(String, String)]
  def primary: String
  def secondary: String
  /** Operations per pattern: the loop always stops at a whole pattern. */
  def pattern: Int
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, cores: Int): Workload = name match {
    case "etl_incremental" => new EtlWorkload(spark, seed, cores)
    case "index_ingest" => new IndexIngestWorkload(spark, seed, cores)
    case "index_merge" => new IndexMergeWorkload(spark, seed, cores)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] = Seq("etl_incremental", "index_ingest", "index_merge")
}
