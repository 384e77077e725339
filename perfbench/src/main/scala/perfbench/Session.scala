package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's one Spark session: the production settings `graft.Main`
  * applies, on `local[cores]`. Every conf set here is listed in
  * BENCHMARK.json under `session_confs`, and the run prints them too.
  */
object Session {

  def confs(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> cores.toString,
    // the checkout is the only writable place: keep the session catalog's
    // warehouse and Spark's scratch space inside it
    "spark.sql.warehouse.dir" -> Paths.warehouse,
    "spark.local.dir" -> Paths.sparkLocal)

  def start(cores: Int): SparkSession = {
    val b = SparkSession.builder()
    confs(cores).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
