package perfbench

import graft.Driver
import graft.catalog.{CatalogClient, SparkCatalogClient}
import graft.config.{JobConfig, SortOrder, TableConfig}
import graft.sources.{IncrementalSource, ParquetSource}
import graft.state.{BookmarkStore, FileBookmarkStore}
import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, struct, when}
import scala.jdk.CollectionConverters._

/** `etl_incremental`: the paper's scheduled job. Each cycle is one
  * `graft.Driver` run over every table (a fresh bookmark store and catalog
  * client, as a new job run would have); it reads only rows past the
  * bookmark, drops all-null columns, appends a partitioned write, syncs
  * the catalog and commits the bookmarks. Delta cycles find new rows in
  * some tables; no-op cycles find none and only probe.
  *
  * A round is the initial load and an untimed warm-up delta cycle, then
  * the measured pattern: a delta cycle in which one table gains a column
  * and another carries an all-null column, then a no-op cycle. When the
  * pattern has run, a new round starts from a fresh target and catalog
  * database (outside the timer), so every round does the same work.
  */
private final case class Cycle(k: Int, deltas: Map[String, (Long, Long)],
    evolve: Boolean, nullNote: Boolean) {
  def noop: Boolean = deltas.isEmpty
}

final class EtlWorkload(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  val name = "etl_incremental"
  val primary = "delta cycle (Driver.run that finds new rows and writes them)"
  val secondary = "no-op cycle (Driver.run that finds no new rows and only probes)"
  /** A delta cycle, then a no-op cycle. */
  val pattern = 2

  private val scale = 0.25
  private val tables = Gen.etlTables(scale, seed)
  private val base = Paths.dir("etl")


  /** The warm-up delta cycle, then the measured delta cycle and the no-op
    * cycle. Delta sizes follow a fixed 1-5% sequence for every seed (cycle
    * time, not the draw, should move the throughput); the seed draws the
    * rows and which half of the small tables change. The evolving table
    * gains its column in the measured delta cycle, which also carries the
    * nullable column all-null, so every run times both.
    */
  private val schedule: Seq[Cycle] = {
    val rnd = new scala.util.Random(seed)
    val small = tables.filterNot(_.large).map(_.name)
    var hi = tables.map(t => t.name -> t.initial).toMap
    def delta(k: Int, evolve: Boolean): Cycle = {
      val frac = 0.01 + 0.04 * ((k * 0.6180339887) % 1.0)
      // the same number of small tables change for every seed, so the
      // files a cycle writes do not depend on the draw
      val forced = if (evolve) Set(Gen.evolving) else Set.empty[String]
      val changed = forced ++ rnd.shuffle(small.filterNot(forced)).take(small.size / 2 - forced.size)
      val deltas = tables.filter(t => t.large || changed(t.name)).map { t =>
        val n = math.max(1L, (t.initial * frac).toLong)
        val r = t.name -> (hi(t.name), hi(t.name) + n)
        hi += t.name -> (hi(t.name) + n)
        r
      }.toMap
      Cycle(k, deltas, evolve, nullNote = evolve)
    }
    Seq(delta(1, evolve = false), delta(2, evolve = true),
      Cycle(3, Map.empty, evolve = false, nullNote = false))
  }
  /** Cycles each round runs untimed to warm the incremental path. */
  private val warmUpCycles = 1
  private val evolveCycle = schedule.find(_.evolve).get.k
  /** Rows of the evolving table before it gains its column. */
  private val evolveAt: Long =
    schedule.takeWhile(!_.evolve).flatMap(_.deltas.get(Gen.evolving)).map(_._2)
      .lastOption.getOrElse(tables.find(_.name == Gen.evolving).get.initial)

  private def cfgs = tables.map(t => TableConfig(t.name, t.keys, SortOrder.Asc, t.partition))

  // ------------------------------------------------------------ round state
  private var round = 0
  private var next = 0 // index into schedule
  private var published: Map[String, Long] = Map.empty
  private var evolved = false
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private def roundDir = s"$base/r$round"
  private def src = s"$roundDir/src"
  private def tgt = s"$roundDir/tgt"
  private def db = s"perfbench_etl_r$round"
  private def bookmarksPath = s"$tgt/_bookmarks.json"

  /** Writes every chunk of every table: chunk 0 is the initial load,
    * chunk k the delta published before cycle k, and chunk -1 the evolving
    * table's earlier rows as they read once its column is added (an ALTER
    * TABLE ADD COLUMN: existing rows read the column as null). One write
    * job per table and schema, one file per chunk; tables in parallel.
    */
  def setup(): Unit = {
    SetupPhases("generate")(Parallel(cores)(tables.map(t => () => generate(t))))
    SetupPhases("initial_load")(newRound())
    SetupPhases("warm_up")(warmUp())
  }

  private def warmUp(): Unit = (1 to warmUpCycles).foreach(_ => step(new OpCtx(None)))

  private def generate(t: Gen.EtlTable): Unit = {
    val chunks = (0, 0L, t.initial) +: schedule.flatMap(c =>
      c.deltas.get(t.name).map { case (lo, hi) => (c.k, lo, hi) })
    val id = col("id")
    val chunkOf = chunks.tail.foldLeft(when(id < t.initial, lit(0))) {
      case (w, (k, lo, hi)) => w.when(id >= lo && id < hi, lit(k))
    }
    val nullChunks = if (t.name == Gen.nullable._1)
      schedule.filter(c => c.nullNote && c.deltas.contains(t.name)).map(_.k) else Nil
    def rows(lo: Long, hi: Long, chunk: Column, evolved: Boolean) =
      Gen.etlRows(spark, t, lo, hi, seed, chunk, evolved,
        nullNote = chunk.isin(nullChunks: _*), evolvedNull = chunk === -1)
    val all = chunks.map(_._3).max
    val frames =
      if (t.name != Gen.evolving) Seq(rows(0, all, chunkOf, evolved = false))
      else Seq(
        rows(0, all, chunkOf, evolved = false).filter(col("chunk") < evolveCycle),
        rows(0, evolveAt, lit(-1), evolved = true).union(
          rows(0, all, chunkOf, evolved = true).filter(col("chunk") >= evolveCycle)))
    frames.foreach(_.write.mode("append").partitionBy("chunk").parquet(s"$base/gen/${t.name}"))
  }

  private def chunkDir(t: String, k: Int) = s"$base/gen/$t/chunk=$k"

  /** Fresh source snapshot, target, bookmarks and catalog database, then
    * the initial load.
    */
  private def newRound(): Unit = {
    if (round > 0) {
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      Paths.deleteRecursively(roundDir)
    }
    round += 1
    next = 0
    evolved = false
    tables.foreach(t => Paths.linkTree(chunkDir(t.name, 0), s"$src/${t.name}.parquet"))
    published = tables.map(t => t.name -> t.initial).toMap
    val catalog = new SparkCatalogClient(spark)
    catalog.ensureDatabase(db)
    // the initial load runs its tables side by side (set-up only; every
    // measured cycle runs them one after another, the default)
    runDriver(new ParquetSource(src), catalog, new FileBookmarkStore(bookmarksPath), cores)
  }

  private def runDriver(source: IncrementalSource, catalog: CatalogClient,
      bookmarks: BookmarkStore, concurrentTables: Int = 1): Long = {
    val config = JobConfig("perfbench", "", tgt, db, "parquet", cfgs,
      maxConcurrentTables = concurrentTables)
    new Driver(spark, config, source, catalog, bookmarks).run().map(_.rowsWritten).sum
  }

  private def publish(c: Cycle): Unit = {
    if (c.evolve) {
      val dir = s"$src/${Gen.evolving}.parquet"
      Paths.deleteRecursively(dir)
      Paths.linkTree(chunkDir(Gen.evolving, -1), dir)
      evolved = true
    }
    c.deltas.keys.foreach { tn =>
      val ls = Files.list(JPaths.get(chunkDir(tn, c.k)))
      try ls.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
        Files.createLink(JPaths.get(s"$src/$tn.parquet/c${c.k}-${f.getFileName}"), f)
      } finally ls.close()
      published += tn -> c.deltas(tn)._2
    }
  }

  def step(ctx: OpCtx): Unit = {
    if (next >= schedule.size) { newRound(); warmUp() }
    val c = schedule(next)
    next += 1
    publish(c)
    val filesBefore = Paths.fileCount(tgt)
    val (source, catalog, bookmarks) = ctx.tracer match {
      case Some(tr) => (new TracedSource(new ParquetSource(src), tr),
        new TracedCatalog(new SparkCatalogClient(spark), tr),
        new TracedBookmarks(new FileBookmarkStore(bookmarksPath), tr))
      case None => (new ParquetSource(src), new SparkCatalogClient(spark),
        new FileBookmarkStore(bookmarksPath))
    }
    val expected = c.deltas.values.map { case (lo, hi) => hi - lo }.sum
    val rows = ctx.time(if (c.noop) "secondary" else "primary", s"cycle${c.k}", expected) {
      runDriver(source, catalog, bookmarks)
    }
    val files = Paths.fileCount(tgt) - filesBefore
    ctx.filesOfLast(files)
    ctx.fact("rows_ingested", rows.toDouble)
    ctx.fact("sinks.PartitionedSink.files_written", files.toDouble)
    if (rows != expected)
      failures += s"cycle ${c.k} of round $round ingested $rows rows, expected $expected"
  }

  def stepFailures: Seq[String] = failures.toSeq

  private def dataColumns(t: Gen.EtlTable): Seq[String] =
    Gen.etlRows(spark, t, 0, 1, seed, lit(0), evolved = evolved).columns.toSeq
      .filterNot(c => c == "chunk" || t.partition.contains(c))

  def check(): Seq[String] = {
    val catalog = new SparkCatalogClient(spark)
    val bookmarks = new FileBookmarkStore(bookmarksPath)
    tables.flatMap { t =>
      val want = published(t.name)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val target = spark.read.parquet(s"$tgt/${t.name}")
      val row = target.agg(count(lit(1)), countDistinct(struct(t.keys.map(col): _*))).head()
      if (row.getLong(0) != want)
        out += s"${t.name}: target holds ${row.getLong(0)} rows, source $want"
      if (row.getLong(1) != row.getLong(0))
        out += s"${t.name}: ${row.getLong(0) - row.getLong(1)} duplicate keys in target"
      // the source's max key: ids are dense, so it is the last id published
      val last = want - 1
      val wantBm = t.name match {
        case "lineitem" => Map("l_orderkey" -> (last / 4).toString,
          "l_linenumber" -> (last % 4 + 1).toString)
        case _ => Map(t.keys.head -> last.toString)
      }
      if (bookmarks.get(t.name) != wantBm)
        out += s"${t.name}: bookmark ${bookmarks.get(t.name)}, source max $wantBm"
      t.partition.foreach { p =>
        val inCatalog = spark.sessionState.catalog
          .listPartitions(TableIdentifier(t.name, Some(db))).map(_.spec(p)).toSet
        val ls = Files.list(JPaths.get(s"$tgt/${t.name}"))
        val onDisk = try ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(s"$p=")).map(_.stripPrefix(s"$p=")).toSet finally ls.close()
        if (inCatalog != onDisk)
          out += s"${t.name}: catalog partitions $inCatalog, on disk $onDisk"
      }
      val schema = catalog.getTable(db, t.name).schema.fieldNames.toSeq
      if (schema != dataColumns(t))
        out += s"${t.name}: catalog schema ${schema.mkString(",")}, expected ${dataColumns(t).mkString(",")}"
      out
    }
  }

  def properties: Seq[(String, String)] = {
    val deltas = schedule.flatMap(_.deltas.values.map { case (lo, hi) => hi - lo }).sorted
    Seq(
      "tables" -> s"${tables.size} (${tables.count(_.large)} large, ${tables.count(!_.large)} small)",
      "initial_rows" -> tables.map(_.initial).sum.toString,
      "initial_rows_large" -> tables.filter(_.large).map(t => s"${t.name}=${t.initial}").mkString(" "),
      "cycles_per_round" -> s"${schedule.size} (${schedule.count(!_.noop)} delta, ${schedule.count(_.noop)} no-op, $warmUpCycles untimed warm-up)",
      "delta_rows" -> s"min=${deltas.head} median=${deltas(deltas.size / 2)} max=${deltas.last} per table delta",
      "delta_rows_per_cycle" -> schedule.filterNot(_.noop)
        .map(_.deltas.values.map { case (lo, hi) => hi - lo }.sum).mkString(","),
      "schema_evolution" -> s"${Gen.evolving} gains ${Gen.evolvedColumn} at cycle $evolveCycle",
      "all_null_column" -> s"${Gen.nullable._1}.${Gen.nullable._2} in cycles ${schedule.filter(c => c.nullNote && !c.noop).map(_.k).mkString(",")}",
      "rounds_run" -> round.toString)
  }
}
