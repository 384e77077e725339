package perfbench

import graft.catalog.{CatalogClient, PartitionDef, TableDef}
import graft.config.TableConfig
import graft.sources.IncrementalSource
import graft.state.BookmarkStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** A closed interval on the tracer's clock (epoch milliseconds with
  * sub-millisecond resolution). `parent` is the id of the span that
  * caused it, or -1; it is assigned by containment when the trace ends.
  */
final case class Span(id: Int, name: String, start: Double, end: Double, var parent: Int = -1) {
  def dur: Double = end - start
}

/** One Spark job seen by the listener: its wall, the module and method
  * of the first `graft.` frame of its call site, and the sums of its
  * tasks' metrics. Jobs Spark starts from its own threads (adaptive query
  * stages, broadcast builds) carry no engine frame; they take the frame
  * their SQL execution recorded when it started (see `Tracer.link`).
  */
final class JobRec(val id: Int, val start: Double, val exec: Option[String],
    var module: String, var method: String) {
  var end: Double = start
  var stages: Set[Int] = Set.empty
  var tasks, taskMs, cpuNs, gcMs, inBytes, inRecs, outBytes, outRecs,
      shuffleWrite, shuffleRead, spill = 0L
}

/** The traced run's instrument, built only from benchmark files: spans
  * recorded around calls into each layer (decorating wrappers and index
  * call timers), plus a SparkListener that attributes every job to the
  * engine module on its call site. Everything is kept in memory and
  * written out when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def now: Double = epochMs + (System.nanoTime() - nanoBase) / 1e6

  val spans = ArrayBuffer.empty[Span]
  val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
  private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
  private val execFrame = scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  def span[A](name: String)(f: => A): A = {
    val s = now
    try f finally spans.synchronized { spans += Span(spans.size, name, s, now) }
  }
  def mark(name: String, start: Double, end: Double): Unit =
    spans.synchronized { spans += Span(spans.size, name, start, end) }

  private def frameOf(details: String): Option[(String, String)] =
    details.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { f =>
      val call = f.takeWhile(_ != '(')
      val cls = call.substring(0, call.lastIndexOf('.'))
      (cls.stripPrefix("graft.").takeWhile(_ != '$'), call.substring(call.lastIndexOf('.') + 1))
    }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val (module, method) = e.stageInfos.sortBy(-_.stageId).iterator
        .flatMap(si => frameOf(si.details)).nextOption().getOrElse(("", ""))
      val r = new JobRec(e.jobId, e.time.toDouble, exec, module, method)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs(e.jobId) = r
    }
    // a SQL execution records the call site of the thread that started
    // it, which is the engine's even when its jobs run on Spark's threads
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        frameOf(s.details).foreach(execFrame(s.executionId.toString) = _)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = for {
      j <- stageJob.get(e.stageId); r <- jobs.get(j); m <- Option(e.taskMetrics)
    } r.synchronized {
      r.stages += e.stageId
      r.tasks += 1
      r.taskMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.inBytes += m.inputMetrics.bytesRead
      r.inRecs += m.inputMetrics.recordsRead
      r.outBytes += m.outputMetrics.bytesWritten
      r.outRecs += m.outputMetrics.recordsWritten
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Runs `f` traced: the listener is attached for its duration only, and
    * the bus is drained before it is detached, so every event of `f`'s
    * jobs is recorded.
    */
  def traced[A](f: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try f finally {
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
  }

  /** Assigns each span's parent (the innermost span containing it), and
    * each frameless job the module of its SQL execution. Jobs are not
    * spans; metrics match them to spans by the same containment.
    */
  def link(): Unit = {
    jobs.values.filter(_.module.isEmpty).foreach { j =>
      val (m, f) = j.exec.flatMap(execFrame.get).getOrElse(("unattributed", ""))
      j.module = m; j.method = f
    }
    val sorted = spans.sortBy(s => (s.start, -s.end))
    val stack = scala.collection.mutable.Stack.empty[Span]
    sorted.foreach { s =>
      while (stack.nonEmpty && stack.top.end < s.end) stack.pop()
      s.parent = if (stack.isEmpty) -1 else stack.top.id
      stack.push(s)
    }
  }

  /** Writes spans and jobs as JSON lines. */
  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      spans.foreach(s => w.println(
        f"""{"span":${s.id},"name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f,"parent":${s.parent}}"""))
      jobs.values.toSeq.sortBy(_.id).foreach(j => w.println(
        f"""{"job":${j.id},"module":"${j.module}","method":"${j.method}","start":${j.start}%.0f,"end":${j.end}%.0f,"tasks":${j.tasks},"task_ms":${j.taskMs},"out_bytes":${j.outBytes}}"""))
    } finally w.close()
  }
}

/** Union length of intervals (ms). */
object Intervals {
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
  def clip(iv: Seq[(Double, Double)], s: Double, e: Double): Seq[(Double, Double)] =
    iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(x => x._2 > x._1)
}

/** Decorating wrappers passed into `graft.Driver` in traced cycles. */
final class TracedSource(inner: IncrementalSource, tr: Tracer) extends IncrementalSource {
  def read(spark: SparkSession, table: String): DataFrame =
    tr.span("sources.read")(inner.read(spark, table))
  override def readIncremental(spark: SparkSession, cfg: TableConfig,
      bookmark: Map[String, String]): DataFrame =
    tr.span("sources.readIncremental")(inner.readIncremental(spark, cfg, bookmark))
}

final class TracedCatalog(inner: CatalogClient, tr: Tracer) extends CatalogClient {
  def tableExists(db: String, table: String): Boolean =
    tr.span("catalog.tableExists")(inner.tableExists(db, table))
  def getTable(db: String, table: String): TableDef =
    tr.span("catalog.getTable")(inner.getTable(db, table))
  def createTable(t: TableDef): Unit = tr.span("catalog.createTable")(inner.createTable(t))
  def updateTable(t: TableDef): Unit = tr.span("catalog.updateTable")(inner.updateTable(t))
  def listTables(db: String): Seq[String] = tr.span("catalog.listTables")(inner.listTables(db))
  def addPartition(db: String, table: String, p: PartitionDef): Unit =
    tr.span("catalog.addPartition")(inner.addPartition(db, table, p))
  def setTableProperties(db: String, table: String, props: Map[String, String]): Unit =
    tr.span("catalog.setTableProperties")(inner.setTableProperties(db, table, props))
  override def grantAllToCreator(db: String, table: String, creatorArn: String): Unit =
    tr.span("catalog.grantAllToCreator")(inner.grantAllToCreator(db, table, creatorArn))
}

/** `get` is the first call `Driver` makes for a table, so its start marks
  * the table's start: the interval from one `get` to the next (or to
  * `commitAll`) is recorded as the table's `Driver.table` span.
  */
final class TracedBookmarks(inner: BookmarkStore, tr: Tracer) extends BookmarkStore {
  private var tableStart: Option[Double] = None
  private def closeTable(at: Double): Unit = synchronized {
    tableStart.foreach(s => tr.mark("Driver.table", s, at)); tableStart = None
  }
  def get(table: String): Map[String, String] = {
    val t = tr.now
    closeTable(t)
    synchronized { tableStart = Some(t) }
    tr.span("state.get")(inner.get(table))
  }
  def stage(table: String, values: Map[String, String]): Unit =
    tr.span("state.stage")(inner.stage(table, values))
  def commitAll(): Unit = {
    closeTable(tr.now)
    tr.span("state.commitAll")(inner.commitAll())
  }
  def commitTable(table: String): Unit = tr.span("state.commitTable")(inner.commitTable(table))
}
