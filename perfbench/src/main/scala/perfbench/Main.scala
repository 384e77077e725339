package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * One client runs the workload's operations as a closed loop (each starts
  * when the previous one ends) for `--seconds`, then the output checks
  * run. The last stdout line is the result JSON: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. The line before it is
  * a report: input properties, session confs, per-operation sample counts
  * and percentiles, and any failure.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = req("workload")
    require(Workload.names.contains(w), s"unknown workload $w; one of ${Workload.names.mkString(", ")}")
    val t = req("trace")
    require(t == "0" || t == "1", "--trace takes 0 or 1")
    Args(w, req("seed").toLong, req("seconds").toInt, t == "1")
  }

  /** Live heap: used heap after a full GC. Spark frees unpersisted and
    * broadcast blocks on its own threads once the GC has found them
    * unreachable, so collect, give those threads a moment, and collect
    * again, until a collection frees less than 1 MB more.
    */
  private def heapMb(): Double = {
    val rt = Runtime.getRuntime
    def used() = { System.gc(); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    var (prev, cur, n) = (Double.MaxValue, used(), 0)
    while (prev - cur > 1.0 && n < 10) {
      Thread.sleep(200)
      prev = cur; cur = used(); n += 1
    }
    cur
  }

  private def codegenMs(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val spark = Session.start(cores)
    val sessionS = System.currentTimeMillis() / 1000.0 - jvmStart
    val code = try run(args, spark, cores, sessionS) finally spark.stop()
    sys.exit(code)
  }

  private def run(args: Args, spark: org.apache.spark.sql.SparkSession, cores: Int,
      sessionS: Double): Int = {
    val w = Workload(args.workload, spark, args.seed, cores)
    val t0 = System.nanoTime()
    w.setup()
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    val heapMbs = ArrayBuffer.empty[Double]

    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val samples = ArrayBuffer.empty[Sample]
    val parts = ArrayBuffer.empty[(String, Double)]
    val facts = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var jitMs = 0L
    var codegenSum = 0.0
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    val jit = ManagementFactory.getCompilationMXBean
    // the loop runs whole patterns of operations until --seconds have
    // passed, so every run measures the same mix of operations however
    // fast the machine is; but it never runs past four times --seconds
    val start = System.nanoTime()
    val (deadline, hardStop) = (start + args.seconds * 1000000000L, start + args.seconds * 4000000000L)
    var i = 0
    while ((System.nanoTime() < deadline || i % w.pattern != 0) && System.nanoTime() < hardStop &&
        errors.isEmpty) {
      val ctx = new OpCtx(tracer)
      val (jit0, (cg0, _)) = (jit.getTotalCompilationTime, codegenMs())
      try {
        tracer match {
          case Some(tr) => tr.traced(w.step(ctx))
          case None => w.step(ctx)
        }
      } catch {
        case e: Throwable =>
          attempted += 1
          errors += s"operation ${i + 1} threw ${e.getClass.getName}: ${e.getMessage}"
      }
      attempted += ctx.samples.size
      samples ++= ctx.samples
      parts ++= ctx.parts
      if (tracer.nonEmpty) {
        jitMs += jit.getTotalCompilationTime - jit0
        val (cg1, mean) = codegenMs()
        codegenSum += (cg1 - cg0) * mean
        ctx.facts.foreach { case (k, v) => facts(k) += v }
      }
      heapMbs += heapMb()
      i += 1
    }
    val failures = errors.toSeq ++ w.stepFailures ++
      (if (errors.isEmpty) w.check() else Nil)
    val failed = math.min(failures.size, math.max(attempted, 1))
    val attemptedN = math.max(attempted, 1)

    def times(kind: String) = samples.filter(_.kind == kind).map(_.seconds).toSeq
    val prim = samples.filter(_.kind == "primary").toSeq
    // untraced runs leave their primary median here; a traced run of the
    // same workload compares its own against them: the tracing overhead
    val untracedLog = new java.io.File(
      sys.props.getOrElse("perfbench.state", Paths.dir("state")), s"${w.name}.untraced")
    val untraced = if (!untracedLog.isFile) Nil
      else scala.io.Source.fromFile(untracedLog).getLines().map(_.trim.toDouble).toSeq

    val report = Report.json(Seq(
      "workload" -> Report.str(w.name),
      "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString,
      "trace" -> (if (args.trace) "1" else "0"),
      "cores" -> cores.toString,
      "closed_loop" -> Report.str("one client; each operation starts when the previous one ends"),
      "primary_op" -> Report.str(w.primary),
      "secondary_op" -> Report.str(w.secondary),
      "inputs" -> Report.json(w.properties.map { case (k, v) => k -> Report.str(v) }),
      "ops" -> Report.json(samples.groupBy(_.label.takeWhile(_ != '.'))
        .toSeq.sortBy(_._1).map { case (k, ss) => k -> Stats.describe(ss.map(_.seconds).toSeq) } ++
        Seq("primary" -> Stats.describe(times("primary")),
          "secondary" -> Stats.describe(times("secondary")))),
      "parts" -> Report.json(parts.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, ps) => k -> Stats.describe(ps.map(_._2).toSeq) }),
      "setup_s" -> Report.num(setupS),
      "setup_phases_s" -> Report.json(("session_start" -> Report.num(sessionS)) +:
        SetupPhases.walls.toSeq.map { case (k, v) => k -> Report.num(v) }),
      "session_confs" -> Report.json(Session.confs(cores).map { case (k, v) => k -> Report.str(v) }),
      "live_heap_mb_per_op" -> heapMbs.map(Report.num).mkString("[", ",", "]"),
      "untraced_runs_for_overhead" -> untraced.size.toString,
      "failures" -> failures.map(Report.str).mkString("[", ",", "]")))
    println(report)

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("ok_frac", 1.0 - failed.toDouble / attemptedN, "frac"),
        ("live_heap_mb", Stats.median(heapMbs.toSeq), "MB"),
        ("rows_per_s", prim.map(_.rows).sum / math.max(prim.map(_.seconds).sum, 1e-9), "1/s"),
        ("primary_s.p50", Stats.median(times("primary")), "s"),
        ("secondary_s.p50", Stats.median(times("secondary")), "s"),
        ("files_per_primary", prim.map(_.files).sum.toDouble / math.max(prim.size, 1), "count"))
      case Some(tr) =>
        tr.link()
        tr.write(s"${sys.props.getOrElse("perfbench.traces", Paths.dir("trace"))}/" +
          s"${w.name}-seed${args.seed}.jsonl")
        val overhead = {
          val (on, off) = (Stats.median(times("primary")), Stats.median(untraced))
          if (on > 0 && off > 0) on / off - 1.0 else 0.0
        }
        Layers.metrics(tr, facts.toMap, cores, jitMs / 1000.0, codegenSum / 1000.0) :+
          (("trace.overhead_frac", overhead, "frac"))
    }
    val correct = failed == 0 && prim.nonEmpty
    if (correct && tracer.isEmpty) {
      untracedLog.getParentFile.mkdirs()
      val w = new java.io.FileWriter(untracedLog, true)
      try w.write(s"${Stats.median(times("primary"))}\n") finally w.close()
    }
    println(Report.json(Seq(
      "correct" -> correct.toString,
      "attempted" -> attemptedN.toString,
      "failed" -> failed.toString,
      "metrics" -> Report.json(metrics.map { case (n, v, u) =>
        n -> Report.json(Seq("value" -> Report.num(v), "unit" -> Report.str(u)))
      }))))
    failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    if (correct) 0 else 1
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Sample count, median, and the tail: the highest percentile with at
    * least ten samples beyond it (none when there are fewer than 11).
    */
  def describe(xs: Seq[Double]): String = {
    val s = xs.sorted; val n = s.size
    val tail =
      if (n < 11) Seq("tail" -> Report.str(s"none: fewer than 11 samples"))
      else Seq("tail_pct" -> Report.num(100.0 * (n - 10) / n),
        "tail_s" -> Report.num(s(n - 11)))
    Report.json(Seq("n" -> n.toString, "p50_s" -> Report.num(median(s)),
      "max_s" -> Report.num(if (n == 0) 0.0 else s.last)) ++ tail)
  }
}

object Report {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def json(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
