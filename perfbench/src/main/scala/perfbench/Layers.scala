package perfbench

/** Per-layer metrics of a traced run, from its spans, its Spark jobs and
  * the facts workloads measured outside the timer. Every figure is per
  * traced operation (an `op.*` span) unless its name says otherwise;
  * layers a workload never calls read 0.
  */
object Layers {

  val catalogMethods: Seq[String] = Seq("tableExists", "getTable", "createTable",
    "updateTable", "addPartition", "setTableProperties")
  val families: Seq[String] = Seq("minhash", "simhash", "srp")

  def metrics(tr: Tracer, facts: Map[String, Double], cores: Int,
      jitS: Double, codegenS: Double): Seq[(String, Double, String)] = {
    val spans = tr.spans.toSeq
    val ops = spans.filter(_.name.startsWith("op."))
    val n = math.max(ops.size, 1).toDouble
    // listener times are whole milliseconds: allow for the rounding
    def within(j: JobRec, s: Span) = j.start >= s.start - 1 && j.start <= s.end + 1
    val jobs = tr.jobs.values.toSeq.filter(j => ops.exists(within(j, _)))
    def named(prefix: String) = spans.filter(_.name.startsWith(prefix))
    def sec(ms: Double) = ms / 1000.0
    def wall(js: Seq[JobRec]) = sec(js.map(j => j.end - j.start).sum)
    def mod(m: String, method: String = "") =
      jobs.filter(j => j.module == m && (method.isEmpty || j.method == method))
    def meanDur(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else sec(ss.map(_.dur).sum / ss.size)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    val tables = named("Driver.table")
    val nt = math.max(tables.size, 1).toDouble
    val children = spans.filter(s => s.name.startsWith("sources.") ||
      s.name.startsWith("catalog.") || s.name.startsWith("state."))
    val tableSelf = tables.map { t =>
      val covered = Intervals.clip(children.map(c => (c.start, c.end)) ++
        jobs.map(j => (j.start, j.end)), t.start, t.end)
      t.dur - Intervals.union(covered)
    }
    val sinkWrite = mod("sinks.PartitionedSink", "write")
    val catalogSpans = named("catalog.")
    val commits = spans.filter(s => s.name == "state.commitAll" || s.name == "state.commitTable")
    val merges = named("operators.IncrementalIndex.merge_call.")
    val mergeN = math.max(facts.getOrElse("merge_calls", 0.0), 1.0)
    val opWall = ops.map(_.dur).sum
    val busy = ops.map(o => Intervals.union(
      Intervals.clip(jobs.map(j => (j.start, j.end)), o.start, o.end))).sum
    // the jobs that read the source table: the schema read, the emptiness
    // probe and the one pass that fills the persisted batch (later jobs
    // read that cache, which Spark also counts as input)
    val scans = jobs.filter(j => j.module.startsWith("sources.") ||
      j.module == "Driver" || j.module == "operators.BatchStats")
    val inRecs = scans.map(_.inRecs).sum.toDouble

    Seq(
      ("sources.read_calls", named("sources.readIncremental").size / n, "count"),
      ("sources.scan_rows", inRecs / n, "count"),
      ("sources.scan_bytes", scans.map(_.inBytes).sum / n, "B"),
      ("sources.useful_row_ratio", ratio(facts.getOrElse("rows_ingested", 0.0), inRecs), "frac"),
      ("Driver.table_s", meanDur(tables), "s"),
      ("Driver.jobs_per_table", jobs.count(j => tables.exists(within(j, _))) / nt, "count"),
      ("Driver.probe_s", wall(mod("Driver")) / nt, "s"),
      ("Driver.self_s", sec(tableSelf.sum) / nt, "s"),
      ("operators.BatchStats.job_s", wall(mod("operators.BatchStats")) / n, "s"),
      ("operators.BatchStats.task_s", sec(mod("operators.BatchStats").map(_.taskMs).sum) / n, "s"),
      ("sinks.PartitionedSink.write_job_s", wall(sinkWrite) / n, "s"),
      ("sinks.PartitionedSink.register_job_s",
        wall(mod("sinks.PartitionedSink", "registerPartitions")) / n, "s"),
      ("sinks.PartitionedSink.files_written",
        facts.getOrElse("sinks.PartitionedSink.files_written", 0.0) / n, "count"),
      ("sinks.PartitionedSink.bytes_written", sinkWrite.map(_.outBytes).sum / n, "B"),
      ("sinks.PartitionedSink.bytes_per_row",
        ratio(sinkWrite.map(_.outBytes).sum.toDouble, sinkWrite.map(_.outRecs).sum.toDouble), "B")
    ) ++ catalogMethods.map(m =>
      (s"catalog.calls.$m", named(s"catalog.$m").size / n, "count")
    ) ++ Seq(
      ("catalog.busy_s", sec(Intervals.union(catalogSpans.map(s => (s.start, s.end)))) / n, "s"),
      ("state.commits", commits.size / n, "count"),
      ("state.commit_s", sec(commits.map(_.dur).sum) / n, "s")
    ) ++ families.map(f =>
      (s"operators.IncrementalIndex.ingest_call_s.$f",
        meanDur(named(s"operators.IncrementalIndex.ingest_call.$f")), "s")
    ) ++ Seq(
      ("operators.IncrementalIndex.probe_call_s.minhash",
        meanDur(named("operators.IncrementalIndex.probe_call.minhash")), "s"),
      ("operators.Dedup.job_s", wall(mod("operators.Dedup")) / n, "s"),
      ("operators.Dedup.task_s", sec(mod("operators.Dedup").map(_.taskMs).sum) / n, "s")
    ) ++ families.map(f =>
      (s"operators.IncrementalIndex.merge_call_s.$f",
        meanDur(named(s"operators.IncrementalIndex.merge_call.$f")), "s")
    ) ++ Seq(
      ("operators.IncrementalIndex.jobs_per_call",
        ratio(jobs.count(j => merges.exists(within(j, _))).toDouble, merges.size.toDouble), "count"),
      ("operators.IncrementalIndex.index_bytes_per_doc",
        facts.getOrElse("operators.IncrementalIndex.index_bytes_per_doc", 0.0) / mergeN, "B"),
      ("operators.IncrementalIndex.versions",
        facts.getOrElse("operators.IncrementalIndex.versions", 0.0) / mergeN, "count"),
      ("sinks.VersionedTable.job_s", wall(mod("sinks.VersionedTable")) / n, "s"),
      ("sinks.VersionedTable.bytes_written", mod("sinks.VersionedTable").map(_.outBytes).sum / n, "B"),
      ("sinks.VersionedTable.files_written",
        facts.getOrElse("sinks.VersionedTable.files_written", 0.0) / n, "count"),
      ("spark.jobs", jobs.size / n, "count"),
      ("spark.stages", jobs.map(_.stages.size).sum / n, "count"),
      ("spark.task_s", sec(jobs.map(_.taskMs).sum) / n, "s"),
      ("spark.executor_cpu_s", jobs.map(_.cpuNs).sum / 1e9 / n, "s"),
      ("spark.gc_s", sec(jobs.map(_.gcMs).sum) / n, "s"),
      ("spark.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum / n, "B"),
      ("spark.shuffle_read_bytes", jobs.map(_.shuffleRead).sum / n, "B"),
      ("spark.spill_bytes", jobs.map(_.spill).sum / n, "B"),
      ("spark.busy_frac", ratio(busy, opWall), "frac"),
      ("spark.core_util", ratio(jobs.map(_.taskMs).sum.toDouble, opWall * cores), "frac"),
      ("jvm.jit_s", jitS / n, "s"),
      ("jvm.codegen_compile_s", codegenS / n, "s"))
  }
}
