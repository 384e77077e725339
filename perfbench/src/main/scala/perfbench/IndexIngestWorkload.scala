package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** `index_ingest`: a corpus with planted near-dups arrives in epochs.
  * Each epoch's batch is first probed against the grown MinHash index
  * (read-only), then ingested into the MinHash, SimHash and SRP indexes
  * through the exactly-once epoch entry points; the three ingests are
  * timed together as one operation, so a change to any family moves it.
  *
  * A round starts from byte clones of the base indexes built in set-up
  * (the clone is outside the timer) and ingests the same epochs, so every
  * round does the same work. Checks: each probe returns exactly the pairs
  * the following ingest emits, and base pairs plus every epoch's pairs
  * equal the one-shot pairs of the same corpus, computed in set-up.
  */
final class IndexIngestWorkload(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  val name = "index_ingest"
  val primary = "ingest epoch (one batch into the MinHash, SimHash and SRP indexes, pairs materialized)"
  val secondary = "probeMinHash of the next batch against the grown index"
  /** One epoch: the probe, then the ingests. */
  val pattern = 2

  private val dupRate = 0.02
  private val baseDocs = 3000L
  private val epochDocs = 400L
  private val epochs = 4
  private val total = baseDocs + epochDocs * epochs
  private val families: Seq[IndexFamily] =
    Seq(IndexFamily.MinHash, IndexFamily.SimHash, IndexFamily.Srp(total))
  private val base = Paths.dir("ingest")

  private var corpora: Map[String, DataFrame] = Map.empty
  private var basePairs: Map[String, Set[(Long, Long)]] = Map.empty
  private var oneShot: Map[String, Set[(Long, Long)]] = Map.empty
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  private var round = 0
  private var next = 0 // operation index within the round
  private var probed: Set[(Long, Long)] = Set.empty
  private var roundPairs: Map[String, Set[(Long, Long)]] = Map.empty

  private def roundRoot(f: IndexFamily) = s"$base/r$round/${f.name}"
  private def batch(f: IndexFamily, e: Int): DataFrame = {
    val lo = baseDocs + e * epochDocs
    corpora(f.name).filter(col(f.idCol) >= lo && col(f.idCol) < lo + epochDocs)
  }

  def setup(): Unit = {
    corpora = SetupPhases("generate")(
      IndexFamily.corpora(spark, families, s"$base/corpus", total, seed, dupRate))
    // the base indexes and the one-shot oracles: independent, side by side
    val built = SetupPhases("bootstrap_and_one_shot")(Parallel(cores)(families.flatMap { f =>
      Seq(() => ("base", f.name) -> IndexFamily.pairSet(f.ingest(spark, s"$base/base/${f.name}",
          corpora(f.name).filter(col(f.idCol) < baseDocs))),
        () => ("one_shot", f.name) -> IndexFamily.pairSet(f.oneShot(spark, corpora(f.name))))
    })).toMap
    basePairs = families.map(f => f.name -> built(("base", f.name))).toMap
    oneShot = families.map(f => f.name -> built(("one_shot", f.name))).toMap
    newRound()
  }

  private def newRound(): Unit = {
    if (round > 0) Paths.deleteRecursively(s"$base/r$round")
    round += 1
    next = 0
    roundPairs = basePairs
    families.foreach(f => Paths.copyTree(s"$base/base/${f.name}", roundRoot(f)))
  }

  /** One operation: per epoch, the MinHash probe, then the epoch's
    * ingests into every family.
    */
  def step(ctx: OpCtx): Unit = {
    if (next >= epochs * pattern) newRound()
    val e = next / pattern
    val probe = next % pattern == 0
    next += 1
    val mh = IndexFamily.MinHash
    if (probe) {
      probed = ctx.time("secondary", s"probe.e$e", epochDocs) {
        IndexFamily.pairSet(ctx.span("operators.IncrementalIndex.probe_call.minhash")(
          mh.probe(spark, roundRoot(mh), batch(mh, e))))
      }
    } else {
      val filesBefore = families.map(f => Paths.fileCount(roundRoot(f))).sum
      val pairs = ctx.time("primary", s"epoch.e$e", epochDocs * families.size) {
        families.map(f => f -> ctx.part(f.name)(
          ctx.span(s"operators.IncrementalIndex.ingest_call.${f.name}")(
            f.ingestEpoch(spark, roundRoot(f), s"${roundRoot(f)}-pairs", batch(f, e), e + 1L))
            .map(IndexFamily.pairSet)))
      }
      val files = families.map(f => Paths.fileCount(roundRoot(f))).sum - filesBefore
      ctx.filesOfLast(files)
      ctx.fact("sinks.VersionedTable.files_written", files.toDouble)
      pairs.foreach {
        case (f, None) => failures += s"${f.name} epoch ${e + 1} of round $round was taken for a replay"
        case (f, Some(p)) =>
          if (f == mh && p != probed)
            failures += s"probe of epoch ${e + 1} returned ${probed.size} pairs, the ingest ${p.size}"
          roundPairs += f.name -> (roundPairs(f.name) ++ p)
      }
    }
  }

  def stepFailures: Seq[String] = failures.toSeq

  /** Accumulated pairs of the current round against the one-shot pairs
    * restricted to the docs each family has ingested so far (a pair is a
    * property of its two docs, so the restriction is the one-shot result
    * over that prefix of the corpus).
    */
  def check(): Seq[String] = families.flatMap { f =>
    val done = next / pattern
    val limit = baseDocs + done * epochDocs
    val want = oneShot(f.name).filter { case (a, b) => a < limit && b < limit }
    val got = roundPairs(f.name)
    if (got == want) None
    else Some(s"${f.name}: accumulated pairs after $done epochs differ from one-shot: " +
      s"${(got -- want).size} extra, ${(want -- got).size} missing of ${want.size}")
  }

  def properties: Seq[(String, String)] = Seq(
    "families" -> families.map(_.name).mkString(","),
    "corpus_docs" -> total.toString,
    "base_docs" -> baseDocs.toString,
    "epoch_docs" -> epochDocs.toString,
    "epochs_per_round" -> epochs.toString,
    "dup_rate_planted" -> dupRate.toString,
    "one_shot_pairs" -> families.map(f => s"${f.name}=${oneShot(f.name).size}").mkString(" "),
    "srp_bits_per_table" -> families.collectFirst { case s: IndexFamily.Srp => s.params.bitsPerTable.toString }.get,
    "rounds_run" -> round.toString)
}
