package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

/** `index_merge`: four shards per family (hash-split ids of one corpus)
  * are bootstrapped in set-up. An operation merges, for MinHash, SimHash
  * and SRP, into a fresh byte clone of each family's shard 0, made outside
  * the timer: an N-way merge of the three other shards, or a binary merge
  * of shard 1, through the exactly-once epoch entry points. The three
  * merges are timed together, so a change to any family moves the
  * operation.
  *
  * Checks: shard pairs plus the merge's cross pairs equal the one-shot
  * pairs over the merged shards, computed in set-up.
  */
final class IndexMergeWorkload(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  val name = "index_merge"
  val primary = "N-way merge of 3 donor shards into a clone of shard 0, per family (pairs materialized)"
  val secondary = "binary merge of shard 1 into a clone of shard 0, per family (pairs materialized)"

  private val dupRate = 0.02
  private val shards = 4
  private val docs = 2000L
  private val families: Seq[IndexFamily] =
    Seq(IndexFamily.MinHash, IndexFamily.SimHash, IndexFamily.Srp(docs))
  private val base = Paths.dir("merge")

  private var shardDocs: Map[(String, Int), Long] = Map.empty
  private var shardPairs: Map[(String, Int), Set[(Long, Long)]] = Map.empty
  private var oneShot: Map[String, Set[(Long, Long)]] = Map.empty
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private var next = 0
  private var checked = 0

  private def shardRoot(f: IndexFamily, i: Int) = s"$base/shards/${f.name}/s$i"
  private def shardOf(id: Long): Int = (id % shards).toInt

  /** Generates the corpus, then bootstraps every shard of every family
    * and computes the one-shot oracles, side by side.
    */
  def setup(): Unit = {
    val corpora = SetupPhases("generate")(
      IndexFamily.corpora(spark, families, s"$base/corpus", docs, seed, dupRate))
    val tasks = families.flatMap { f =>
      val corpus = corpora(f.name)
      (0 until shards).map { i => () =>
        val part = corpus.filter(pmod(col(f.idCol), lit(shards)) === i)
        (f.name, i) -> IndexFamily.pairSet(f.ingest(spark, shardRoot(f, i), part))
      } :+ (() => (f.name, -1) -> IndexFamily.pairSet(f.oneShot(spark, corpus)))
    }
    val built = SetupPhases("bootstrap_and_one_shot")(Parallel(cores)(tasks)).toMap
    shardPairs = built.filter(_._1._2 >= 0)
    oneShot = families.map(f => f.name -> built((f.name, -1))).toMap
    shardDocs = families.flatMap(f => (0 until shards).map(i =>
      (f.name, i) -> corpora(f.name).filter(pmod(col(f.idCol), lit(shards)) === i).count())).toMap
  }

  /** An N-way merge, then a binary merge, each of every family. */
  val pattern = 2

  def step(ctx: OpCtx): Unit = {
    val nway = next % pattern == 0
    val dir = s"$base/op$next"
    next += 1
    val kind = if (nway) "nway" else "binary"
    val donors = if (nway) (1 until shards) else Seq(1)
    def root(f: IndexFamily) = s"$dir/${f.name}"
    def donorDocs(f: IndexFamily) = donors.map(i => shardDocs((f.name, i))).sum
    families.foreach(f => Paths.copyTree(shardRoot(f, 0), root(f)))
    val filesBefore = families.map(f => Paths.fileCount(root(f))).sum
    val cross = ctx.time(if (nway) "primary" else "secondary", kind, families.map(donorDocs).sum) {
      families.map(f => f -> ctx.part(s"${f.name}.$kind")(
        ctx.span(s"operators.IncrementalIndex.merge_call.${f.name}") {
          if (nway) f.mergeMany(spark, root(f), s"${root(f)}-pairs", donors.map(shardRoot(f, _)), 1L)
          else f.merge(spark, root(f), s"${root(f)}-pairs", shardRoot(f, 1), 1L)
        }.map(IndexFamily.pairSet)))
    }
    val files = families.map(f => Paths.fileCount(root(f))).sum - filesBefore
    ctx.filesOfLast(files)
    ctx.fact("sinks.VersionedTable.files_written", files.toDouble)
    if (ctx.tracer.nonEmpty) families.foreach { f =>
      val merged = shardDocs((f.name, 0)) + donorDocs(f)
      ctx.fact("operators.IncrementalIndex.index_bytes_per_doc", Paths.fileBytes(root(f)).toDouble / merged)
      ctx.fact("operators.IncrementalIndex.versions",
        graft.sinks.VersionedTable.versions(spark, root(f)).size.toDouble)
      ctx.fact("merge_calls", 1)
    }
    cross.foreach {
      case (f, None) => failures += s"${f.name}.$kind merge was taken for a replay"
      case (f, Some(x)) =>
        val members = (0 +: donors).toSet
        val got = members.toSeq.flatMap(i => shardPairs((f.name, i))).toSet ++ x
        val want = oneShot(f.name).filter { case (a, b) =>
          members(shardOf(a)) && members(shardOf(b)) }
        if (got != want)
          failures += s"${f.name}.$kind: shard pairs + cross pairs differ from one-shot: " +
            s"${(got -- want).size} extra, ${(want -- got).size} missing of ${want.size}"
        checked += 1
    }
    Paths.deleteRecursively(dir)
  }

  def stepFailures: Seq[String] = failures.toSeq

  def check(): Seq[String] =
    if (checked == 0) Seq("no merge completed; merged pairs were not checked") else Nil

  def properties: Seq[(String, String)] = Seq(
    "families" -> families.map(_.name).mkString(","),
    "corpus_docs" -> docs.toString,
    "shards" -> s"$shards per family (id mod $shards)",
    "shard_docs" -> (0 until shards).map(i => shardDocs((families.head.name, i))).mkString(","),
    "dup_rate_planted" -> dupRate.toString,
    "one_shot_pairs" -> families.map(f => s"${f.name}=${oneShot(f.name).size}").mkString(" "),
    "cross_shard_pairs" -> families.map { f =>
      s"${f.name}=${oneShot(f.name).count { case (a, b) => shardOf(a) != shardOf(b) }}"
    }.mkString(" "))
}
