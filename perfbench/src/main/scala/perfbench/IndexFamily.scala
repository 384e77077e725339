package perfbench

import graft.operators.{Dedup, IncrementalIndex, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one place the benchmark names the incremental-index entry points.
  * Workloads call a family only through this adapter, so renaming or
  * collapsing the engine's per-family entry points changes this file and
  * nothing else. Every call returns the verified pair frame (a, b) the
  * engine returned, still lazy or persisted as the engine left it.
  */
sealed trait IndexFamily {
  def name: String
  /** The input shape: "docs" or "vectors"; families sharing one read the
    * same generated corpus.
    */
  def input: String
  /** Seeded corpus of `n` rows in this family's input shape. */
  def corpus(spark: SparkSession, n: Long, seed: Long, dupRate: Double): DataFrame
  /** Plain (non-epoch) ingest: how shards and base indexes are built. */
  def ingest(spark: SparkSession, root: String, batch: DataFrame): DataFrame
  def ingestEpoch(spark: SparkSession, root: String, pairsRoot: String,
      batch: DataFrame, epoch: Long): Option[DataFrame]
  def mergeMany(spark: SparkSession, root: String, pairsRoot: String,
      donors: Seq[String], epoch: Long): Option[DataFrame]
  def merge(spark: SparkSession, root: String, pairsRoot: String,
      donor: String, epoch: Long): Option[DataFrame]
  /** The engine's one-shot pipeline over a whole corpus: the oracle the
    * accumulated incremental pairs must equal.
    */
  def oneShot(spark: SparkSession, corpus: DataFrame): DataFrame
  def idCol: String
}

object IndexFamily {

  private val dim = 64

  object MinHash extends IndexFamily {
    val name = "minhash"
    val input = "docs"
    val idCol = "doc_id"
    def corpus(spark: SparkSession, n: Long, seed: Long, dupRate: Double) =
      Gen.docs(spark, n, seed, dupRate)
    def ingest(spark: SparkSession, root: String, batch: DataFrame) =
      IncrementalIndex.ingestMinHash(spark, root, batch, idCol, "text")._2
    def ingestEpoch(spark: SparkSession, root: String, pairsRoot: String,
        batch: DataFrame, epoch: Long) =
      IncrementalIndex.ingestMinHashEpoch(spark, root, pairsRoot, batch, idCol, "text", epoch)
    /** Read-only probe: the pairs an ingest of `batch` would emit. */
    def probe(spark: SparkSession, root: String, batch: DataFrame): DataFrame =
      IncrementalIndex.probeMinHash(spark, root, batch, idCol, "text")
    def mergeMany(spark: SparkSession, root: String, pairsRoot: String,
        donors: Seq[String], epoch: Long) =
      IncrementalIndex.mergeManyMinHashIndexesEpoch(spark, root, pairsRoot, donors, epoch)
        .map(_._2)
    def merge(spark: SparkSession, root: String, pairsRoot: String,
        donor: String, epoch: Long) =
      IncrementalIndex.mergeMinHashIndexesEpoch(spark, root, pairsRoot, donor, epoch)
        .map(_._2)
    def oneShot(spark: SparkSession, corpus: DataFrame) =
      Dedup.minHashLsh(corpus, idCol, "text")
  }

  object SimHash extends IndexFamily {
    val name = "simhash"
    val input = "docs"
    val idCol = "doc_id"
    def corpus(spark: SparkSession, n: Long, seed: Long, dupRate: Double) =
      Gen.docs(spark, n, seed, dupRate)
    def ingest(spark: SparkSession, root: String, batch: DataFrame) =
      IncrementalIndex.ingestSimHash(spark, root, batch, idCol, "text")._2
    def ingestEpoch(spark: SparkSession, root: String, pairsRoot: String,
        batch: DataFrame, epoch: Long) =
      IncrementalIndex.ingestSimHashEpoch(spark, root, pairsRoot, batch, idCol, "text", epoch)
    def mergeMany(spark: SparkSession, root: String, pairsRoot: String,
        donors: Seq[String], epoch: Long) =
      IncrementalIndex.mergeManySimHashIndexesEpoch(spark, root, pairsRoot, donors, epoch)
        .map(_._2)
    def merge(spark: SparkSession, root: String, pairsRoot: String,
        donor: String, epoch: Long) =
      IncrementalIndex.mergeSimHashIndexesEpoch(spark, root, pairsRoot, donor, epoch)
        .map(_._2)
    // the index stores the portable md5 signatures, so its oracle is the
    // portable one-shot (the d58/d66 pairing)
    def oneShot(spark: SparkSession, corpus: DataFrame) =
      Dedup.simHashPairsPortable(corpus, idCol, "text", maxHamming = 3, shingleN = 3)
  }

  /** SRP over embeddings. Geometry is frozen per corpus size with the
    * engine's own provisioning rule, so every shard of one run shares it.
    */
  final case class Srp(corpusSize: Long) extends IndexFamily {
    val name = "srp"
    val input = "vectors"
    val idCol = "vec_id"
    val params: IncrementalIndex.SrpParams = IncrementalIndex.SrpParams(
      dim = dim, bitsPerTable = Similarity.srpBitsFor(corpusSize), bucketCap = 256)
    def corpus(spark: SparkSession, n: Long, seed: Long, dupRate: Double) =
      Gen.vectors(spark, n, seed, dupRate, dim)
    def ingest(spark: SparkSession, root: String, batch: DataFrame) =
      IncrementalIndex.ingestEmbeddings(spark, root, batch, idCol, "v", params)._2
    def ingestEpoch(spark: SparkSession, root: String, pairsRoot: String,
        batch: DataFrame, epoch: Long) =
      IncrementalIndex.ingestEmbeddingsEpoch(spark, root, pairsRoot, batch, idCol, "v", epoch, params)
    def mergeMany(spark: SparkSession, root: String, pairsRoot: String,
        donors: Seq[String], epoch: Long) =
      IncrementalIndex.mergeManySrpIndexesEpoch(spark, root, pairsRoot, donors, epoch, params)
        .map(_._2)
    def merge(spark: SparkSession, root: String, pairsRoot: String,
        donor: String, epoch: Long) =
      IncrementalIndex.mergeSrpIndexesEpoch(spark, root, pairsRoot, donor, epoch, params)
        .map(_._2)
    def oneShot(spark: SparkSession, corpus: DataFrame) =
      Dedup.embeddingNearDupLsh(corpus, idCol, "v", params.threshold, dim,
        numTables = params.numTables, bitsPerTable = params.bitsPerTable,
        seed = params.seed, bucketCap = params.bucketCap)
  }

  /** Writes each distinct input of `families` once and returns every
    * family's corpus, read back from the written parquet (the engine sees
    * generated files, never the generator).
    */
  def corpora(spark: SparkSession, families: Seq[IndexFamily], dir: String,
      docs: Long, seed: Long, dupRate: Double): Map[String, DataFrame] = {
    val byInput = families.groupBy(_.input).map { case (in, fs) =>
      fs.head.corpus(spark, docs, seed, dupRate).write.parquet(s"$dir/$in")
      in -> spark.read.parquet(s"$dir/$in")
    }
    families.map(f => f.name -> byInput(f.input)).toMap
  }

  /** Collects a pair frame as a set of (a, b) with a < b, and releases it. */
  def pairSet(pairs: DataFrame): Set[(Long, Long)] = {
    val s = pairs.select(col("a").cast("long"), col("b").cast("long")).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    pairs.unpersist(blocking = true)
    s
  }
}
