package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.{SortOrder, TableConfig}
import graft.operators.{Bookmarks, Dedup, IncrementalIndex, Ivf}
import graft.sinks.VersionedTable

/** Incremental dedup/ANN index maintenance: per-batch ingests into a
  * persisted versioned signature index accumulate EXACTLY the one-shot
  * result, per-ingest pair sets are disjoint (no index×index recompute),
  * and the ingest boundary composes with the reference's bookmark spine
  * (Bookmarks.filterNew defines the batch).
  */
class IncrementalIndexSpec extends SparkSpec {

  /** Small near-dup corpus: originals ∪ first-token-dropped mutants (the
    * registry's nearDupCorpus shape) over the sf0.001 documents.
    */
  private lazy val corpus: DataFrame = {
    val docs = spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))
    val mutant = expr(
      "CASE WHEN instr(text, ' ') > 0 THEN substring(text, instr(text, ' ') + 1) ELSE text END")
    docs.union(docs.select((col("doc_id") + 100000).as("doc_id"), mutant.as("text")))
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("a").cast("long"), col("b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("two-batch incremental minhash ingest equals one-shot dedup; batch pair sets disjoint") {
    val root = tmpDir("incr_minhash_eq")
    val r = pmod(col("doc_id") % 100000, lit(3))
    val isMut = col("doc_id") >= 100000
    val b1 = corpus.filter((!isMut && r < 2) || (isMut && r === 0))
    val b2 = corpus.filter((!isMut && r === 2) || (isMut && r > 0))
    val (v1, p1) = IncrementalIndex.ingestMinHash(spark, root, b1, "doc_id", "text")
    val (v2, p2) = IncrementalIndex.ingestMinHash(spark, root, b2, "doc_id", "text")
    assert(v1 == 1L && v2 == 2L)
    val oneShot = Dedup.minHashLsh(corpus, "doc_id", "text",
      numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8)
    val s1 = pairSet(p1); val s2 = pairSet(p2)
    assert(s1.intersect(s2).isEmpty, "per-ingest pair sets must be disjoint")
    assert(s1.union(s2) == pairSet(oneShot),
      "accumulated incremental pairs must equal the one-shot pair list")
    // the split genuinely exercises all three pair placements
    val inB1 = b1.select("doc_id").collect().map(_.getLong(0)).toSet
    def cross(p: (Long, Long)) = inB1.contains(p._1) != inB1.contains(p._2)
    assert(s1.nonEmpty && s2.exists(cross) && s2.exists(!cross(_)),
      "expected intra-batch-1, cross-batch, and intra-batch-2 pairs")
    oneShot.unpersist(); p1.unpersist(); p2.unpersist()
  }

  test("empty batch commits a version and emits no pairs; index union-read sees every batch") {
    val root = tmpDir("incr_minhash_empty")
    val b1 = corpus.filter(col("doc_id") % 2 === 0)
    val (v1, p1) = IncrementalIndex.ingestMinHash(spark, root, b1, "doc_id", "text")
    val (v2, p2) = IncrementalIndex.ingestMinHash(spark, root,
      corpus.filter(lit(false)), "doc_id", "text")
    assert(v1 == 1L && v2 == 2L)
    assert(p2.count() == 0)
    val indexed = IncrementalIndex.readMinHashIndex(spark, root).count()
    assert(indexed == b1.count(), "index must hold exactly the ingested rows")
    // a version pin time-travels the index to the batch boundary
    assert(IncrementalIndex.readMinHashIndex(spark, root, upTo = Some(1L)).count() == indexed)
    p1.unpersist(); p2.unpersist()
  }

  test("ingest composes with the bookmark spine: filterNew defines the batch") {
    val root = tmpDir("incr_minhash_bookmark")
    val cfg = TableConfig("documents", Seq("doc_id"), SortOrder.Asc)
    // snapshot 1 of the source: an append-ordered PREFIX in the bookmark
    // key (originals only; mutants arrive later at higher ids)
    val snap1 = corpus.filter(col("doc_id") < 250)
    val (_, p1) = IncrementalIndex.ingestMinHash(spark, root, snap1, "doc_id", "text")
    // snapshot 2 appends the rest; the bookmark predicate isolates the
    // delta exactly as Driver.runTable would — max ingested doc_id
    val bookmark = Map("doc_id" -> snap1.agg(max("doc_id")).head().getLong(0).toString)
    val delta = Bookmarks.filterNew(corpus, cfg, bookmark)
    assert(delta.count() == corpus.count() - snap1.count(),
      "bookmark must isolate exactly the unseen rows")
    val (_, p2) = IncrementalIndex.ingestMinHash(spark, root, delta, "doc_id", "text")
    val oneShot = Dedup.minHashLsh(corpus, "doc_id", "text",
      numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8)
    assert(pairSet(p1).union(pairSet(p2)) == pairSet(oneShot))
    oneShot.unpersist(); p1.unpersist(); p2.unpersist()
  }

  test("engaged bucket caps: incremental ingest keeps mega-clique connectivity") {
    import spark.implicits._
    val root = tmpDir("incr_cap")
    // a 12-member identical-text mega-clique (every band-bucket over cap
    // 4) split across two ingests, plus unrelated filler docs
    val boiler = (0L until 12L).map(i =>
      (i, "terms of service apply to all content provided herein always"))
    val filler = (100L until 160L).map(i =>
      (i, s"unique document $i carrying words w${i * 7} w${i * 13} w${i * 29} w${i * 31}"))
    val docs = (boiler ++ filler).toDF("doc_id", "text")
    val p = IncrementalIndex.MinHashParams(bucketCap = 4)
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    val (_, p1) = IncrementalIndex.ingestMinHash(spark, root, b1, "doc_id", "text", p)
    val (_, p2) = IncrementalIndex.ingestMinHash(spark, root, b2, "doc_id", "text", p)
    val pairs = pairSet(p1).union(pairSet(p2))
    // only clique pairs survive exact verification
    assert(pairs.forall { case (a, b) => a < 12 && b < 12 }, pairs)
    // the rank-chunk cap may drop far-apart clique pairs; the preserved
    // invariant is CONNECTIVITY — one component spanning all 12 members
    val parent = scala.collection.mutable.Map((0L until 12L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((0L until 12L).map(find).toSet.size == 1,
      s"mega-clique must stay one component, got $pairs")
    p1.unpersist(); p2.unpersist()
  }

  test("incremental SRP embedding ingest equals one-shot embeddingNearDupLsh") {
    val root = tmpDir("incr_srp")
    val embs = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val mut = embs.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(v, (x, i) -> IF(i = 0, x + 0.01D, x))").as("v"))
    val corpus = embs.union(mut)
    val p = IncrementalIndex.SrpParams(dim = 64, bitsPerTable = 8, bucketCap = 256)
    val b1 = corpus.filter(pmod(col("vec_id") % 100000, lit(3)) < 2)
    val b2 = corpus.filter(pmod(col("vec_id") % 100000, lit(3)) === 2)
    val (v1, p1) = IncrementalIndex.ingestEmbeddings(spark, root, b1, "vec_id", "v", p)
    val (v2, p2) = IncrementalIndex.ingestEmbeddings(spark, root, b2, "vec_id", "v", p)
    assert(v1 == 1L && v2 == 2L)
    val oneShot = Dedup.embeddingNearDupLsh(corpus, "vec_id", "v",
      threshold = 0.99, dim = 64, bitsPerTable = 8, bucketCap = 256)
    val s1 = pairSet(p1); val s2 = pairSet(p2)
    assert(s1.intersect(s2).isEmpty)
    assert(s1.union(s2) == pairSet(oneShot))
    assert(s1.nonEmpty && s2.nonEmpty)
    oneShot.unpersist(); p1.unpersist(); p2.unpersist()
  }

  test("SRP epoch ingest: replays drop, pairs never double-append, accumulation exact") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir("incr_srp_epoch")
    val pairsRoot = tmpDir("incr_srp_epoch_pairs")
    val embs = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val mut = embs.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(v, (x, i) -> IF(i = 0, x + 0.01D, x))").as("v"))
    val corpus = embs.union(mut)
    val p = IncrementalIndex.SrpParams(dim = 64, bitsPerTable = 8, bucketCap = 256)
    val b = Seq(corpus.filter(pmod(col("vec_id") % 100000, lit(2)) === 0),
      corpus.filter(pmod(col("vec_id") % 100000, lit(2)) === 1))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p0 = IncrementalIndex.ingestEmbeddingsEpoch(
      spark, root, pairsRoot, b(0), "vec_id", "v", 0L, p)
    assert(p0.nonEmpty); p0.foreach(_.unpersist(blocking = false))
    assert(IncrementalIndex.ingestEmbeddingsEpoch(
      spark, root, pairsRoot, b(0), "vec_id", "v", 0L, p).isEmpty,
      "full replay must drop")
    // pairs-committed-signatures-not crash window
    val p1 = IncrementalIndex.ingestEmbeddingsEpoch(
      spark, root, pairsRoot, b(1), "vec_id", "v", 1L, p)
    assert(p1.nonEmpty); p1.foreach(_.unpersist(blocking = false))
    fs.delete(new Path(root, graft.sinks.VersionedTable.dirName(2L)), true)
    val out = fs.create(new Path(root, "_epoch-hwm"), true)
    try out.write("0".getBytes("UTF-8")) finally out.close()
    val p1r = IncrementalIndex.ingestEmbeddingsEpoch(
      spark, root, pairsRoot, b(1), "vec_id", "v", 1L, p)
    assert(p1r.nonEmpty); p1r.foreach(_.unpersist(blocking = false))
    assert(VersionedTable.versions(spark, pairsRoot) == Seq(1L, 2L),
      "the replay must not double-append pairs")
    val oneShot = Dedup.embeddingNearDupLsh(corpus, "vec_id", "v",
      threshold = 0.99, dim = 64, bitsPerTable = 8, bucketCap = 256)
    assert(pairSet(VersionedTable.readAllVersions(spark, pairsRoot)) == pairSet(oneShot))
    assert(IncrementalIndex.readSrpIndex(spark, root).count() == corpus.count(),
      "every vector signed exactly once across commits and replays")
    oneShot.unpersist()
  }

  test("incremental SemDeDup verdicts equal the one-shot exact rule; batch-1 verdicts stable") {
    val root = tmpDir("incr_sem")
    val embs = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val mut = embs.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(v, (x, i) -> IF(i = 0, x + 0.01D, x))").as("v"))
    val corpus = embs.union(mut)
    val cents = embs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    val split = embs.count() / 2
    val b1 = corpus.filter(col("vec_id") < split)
    val b2 = corpus.filter(col("vec_id") >= split)
    val r1 = IncrementalIndex.bootstrapSemDedup(
      spark, root, b1, "vec_id", "v", cents, threshold = 0.99, cap = 2048)
    val r2 = IncrementalIndex.ingestSemDedup(
      spark, root, b2, "vec_id", "v", threshold = 0.99, cap = 2048)
    val (k1, k2) = (r1.verdicts, r2.verdicts)
    // append-ordered batches: no pair's greater id was already indexed
    assert(r1.outOfOrderPairs == 0 && r2.outOfOrderPairs == 0)
    def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Boolean)] =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val incr = verdicts(k1.select("id", "cid", "kept")) ++
      verdicts(k2.select("id", "cid", "kept"))
    // one-shot EXACT rule (cap never engages at this size): dropped iff
    // any lower-id same-cell member within threshold
    val assigned = Dedup.assignCells(corpus, "vec_id", "v", cents)
      .join(corpus.select(col("vec_id").as("id"), col("v")), "id")
    val dropped = assigned.as("l").join(assigned.as("r"),
        col("l.cid") === col("r.cid") && col("l.id") < col("r.id"))
      .filter(Dedup.cosine(col("l.v"), col("r.v")) >= 0.99)
      .select(col("r.id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val oneShot = assigned.select("id", "cid").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), !dropped.contains(r.getLong(0)))).toMap
    assert(incr == oneShot)
    // every batch-1 verdict was final at ingest time (append-ordered ids)
    val k1Only = verdicts(k1.select("id", "cid", "kept"))
    assert(k1Only.forall { case (id, v) => oneShot(id) == v })
    k1.unpersist(); k2.unpersist()
  }

  test("over-limit batches take the shuffle fallback and emit identical pairs") {
    // broadcastRowLimit = 0 forces every ingest (bootstrap AND probe) down
    // the no-hint shuffle path — the route a corpus-sized backfill takes
    // at 100 TB where the broadcast ceiling would kill the hinted plan.
    // Pair lists must match the broadcast path exactly, batch by batch.
    val rootB = tmpDir("incr_fallback_bcast")
    val rootS = tmpDir("incr_fallback_shuffle")
    val b1 = corpus.filter(pmod(col("doc_id") % 100000, lit(3)) < 2)
    val b2 = corpus.filter(pmod(col("doc_id") % 100000, lit(3)) === 2)
    val pb = IncrementalIndex.MinHashParams()
    val psh = IncrementalIndex.MinHashParams(broadcastRowLimit = 0L)
    val (_, pb1) = IncrementalIndex.ingestMinHash(spark, rootB, b1, "doc_id", "text", pb)
    val (_, pb2) = IncrementalIndex.ingestMinHash(spark, rootB, b2, "doc_id", "text", pb)
    val (_, ps1) = IncrementalIndex.ingestMinHash(spark, rootS, b1, "doc_id", "text", psh)
    val (_, ps2) = IncrementalIndex.ingestMinHash(spark, rootS, b2, "doc_id", "text", psh)
    assert(pairSet(ps1) == pairSet(pb1), "bootstrap batch: fallback pairs must match")
    assert(pairSet(ps2) == pairSet(pb2), "probe batch: fallback pairs must match")
    Seq(pb1, pb2, ps1, ps2).foreach(_.unpersist())
    // SRP side: same gate, same equality
    val embs = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val mut = embs.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(v, (x, i) -> IF(i = 0, x + 0.01D, x))").as("v"))
    val ec = embs.union(mut)
    val e1 = ec.filter(col("vec_id") % 100000 < 200)
    val e2 = ec.filter(col("vec_id") % 100000 >= 200)
    val srpB = IncrementalIndex.SrpParams(dim = 64, bitsPerTable = 8, bucketCap = 256)
    val srpS = srpB.copy(broadcastRowLimit = 0L)
    val rootEB = tmpDir("incr_fallback_srp_b")
    val rootES = tmpDir("incr_fallback_srp_s")
    val (_, eb1) = IncrementalIndex.ingestEmbeddings(spark, rootEB, e1, "vec_id", "v", srpB)
    val (_, eb2) = IncrementalIndex.ingestEmbeddings(spark, rootEB, e2, "vec_id", "v", srpB)
    val (_, es1) = IncrementalIndex.ingestEmbeddings(spark, rootES, e1, "vec_id", "v", srpS)
    val (_, es2) = IncrementalIndex.ingestEmbeddings(spark, rootES, e2, "vec_id", "v", srpS)
    assert(pairSet(es1) == pairSet(eb1) && pairSet(es2) == pairSet(eb2))
    assert(pairSet(eb1).nonEmpty && pairSet(eb2).nonEmpty)
    Seq(eb1, eb2, es1, es2).foreach(_.unpersist())
    // shard merges, binary and N-way, of every banded family: the same
    // limit drops both the candidate and the verify-side broadcasts. The
    // size-based auto-broadcast is off for the fallback runs, so any
    // broadcast left in the verified frame's cached plan is an ungated hint.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def shards(prefix: String, ingest: (String, DataFrame) => Unit,
        parts: Seq[DataFrame]): Seq[String] = parts.zipWithIndex.map { case (b, i) =>
      val rt = tmpDir(s"${prefix}_s$i"); ingest(rt, b); rt
    }
    def checkMerges(family: String, shardRoots: Seq[String],
        merge: (String, Seq[String], Long) => DataFrame): Unit =
      for (donors <- Seq(shardRoots.slice(1, 2), shardRoots.drop(1))) {
        def run(limit: Long): DataFrame = {
          val adopter = tmpDir(s"incr_fallback_${family}_adopter")
          org.apache.commons.io.FileUtils.copyDirectory(
            new java.io.File(shardRoots.head), new java.io.File(adopter))
          merge(adopter, donors, limit)
        }
        val viaBroadcast = run(IncrementalIndex.DefaultBroadcastRowLimit)
        val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold")
        confs.foreach(spark.conf.set(_, "-1"))
        val viaShuffle = try run(0L) finally confs.foreach(spark.conf.unset)
        val what = s"$family merge of ${donors.size} donor(s)"
        assert(pairSet(viaShuffle) == pairSet(viaBroadcast) && pairSet(viaBroadcast).nonEmpty,
          s"$what: fallback pairs must match")
        val broadcasts = planNodes(viaShuffle.queryExecution.executedPlan)
          .collect { case b: BroadcastExchangeExec => b }
        assert(broadcasts.isEmpty, s"$what broadcasts over the limit: $broadcasts")
        Seq(viaBroadcast, viaShuffle).foreach(_.unpersist())
      }
    val byShard = (0 to 2).map(i => corpus.filter(pmod(col("doc_id"), lit(3)) === i))
    checkMerges("minhash",
      shards("incr_fallback_mh", (rt, b) =>
        IncrementalIndex.ingestMinHash(spark, rt, b, "doc_id", "text")._2.unpersist(), byShard),
      (rt, donors, limit) => {
        val p = IncrementalIndex.MinHashParams(broadcastRowLimit = limit)
        if (donors.size == 1) IncrementalIndex.mergeMinHashIndexes(spark, rt, donors.head, p)._2
        else IncrementalIndex.mergeManyMinHashIndexes(spark, rt, donors, p)._2
      })
    checkMerges("simhash",
      shards("incr_fallback_sim", (rt, b) =>
        IncrementalIndex.ingestSimHash(spark, rt, b, "doc_id", "text")._2.unpersist(), byShard),
      (rt, donors, limit) => {
        if (donors.size == 1)
          IncrementalIndex.mergeSimHashIndexes(spark, rt, donors.head, broadcastRowLimit = limit)._2
        else IncrementalIndex.mergeManySimHashIndexes(spark, rt, donors, broadcastRowLimit = limit)._2
      })
    checkMerges("srp",
      shards("incr_fallback_srp", (rt, b) =>
        IncrementalIndex.ingestEmbeddings(spark, rt, b, "vec_id", "v", srpB)._2.unpersist(),
        (0 to 2).map(i => ec.filter(pmod(col("vec_id"), lit(3)) === i))),
      (rt, donors, limit) => {
        val p = srpB.copy(broadcastRowLimit = limit)
        if (donors.size == 1) IncrementalIndex.mergeSrpIndexes(spark, rt, donors.head, p)._2
        else IncrementalIndex.mergeManySrpIndexes(spark, rt, donors, p)._2
      })
  }

  test("out-of-order SemDeDup arrival is counted, never flips an indexed verdict") {
    import spark.implicits._
    val root = tmpDir("incr_sem_ooo")
    // two identical vectors; the HIGHER id (20) arrives first. The later
    // lower-id batch (10) produces a verified pair whose greater id (20)
    // is already indexed — the drop-20 verdict is history and must not
    // flip; the ignored pair must be COUNTED.
    def vec(s: Double) = Array.tabulate(8)(i => if (i == 0) s else 1.0)
    val cents = Seq((0L, vec(1.0).toSeq)).toDF("cid", "cvec")
    val bHigh = Seq((20L, vec(1.0).toSeq)).toDF("vec_id", "v")
    val bLow = Seq((10L, vec(1.0).toSeq)).toDF("vec_id", "v")
    val r1 = IncrementalIndex.bootstrapSemDedup(
      spark, root, bHigh, "vec_id", "v", cents, threshold = 0.99)
    assert(r1.outOfOrderPairs == 0)
    assert(r1.verdicts.collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet ==
      Set((20L, true)))
    val r2 = IncrementalIndex.ingestSemDedup(
      spark, root, bLow, "vec_id", "v", threshold = 0.99)
    // the (10, 20) pair verifies but 20 is indexed: ignored AND counted
    assert(r2.outOfOrderPairs == 1L, s"expected 1 ignored pair, got ${r2.outOfOrderPairs}")
    assert(r2.verdicts.collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet ==
      Set((10L, true)), "the lower id keeps; history is not rewritten")
    r1.verdicts.unpersist(); r2.verdicts.unpersist()
  }

  test("incremental PQ codes equal one-shot under frozen books; indexed search matches") {
    import graft.operators.Pq
    val root = tmpDir("incr_pq")
    val embs = spark.read.parquet(sf("embeddings"))
    val b1 = embs.filter(col("vec_id") % 2 === 0)
    val b2 = embs.filter(col("vec_id") % 2 === 1)
    IncrementalIndex.bootstrapPq(spark, root, b1, "vec_id", "embedding", dim = 64)
    IncrementalIndex.ingestPq(spark, root, b2, "vec_id", "embedding")
    val (dim, m, ksub, books) = IncrementalIndex.readPqCodebooks(spark, root)
    assert((dim, m, ksub) == (64, 8, 16) && books.size == m * ksub * (dim / m))
    // accumulated codes are bit-equal to a one-shot encode of the union
    val incr = IncrementalIndex.readPqCodes(spark, root)
    assert(incr.count() == embs.count())
    val oneShot = embs.select(col("vec_id").as("id"),
      Pq.encode(col("embedding"), books, m, ksub, dim / m).as("codes1"))
    assert(incr.join(oneShot, "id").filter(col("codes") =!= col("codes1")).count() == 0)
    // full-re-rank search over the persisted index == the same search
    // over freshly-encoded codes (nothing re-encodes the corpus)
    val queries = embs.filter(col("vec_id") < 4)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaIndex = IncrementalIndex.pqTopKIndexed(spark, root, embs, queries,
      "vec_id", "embedding", k = 5, candidates = 1 << 30)
    val direct = Pq.topK(embs, queries, "vec_id", "embedding", k = 5,
      books, m, ksub, dim / m, candidates = 1 << 30)
    assert(ranks(viaIndex) == ranks(direct) && ranks(direct).nonEmpty)
    // code-log compaction is invisible to search
    IncrementalIndex.compactPqIndex(spark, root)
    assert(VersionedTable.versions(spark, s"$root/codes") == Seq(3L))
    val afterCompact = IncrementalIndex.pqTopKIndexed(spark, root, embs, queries,
      "vec_id", "embedding", k = 5, candidates = 1 << 30)
    assert(ranks(afterCompact) == ranks(direct))
  }

  test("index compaction: later ingests see the same index; accumulated pairs preserved") {
    val r = pmod(col("doc_id") % 100000, lit(3))
    val b = (0 to 2).map(i => corpus.filter(r === i))
    val root = tmpDir("incr_compact")
    val twin = tmpDir("incr_compact_twin")
    def ingest(rt: String, batch: DataFrame) =
      IncrementalIndex.ingestMinHash(spark, rt, batch, "doc_id", "text")._2
    val (p1, p2) = (ingest(root, b(0)), ingest(root, b(1)))
    val (t1, t2) = (ingest(twin, b(0)), ingest(twin, b(1)))
    // compact one root; the twin keeps its raw delta log
    IncrementalIndex.compactDedupIndex(spark, root)
    assert(VersionedTable.versions(spark, root) == Seq(3L),
      "covered signature deltas reclaimed, one checkpoint version")
    assert(IncrementalIndex.readMinHashIndex(spark, root).count() ==
      b(0).count() + b(1).count())
    // a post-compaction ingest probes the checkpointed index + stats and
    // must add exactly the pairs the uncompacted twin adds
    val p3 = ingest(root, b(2))
    val t3 = ingest(twin, b(2))
    assert(pairSet(p3) == pairSet(t3),
      "post-compaction ingest must be blind to the compaction")
    val oneShot = Dedup.minHashLsh(corpus, "doc_id", "text",
      numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8)
    assert(pairSet(p1) ++ pairSet(p2) ++ pairSet(p3) == pairSet(oneShot))
    // compacting again (checkpoint-of-checkpoint) stays read-equivalent
    IncrementalIndex.compactDedupIndex(spark, root)
    assert(IncrementalIndex.readMinHashIndex(spark, root).count() == corpus.count())
    Seq(p1, p2, p3, t1, t2, t3, oneShot).foreach(_.unpersist())
  }

  test("auto-compact policy bounds the version log; accumulation and epoch replays unaffected") {
    val root = tmpDir("incr_autocompact")
    val pairsRoot = tmpDir("incr_autocompact_pairs")
    val p = IncrementalIndex.MinHashParams(autoCompactEvery = 4)
    val r = pmod(col("doc_id") % 100000, lit(6))
    val pairs = (0 to 5).map { i =>
      val out = IncrementalIndex.ingestMinHashEpoch(spark, root, pairsRoot,
        corpus.filter(r === i), "doc_id", "text", i.toLong, p)
      assert(out.nonEmpty)
      // the trigger keeps the version count bounded by the threshold
      assert(VersionedTable.versions(spark, root).size <= 4,
        s"after ingest $i: ${VersionedTable.versions(spark, root)}")
      out.get
    }
    // the policy fired at least once (6 ingests, threshold 4) and the
    // epoch guard survives it: a replay of the LAST epoch still drops
    // even though its marker version may have been compacted away
    assert(VersionedTable.versions(spark, root).size < 6)
    assert(IncrementalIndex.ingestMinHashEpoch(spark, root, pairsRoot,
      corpus.filter(r === 5), "doc_id", "text", 5L, p).isEmpty,
      "post-auto-compact replay must still drop (hwm witness)")
    // accumulation is invisible to the policy: pairs equal the one-shot
    val oneShot = Dedup.minHashLsh(corpus, "doc_id", "text",
      numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8)
    assert(pairs.map(pairSet).reduce(_ ++ _) == pairSet(oneShot))
    assert(IncrementalIndex.readMinHashIndex(spark, root).count() == corpus.count())
    // disabled policy never fires; a sub-threshold count never fires
    assert(!IncrementalIndex.autoCompactAt(spark, root, 0)(fail("must not fire")))
    assert(!IncrementalIndex.autoCompactAt(spark, root, 99)(fail("must not fire")))
    assertThrows[IllegalArgumentException] {
      IncrementalIndex.autoCompactAt(spark, root, 1)(())
    }
    pairs.foreach(_.unpersist(blocking = false))
    oneShot.unpersist()
  }

  test("incremental IVF assignment equals one-shot under the frozen centroids") {
    val root = tmpDir("incr_ivf")
    val embs = spark.read.parquet(sf("embeddings"))
    val b1 = embs.filter(col("vec_id") % 2 === 0)
    val b2 = embs.filter(col("vec_id") % 2 === 1)
    IncrementalIndex.bootstrapIvf(spark, root, b1, "vec_id", "embedding", k = 8)
    IncrementalIndex.ingestIvf(spark, root, b2, "vec_id", "embedding")
    val cents = IncrementalIndex.readIvfCentroids(spark, root)
    assert(cents.length == 8)
    val incr = IncrementalIndex.readIvfAssignments(spark, root)
    val oneShot = embs.select(col("vec_id").as("id"),
      Ivf.cellId(col("embedding"), cents).as("cid1"))
    assert(incr.count() == embs.count(), "every vector assigned exactly once")
    val mismatches = incr.join(oneShot, "id")
      .filter(col("cid") =!= col("cid1")).count()
    assert(mismatches == 0, "incremental assignment must be bit-identical to one-shot")
    // assignments arrived as one delta version per ingest
    assert(VersionedTable.versions(spark, s"$root/assignments") == Seq(1L, 2L))
  }

  test("incremental TF-IDF weights equal one-shot under the frozen stats; unseen tokens take df=0") {
    val root = tmpDir("incr_tfidf")
    val docs = spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))
    val r = pmod(col("doc_id"), lit(3))
    // three batches, stats frozen over batch 0 only; one doc carries a
    // token no bootstrap doc has, exercising the df=0 smoothing path
    import spark.implicits._
    val sentinel = Seq((900001L, "zzzunseentoken zzzunseentoken common"))
      .toDF("doc_id", "text")
    val b = Seq(docs.filter(r === 0), docs.filter(r === 1),
      docs.filter(r === 2).union(sentinel))
    IncrementalIndex.bootstrapTfidf(spark, root, b(0), "doc_id", "text")
    IncrementalIndex.ingestTfidf(spark, root, b(1), "doc_id", "text")
    IncrementalIndex.ingestTfidf(spark, root, b(2), "doc_id", "text")
    // one-shot weigh of the union under the SAME frozen (df, N)
    val union = b.reduce(_ union _)
    val toks = union.select(col("doc_id").as("id"),
        explode(expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')")).as("tk"))
      .groupBy("id", "tk").agg(count(lit(1)).as("tf"))
    val frozenDf = VersionedTable.read(spark, s"$root/idfstats")
    val nn = IncrementalIndex.readTfidfCorpusCount(spark, root)
    assert(nn == b(0).count(), "corpus count frozen at bootstrap")
    val oneShot = toks.join(frozenDf, Seq("tk"), "left")
      .select(col("id"), col("tk"), (col("tf") *
        round((log((lit(nn) + 1).cast("double") /
          (coalesce(col("df"), lit(0L)) + 1)) + 1) * 1e6, 0).cast("long")).as("w1"))
    val incr = IncrementalIndex.readTfidfWeights(spark, root)
    assert(incr.count() == oneShot.count(), "one weight row per (doc, token)")
    assert(incr.join(oneShot, Seq("id", "tk"))
      .filter(col("w") =!= col("w1")).count() == 0,
      "accumulated weights must be bit-identical to one-shot under frozen stats")
    // the sentinel's unseen token got the df=0 smoothed weight
    val wUnseen = incr.filter(col("id") === 900001L && col("tk") === "zzzunseentoken")
      .select("w").head().getLong(0)
    assert(wUnseen == 2L * math.round((math.log(nn + 1.0) + 1) * 1e6),
      s"df=0 smoothing: got $wUnseen")
    // norms sidecar: one row per doc with weight rows, equal to sum(w^2)
    val norms = IncrementalIndex.readTfidfNorms(spark, root)
    assert(norms.count() == incr.select("id").distinct().count())
    assert(norms.join(incr.groupBy("id").agg(sum(col("w") * col("w")).as("n2")), "id")
      .filter(col("nrm2") =!= col("n2")).count() == 0)
  }

  test("TF-IDF compaction preserves scores; post-compaction ingest blind to it") {
    val root = tmpDir("incr_tfidf_compact")
    val twin = tmpDir("incr_tfidf_compact_twin")
    val docs = spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))
    val r = pmod(col("doc_id"), lit(3))
    val b = (0 to 2).map(i => docs.filter(r === i))
    for (rt <- Seq(root, twin)) {
      IncrementalIndex.bootstrapTfidf(spark, rt, b(0), "doc_id", "text")
      IncrementalIndex.ingestTfidf(spark, rt, b(1), "doc_id", "text")
    }
    IncrementalIndex.compactTfidfIndex(spark, root)
    assert(VersionedTable.versions(spark, s"$root/weights") == Seq(3L))
    IncrementalIndex.ingestTfidf(spark, root, b(2), "doc_id", "text")
    IncrementalIndex.ingestTfidf(spark, twin, b(2), "doc_id", "text")
    def scores(rt: String) = IncrementalIndex
      .sparseCosineIndexed(spark, rt, col("id") < 50, 0.2)
      .select("ia", "ib", "dot", "cos").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3))).toSet
    assert(scores(root) == scores(twin),
      "compaction must be invisible to scoring and later ingests")
  }

  test("exactly-once epoch ingest: replays drop at every crash window, surviving vacuum") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir("incr_epoch")
    val pairsRoot = tmpDir("incr_epoch_pairs")
    val r = pmod(col("doc_id") % 100000, lit(3))
    val b = Seq(corpus.filter(r === 0), corpus.filter(r === 1), corpus.filter(r === 2))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // epoch 0 commits
    val p0 = IncrementalIndex.ingestMinHashEpoch(
      spark, root, pairsRoot, b(0), "doc_id", "text", 0L)
    assert(p0.nonEmpty); p0.foreach(_.unpersist(blocking = false))
    // a full replay of epoch 0 drops: no new versions anywhere
    assert(IncrementalIndex.ingestMinHashEpoch(
      spark, root, pairsRoot, b(0), "doc_id", "text", 0L).isEmpty)
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    assert(VersionedTable.versions(spark, pairsRoot) == Seq(1L))
    // crash window "pairs committed, signatures not": run epoch 1, then
    // erase the signature version + its hwm record as the crash would
    // have left them — the replay must skip the pairs write (no
    // double-append) and commit only the signatures
    val p1 = IncrementalIndex.ingestMinHashEpoch(
      spark, root, pairsRoot, b(1), "doc_id", "text", 1L)
    assert(p1.nonEmpty); p1.foreach(_.unpersist(blocking = false))
    fs.delete(new Path(root, graft.sinks.VersionedTable.dirName(2L)), true)
    val out = fs.create(new Path(root, "_epoch-hwm"), true)
    try out.write("0".getBytes("UTF-8")) finally out.close()
    val p1r = IncrementalIndex.ingestMinHashEpoch(
      spark, root, pairsRoot, b(1), "doc_id", "text", 1L)
    assert(p1r.nonEmpty, "signature half must be recommitted")
    p1r.foreach(_.unpersist(blocking = false))
    assert(VersionedTable.versions(spark, pairsRoot) == Seq(1L, 2L),
      "the replay must not double-append pairs")
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))
    // compaction deletes the marker-carrying versions — the hwm file
    // keeps replay detection alive
    IncrementalIndex.compactDedupIndex(spark, root)
    IncrementalIndex.compactLog(spark, pairsRoot)
    assert(IncrementalIndex.ingestMinHashEpoch(
      spark, root, pairsRoot, b(1), "doc_id", "text", 1L).isEmpty,
      "post-vacuum replay must still drop (hwm witness)")
    // a genuinely new epoch still ingests, and the accumulated state
    // equals the clean one-shot over everything
    val p2 = IncrementalIndex.ingestMinHashEpoch(
      spark, root, pairsRoot, b(2), "doc_id", "text", 2L)
    assert(p2.nonEmpty); p2.foreach(_.unpersist(blocking = false))
    val union = b.reduce(_ union _)
    assert(IncrementalIndex.readMinHashIndex(spark, root).count() == union.count(),
      "every doc signed exactly once across commits, replays and compaction")
    val oneShot = Dedup.minHashLsh(union, "doc_id", "text",
      numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8)
    assert(pairSet(VersionedTable.readAllVersions(spark, pairsRoot)) == pairSet(oneShot))
    oneShot.unpersist()
  }

  test("incremental prefix join: accumulated exact pairs equal one-shot under frozen df; compaction invisible") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val root = tmpDir("incr_prefix")
    def sh(c: org.apache.spark.sql.Column) = ColumnBridge.column(
      graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
    val sets = corpus
      .select(col("doc_id").as("id"), explode(sh(col("text"))).as("elem"))
      .distinct().persist()
    val r = pmod(col("id") % 100000, lit(3))
    val isMut = col("id") >= 100000
    // batch 2 carries mutant docs whose dropped-first-token shingles are
    // unseen at freeze time — the vocabulary-drift case (df = 0 order)
    val b1 = sets.filter((!isMut && r < 2) || (isMut && r === 0))
    val b2 = sets.filter((!isMut && r === 2) || (isMut && r > 0))
    val (v1, p1) = IncrementalIndex.ingestPrefixJaccard(spark, root, b1) // self-bootstrap
    // compaction between ingests must be invisible to the accumulation
    IncrementalIndex.compactPrefixIndex(spark, root)
    val (v2, p2) = IncrementalIndex.ingestPrefixJaccard(spark, root, b2)
    assert(v1 == 1L && v2 > v1)
    def rows(df: DataFrame): Set[(Long, Long, Long, Long)] =
      df.select(col("ia").cast("long"), col("ib").cast("long"),
          col("inter").cast("long"), col("un").cast("long"))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSet
    val oneShot = Dedup.prefixJaccardJoin(sets, 4, 5)
    val s1 = rows(p1); val s2 = rows(p2)
    assert(s1.intersect(s2).isEmpty, "per-ingest pair sets must be disjoint")
    // equality INCLUDING integer witnesses, despite the one-shot sorting
    // under its own corpus-wide df — exactness is order-independent
    assert(s1.union(s2) == rows(oneShot))
    assert(s2.nonEmpty && s1.nonEmpty)
    oneShot.unpersist(); p1.unpersist(); p2.unpersist(); sets.unpersist()
  }

  test("prefix resort probe: counts the donors' sets under the adopter's order, commits nothing") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def sh(c: org.apache.spark.sql.Column) = ColumnBridge.column(
      graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
    val sets = corpus
      .select(col("doc_id").as("id"), explode(sh(col("text"))).as("elem"))
      .distinct().persist()
    val roots = (0 to 2).map(i => tmpDir(s"pfxprobe_$i"))
    (0 to 2).foreach(i => IncrementalIndex.ingestPrefixJaccard(spark,
      roots(i), sets.filter(pmod(col("id"), lit(3)) === i))
      ._2.unpersist(blocking = false))
    def state(r: String) = Seq(s"$r/tokens", s"$r/prefixstats", s"$r/dfstats")
      .map(VersionedTable.versions(spark, _))
    val before = roots.map(state)
    val n = IncrementalIndex.prefixResortProbe(spark, roots(0), roots.drop(1))
    val donorSets = (1 to 2).map(i =>
      sets.filter(pmod(col("id"), lit(3)) === i)
        .select("id").distinct().count()).sum
    assert(n == donorSets,
      "the probe must materialize exactly one re-sorted row per donor set")
    assert(roots.map(state) == before,
      "the probe is a pure reader — no version may commit anywhere")
    sets.unpersist()
  }

  test("incremental simhash ingest equals one-shot portable pairs; batch sets disjoint") {
    val root = tmpDir("incr_simhash")
    val r = pmod(col("doc_id") % 100000, lit(3))
    val isMut = col("doc_id") >= 100000
    val b1 = corpus.filter((!isMut && r < 2) || (isMut && r === 0))
    val b2 = corpus.filter((!isMut && r === 2) || (isMut && r > 0))
    val (v1, p1) = IncrementalIndex.ingestSimHash(spark, root, b1, "doc_id", "text")
    val (v2, p2) = IncrementalIndex.ingestSimHash(spark, root, b2, "doc_id", "text")
    assert(v1 == 1L && v2 == 2L)
    val oneShot = Dedup.simHashPairsPortable(corpus, "doc_id", "text",
      maxHamming = 3, shingleN = 3)
    assert(pairSet(p1).intersect(pairSet(p2)).isEmpty,
      "per-ingest pair sets must be disjoint (no index×index recompute)")
    assert(pairSet(p1) ++ pairSet(p2) == pairSet(oneShot),
      "accumulated pairs must equal the one-shot portable SimHash pair list")
    assert(pairSet(oneShot).nonEmpty)
    Seq(p1, p2).foreach(_.unpersist())
  }

  test("simhash epoch ingest: replays drop, pairs never double-append, accumulation exact") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir("incr_simhash_epoch")
    val pairsRoot = tmpDir("incr_simhash_epoch_pairs")
    val r = pmod(col("doc_id") % 100000, lit(2))
    val b = Seq(corpus.filter(r === 0), corpus.filter(r === 1))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p0 = IncrementalIndex.ingestSimHashEpoch(
      spark, root, pairsRoot, b(0), "doc_id", "text", 0L)
    assert(p0.nonEmpty); p0.foreach(_.unpersist(blocking = false))
    assert(IncrementalIndex.ingestSimHashEpoch(
      spark, root, pairsRoot, b(0), "doc_id", "text", 0L).isEmpty,
      "full replay must drop")
    // the pairs-committed-signatures-not crash window: erase the epoch-1
    // signature version + hwm; the replay must recommit signatures only
    val p1 = IncrementalIndex.ingestSimHashEpoch(
      spark, root, pairsRoot, b(1), "doc_id", "text", 1L)
    assert(p1.nonEmpty); p1.foreach(_.unpersist(blocking = false))
    fs.delete(new Path(root, graft.sinks.VersionedTable.dirName(2L)), true)
    val out = fs.create(new Path(root, "_epoch-hwm"), true)
    try out.write("0".getBytes("UTF-8")) finally out.close()
    val p1r = IncrementalIndex.ingestSimHashEpoch(
      spark, root, pairsRoot, b(1), "doc_id", "text", 1L)
    assert(p1r.nonEmpty); p1r.foreach(_.unpersist(blocking = false))
    assert(VersionedTable.versions(spark, pairsRoot) == Seq(1L, 2L),
      "the replay must not double-append pairs")
    val oneShot = Dedup.simHashPairsPortable(corpus, "doc_id", "text",
      maxHamming = 3, shingleN = 3)
    assert(pairSet(VersionedTable.readAllVersions(spark, pairsRoot)) == pairSet(oneShot))
    assert(IncrementalIndex.readSimHashIndex(spark, root).count() == corpus.count(),
      "every doc signed exactly once across commits and replays")
    oneShot.unpersist()
  }

  test("incremental exact dedup: accumulated verdicts equal keep-the-min; compaction blind") {
    val root = tmpDir("incr_exact")
    val docs = spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))
    // three append-ordered batches: originals, verbatim copies, more copies
    val b = Seq(docs,
      docs.select((col("doc_id") + 100000).as("doc_id"), col("text")),
      docs.select((col("doc_id") + 200000).as("doc_id"), col("text")))
    val v1 = IncrementalIndex.ingestExact(spark, root, b(0), "doc_id", "text")._2
    val v2 = IncrementalIndex.ingestExact(spark, root, b(1), "doc_id", "text")._2
    IncrementalIndex.compactExactIndex(spark, root)
    assert(VersionedTable.versions(spark, s"$root/fingerprints") == Seq(3L))
    val v3 = IncrementalIndex.ingestExact(spark, root, b(2), "doc_id", "text")._2
    val acc = v1.unionAll(v2).unionAll(v3)
    // closed-form expectation: kept iff id is the minimum of its fp group
    import org.apache.spark.sql.expressions.Window
    val expected = b.reduce(_ union _)
      .select(col("doc_id").as("id"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .withColumn("kept1", col("id") === min(col("id")).over(Window.partitionBy("fp")))
    assert(acc.count() == expected.count())
    assert(acc.join(expected, Seq("id", "fp"))
      .filter(col("kept") =!= col("kept1")).count() == 0,
      "accumulated verdicts must equal d1's one-shot keep-the-min rule")
    // every copy batch is fully dropped (its fps all arrived earlier)
    assert(v2.filter(col("kept")).count() == 0 && v3.filter(col("kept")).count() == 0)
    Seq(v1, v2, v3).foreach(_.unpersist())
  }

  test("exact-dedup epoch ingest: replays drop, verdicts never double-append") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir("incr_exact_epoch")
    val verdictsRoot = tmpDir("incr_exact_epoch_verdicts")
    val docs = spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))
    // append-ordered: originals, then verbatim copies (all dropped)
    val b = Seq(docs, docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val fpRoot = s"$root/fingerprints"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val k0 = IncrementalIndex.ingestExactEpoch(
      spark, root, verdictsRoot, b(0), "doc_id", "text", 0L)
    assert(k0.nonEmpty); k0.foreach(_.unpersist(blocking = false))
    assert(IncrementalIndex.ingestExactEpoch(
      spark, root, verdictsRoot, b(0), "doc_id", "text", 0L).isEmpty,
      "full replay must drop")
    // verdicts-committed-fps-not crash window
    val k1 = IncrementalIndex.ingestExactEpoch(
      spark, root, verdictsRoot, b(1), "doc_id", "text", 1L)
    assert(k1.nonEmpty); k1.foreach(_.unpersist(blocking = false))
    fs.delete(new Path(fpRoot, graft.sinks.VersionedTable.dirName(2L)), true)
    val out = fs.create(new Path(fpRoot, "_epoch-hwm"), true)
    try out.write("0".getBytes("UTF-8")) finally out.close()
    val k1r = IncrementalIndex.ingestExactEpoch(
      spark, root, verdictsRoot, b(1), "doc_id", "text", 1L)
    assert(k1r.nonEmpty); k1r.foreach(_.unpersist(blocking = false))
    assert(VersionedTable.versions(spark, verdictsRoot) == Seq(1L, 2L),
      "the replay must not double-append verdicts")
    // accumulated verdict log equals keep-the-min over the union
    val acc = VersionedTable.readAllVersions(spark, verdictsRoot)
    assert(acc.count() == b(0).count() + b(1).count())
    assert(acc.filter(col("kept")).count() == b(0).count(),
      "originals kept; every verbatim copy dropped exactly once")
    assert(IncrementalIndex.readExactIndex(spark, root).count() == acc.count(),
      "every doc fingerprinted exactly once across commits and replays")
  }

  test("exact retraction: survivor recompute corrects keepers; re-arrival after full takedown kept") {
    import spark.implicits._
    val root = tmpDir("incr_exact_retract")
    val b1 = Seq((1L, "aaa bbb"), (2L, "ccc ddd"), (3L, "eee fff")).toDF("doc_id", "text")
    val b2 = Seq((11L, "aaa bbb"), (12L, "ccc ddd")).toDF("doc_id", "text") // verbatim copies
    val (_, v1) = IncrementalIndex.ingestExact(spark, root, b1, "doc_id", "text")
    val (_, v2) = IncrementalIndex.ingestExact(spark, root, b2, "doc_id", "text")
    // retract keeper 1 and the WHOLE group of "eee fff" (id 3)
    val delta = IncrementalIndex.retractExact(spark, root, Seq(1L, 3L).toDF("id"))
    val dm = delta.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(dm == Map(11L -> true),
      "the surviving copy promotes to keeper; a fully-retracted group has no survivors; " +
        "untouched groups (ccc ddd) are never recomputed")
    // a re-arrival of the fully-taken-down text is its group's new first
    // arrival (the seen-probe reads the tombstone-filtered log); a text
    // whose group still has a survivor stays a duplicate
    val b3 = Seq((21L, "eee fff"), (22L, "aaa bbb")).toDF("doc_id", "text")
    val (_, v3) = IncrementalIndex.ingestExact(spark, root, b3, "doc_id", "text")
    val km = v3.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(km == Map(21L -> true, 22L -> false))
    // physical purge stays read-equivalent and clears the tombstones
    IncrementalIndex.purgeExactIndex(spark, root)
    val ids = IncrementalIndex.readExactIndex(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L, 11L, 12L, 21L, 22L), "purged index holds exactly the survivors")
    assert(VersionedTable.readAllVersions(spark, s"$root/tombstones").count() == 0)
    Seq(v1, v2, v3).foreach(_.unpersist())
  }

  test("retraction: reads exclude tombstoned ids; accumulated pairs equal one-shot over survivors") {
    val root = tmpDir("incr_retract")
    val r = pmod(col("doc_id") % 100000, lit(3))
    val isMut = col("doc_id") >= 100000
    val b1 = corpus.filter((!isMut && r < 2) || (isMut && r === 0))
    val b2 = corpus.filter((!isMut && r === 2) || (isMut && r > 0))
    val retracted = corpus.filter(!isMut && r === 0).select("doc_id")
    val (_, p1) = IncrementalIndex.ingestMinHash(spark, root, b1, "doc_id", "text")
    IncrementalIndex.retract(spark, root, retracted, "doc_id")
    // the index read hides every tombstoned id immediately
    assert(IncrementalIndex.readMinHashIndex(spark, root)
      .join(retracted.withColumnRenamed("doc_id", "id"), "id").count() == 0)
    val (_, p2) = IncrementalIndex.ingestMinHash(spark, root, b2, "doc_id", "text")
    val filtered = IncrementalIndex.retractPairs(p1, retracted, "doc_id")
    // positional-union safety: the filter must not reorder columns (a
    // USING-join fronts its key — this swapped (a, b) once)
    assert(filtered.columns.toSeq == p1.columns.toSeq, filtered.columns.mkString(","))
    val accumulated = pairSet(filtered) ++ pairSet(p2)
    val survivors = corpus.join(retracted, Seq("doc_id"), "left_anti")
    val oneShot = Dedup.minHashLsh(survivors, "doc_id", "text",
      numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8)
    assert(accumulated == pairSet(oneShot),
      "retraction-filtered accumulation must equal one-shot over the surviving corpus")
    assert(accumulated.nonEmpty, "gate must exercise surviving near-dup structure")
    // p2 never touches a retracted id (candidates probed the filtered index)
    val rids = retracted.collect().map(_.getLong(0)).toSet
    assert(pairSet(p2).forall { case (a, b) => !rids.contains(a) && !rids.contains(b) })
    Seq(p1, p2, oneShot).foreach(_.unpersist())
  }

  test("purge: physical removal is read-equivalent, stats re-derived, tombstones cleared") {
    val root = tmpDir("incr_purge")
    val twin = tmpDir("incr_purge_twin")
    val r = pmod(col("doc_id") % 100000, lit(3))
    val b = (0 to 2).map(i => corpus.filter(r === i))
    val retracted = b(0).filter(col("doc_id") < 100000 && col("doc_id") % 2 === 0)
      .select("doc_id")
    // root: ingest b0+b1, retract, purge. twin: same ingests + retract, NO purge.
    for (rt <- Seq(root, twin)) {
      IncrementalIndex.ingestMinHash(spark, rt, b(0), "doc_id", "text")._2.unpersist()
      IncrementalIndex.ingestMinHash(spark, rt, b(1), "doc_id", "text")._2.unpersist()
      IncrementalIndex.retract(spark, rt, retracted, "doc_id")
    }
    IncrementalIndex.purgeDedupIndex(spark, root)
    // physical state: one signature checkpoint, raw read already excludes
    // retracted rows, tombstone log reset to empty
    assert(VersionedTable.versions(spark, root) == Seq(3L))
    val rids = retracted.collect().map(_.getLong(0)).toSet
    assert(VersionedTable.readAllVersions(spark, root)
      .filter(col("id").isin(rids.toSeq: _*)).count() == 0,
      "purged rows must be physically gone, not just filtered")
    assert(VersionedTable.readAllVersions(spark, s"$root/tombstones").count() == 0)
    // behavior: a post-purge ingest equals the unpurged twin's
    val p3 = IncrementalIndex.ingestMinHash(spark, root, b(2), "doc_id", "text")._2
    val t3 = IncrementalIndex.ingestMinHash(spark, twin, b(2), "doc_id", "text")._2
    assert(pairSet(p3) == pairSet(t3), "purge must be invisible to later ingests")
    // stats sidecar re-derived exactly: one checkpoint version whose sum
    // equals the banded row count of the survivors
    val statsSum = VersionedTable.readAllVersions(spark, s"$root/bucketstats")
      .agg(sum(col("n"))).head().getLong(0)
    val survivorBanded = VersionedTable.readAllVersions(spark, root)
      .filter(!col("id").isin(rids.toSeq: _*)).count() * 32
    assert(statsSum == survivorBanded,
      s"stats must count exactly the surviving banded rows ($statsSum vs $survivorBanded)")
    Seq(p3, t3).foreach(_.unpersist())
  }

  test("purge of every banded family: stats equal a fresh build over the survivors, so do later ingests") {
    val r = pmod(col("doc_id") % 100000, lit(3))
    val isMut = col("doc_id") >= 100000
    val b1 = corpus.filter((!isMut && r < 2) || (isMut && r === 0))
    val b2 = corpus.filter((!isMut && r === 2) || (isMut && r > 0))
    val gone = corpus.filter(!isMut && r === 1 && col("doc_id") % 2 === 0).select("doc_id")
    val embs = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val mut = embs.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(v, (x, i) -> IF(i = 0, x + 0.01D, x))").as("v"))
    val srp = IncrementalIndex.SrpParams(dim = 64, bitsPerTable = 8, bucketCap = 256)
    def occ(rt: String) = VersionedTable.readAllVersions(spark, s"$rt/bucketstats")
      .groupBy("band", "bucket").agg(sum(col("n")).as("n"))
      .collect().map(_.toSeq).toSet
    def check(family: String, idCol: String, first: DataFrame, next: DataFrame,
        retracted: DataFrame, ingest: (String, DataFrame) => DataFrame,
        purge: String => Unit): Unit = {
      val root = tmpDir(s"purge_${family}"); val fresh = tmpDir(s"purge_${family}_fresh")
      ingest(root, first).unpersist()
      IncrementalIndex.retract(spark, root, retracted, idCol)
      purge(root)
      ingest(fresh, first.join(retracted, Seq(idCol), "left_anti")).unpersist()
      assert(occ(root) == occ(fresh),
        s"$family: purged occupancy must equal a fresh build over the survivors")
      val (pr, pf) = (ingest(root, next), ingest(fresh, next))
      assert(pairSet(pr) == pairSet(pf) && pairSet(pf).nonEmpty,
        s"$family: a post-purge ingest must equal the fresh build's")
      Seq(pr, pf).foreach(_.unpersist())
    }
    check("minhash", "doc_id", b1, b2, gone,
      IncrementalIndex.ingestMinHash(spark, _, _, "doc_id", "text")._2,
      IncrementalIndex.purgeDedupIndex(spark, _))
    check("simhash", "doc_id", b1, b2, gone,
      IncrementalIndex.ingestSimHash(spark, _, _, "doc_id", "text")._2,
      IncrementalIndex.purgeSimHashIndex(spark, _))
    check("srp", "vec_id", embs, mut, embs.filter(col("vec_id") % 2 === 0).select("vec_id"),
      IncrementalIndex.ingestEmbeddings(spark, _, _, "vec_id", "v", srp)._2,
      IncrementalIndex.purgeSrpIndex(spark, _))
  }

  test("minhash shard merge: union complete, cross-only, merged index ingests like one-shot") {
    val rootA = tmpDir("merge_a"); val rootB = tmpDir("merge_b")
    val twin = tmpDir("merge_twin")
    val even = corpus.filter(col("doc_id") % 2 === 0)
    val odd = corpus.filter(col("doc_id") % 2 === 1)
    val (_, pA) = IncrementalIndex.ingestMinHash(spark, rootA, even, "doc_id", "text")
    val (_, pB) = IncrementalIndex.ingestMinHash(spark, rootB, odd, "doc_id", "text")
    val (_, cross) = IncrementalIndex.mergeMinHashIndexes(spark, rootA, rootB)
    val sA = pairSet(pA); val sB = pairSet(pB); val sX = pairSet(cross)
    // cross pairs span the shards EXACTLY — a shard-internal pair leaking
    // through the merge would double the union
    val inA = even.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sX.nonEmpty && sX.forall(p => inA.contains(p._1) != inA.contains(p._2)))
    assert(sX.intersect(sA).isEmpty && sX.intersect(sB).isEmpty)
    val oneShot = Dedup.minHashLsh(corpus, "doc_id", "text",
      numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8)
    assert(sA.union(sB).union(sX) == pairSet(oneShot),
      "shard pairs plus cross pairs must equal the one-shot pair list")
    // the merged index is indistinguishable from a one-shot-built one
    // for everything DOWNSTREAM: same live rows, same occupancy sums,
    // and a future ingest emits identical pairs
    IncrementalIndex.ingestMinHash(spark, twin, corpus, "doc_id", "text")
      ._2.unpersist(blocking = false)
    assert(IncrementalIndex.readMinHashIndex(spark, rootA).count() ==
      IncrementalIndex.readMinHashIndex(spark, twin).count())
    def occ(rt: String) = VersionedTable.readAllVersions(spark, s"$rt/bucketstats")
      .groupBy("band", "bucket").agg(sum(col("n")).as("n"))
      .collect().map(_.toSeq).toSet
    assert(occ(rootA) == occ(twin),
      "merged occupancy must equal the one-shot index's")
    val b3 = spark.read.parquet(sf("documents"))
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
    val p3 = IncrementalIndex.ingestMinHash(spark, rootA, b3, "doc_id", "text")._2
    val t3 = IncrementalIndex.ingestMinHash(spark, twin, b3, "doc_id", "text")._2
    assert(pairSet(p3) == pairSet(t3) && pairSet(t3).nonEmpty,
      "a post-merge ingest must equal the one-shot-built twin's")
    Seq(pA, pB, cross, oneShot, p3, t3).foreach(_.unpersist(blocking = false))
  }

  test("shard merge adopts logs: donor tombstones travel; compacted donors merge from the checkpoint") {
    val rootA = tmpDir("adopt_a"); val rootB = tmpDir("adopt_b")
    val even = corpus.filter(col("doc_id") % 2 === 0)
    val odd = corpus.filter(col("doc_id") % 2 === 1)
    IncrementalIndex.ingestMinHash(spark, rootA, even, "doc_id", "text")
      ._2.unpersist(blocking = false)
    // donor built in two ingests then COMPACTED — adoption must resolve
    // to the checkpoint, not the vacuumed deltas
    IncrementalIndex.ingestMinHash(spark, rootB,
      odd.filter(col("doc_id") < 100000), "doc_id", "text")
      ._2.unpersist(blocking = false)
    IncrementalIndex.ingestMinHash(spark, rootB,
      odd.filter(col("doc_id") >= 100000), "doc_id", "text")
      ._2.unpersist(blocking = false)
    IncrementalIndex.compactDedupIndex(spark, rootB)
    val retracted = odd.select("doc_id").limit(20)
    IncrementalIndex.retract(spark, rootB, retracted, "doc_id")
    val rids = retracted.collect().map(_.getLong(0)).toSet
    val (_, cross) = IncrementalIndex.mergeMinHashIndexes(spark, rootA, rootB)
    cross.unpersist(blocking = false)
    val merged = IncrementalIndex.readMinHashIndex(spark, rootA)
    assert(merged.filter(col("id").isin(rids.toSeq: _*)).count() == 0,
      "donor tombstones must travel with the adopted files")
    assert(merged.count() == even.count() + odd.count() - rids.size)
    // adopted raw files carry the retracted rows; occupancy keeps the
    // conservative never-decrement convention (donor's own stats log)
    val statsSum = VersionedTable.readAllVersions(spark, s"$rootA/bucketstats")
      .agg(sum(col("n"))).head().getLong(0)
    assert(statsSum == (even.count() + odd.count()) * 32)
  }

  test("exact shard merge: delta covers exactly the spanning groups; merged index ingests onward") {
    val rootA = tmpDir("xmerge_a"); val rootB = tmpDir("xmerge_b")
    val docs = spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))
    // shard B holds verbatim copies of HALF the originals — so half the
    // fingerprint groups span both shards and half stay single-shard
    val copies = docs.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val (_, vA) = IncrementalIndex.ingestExact(spark, rootA, docs, "doc_id", "text")
    val (_, vB) = IncrementalIndex.ingestExact(spark, rootB, copies, "doc_id", "text")
    val (_, delta) = IncrementalIndex.mergeExactIndexes(spark, rootA, rootB)
    // the delta touches exactly the spanning groups (bounded by the
    // cross-shard duplicate volume, never the index size)
    val deltaIds = delta.select("id").collect().map(_.getLong(0)).toSet
    val spanning = docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id").collect().map(_.getLong(0))
      .flatMap(i => Seq(i, i + 100000)).toSet
    assert(deltaIds == spanning)
    // delta-corrected verdicts = the one-shot global keep-the-min rule
    val corrected = vA.unionAll(vB)
      .join(delta.select(col("id"), col("kept").as("k2")), Seq("id"), "left")
      .select(col("id"), coalesce(col("k2"), col("kept")).as("kept"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(spanning.forall(i => corrected(i) == (i < 100000)),
      "within a spanning group only the global minimum survives")
    // a post-merge ingest sees the union: re-arriving copies all drop
    val again = docs.select((col("doc_id") + 300000).as("doc_id"), col("text"))
    val (_, v3) = IncrementalIndex.ingestExact(spark, rootA, again, "doc_id", "text")
    assert(v3.filter(col("kept")).count() == 0,
      "every re-arrival must be dropped against the merged fingerprint log")
    Seq(vA, vB, delta, v3).foreach(_.unpersist(blocking = false))
  }

  test("tfidf shard merge: re-weighted logs equal a union bootstrap; merged index ingests onward") {
    val rootA = tmpDir("tmerge_a"); val rootB = tmpDir("tmerge_b")
    val rootM = tmpDir("tmerge_m"); val twin = tmpDir("tmerge_twin")
    val docs = spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))
    val r = pmod(col("doc_id"), lit(4))
    // the general theorem, not just the all-bootstrap case: shard A
    // bootstraps r=0 and then INGESTS r=1 (weights stored under A's own
    // frozen stats), shard B bootstraps r=2, and one shard-A doc is
    // RETRACTED before the merge. The merged index must equal a twin
    // bootstrapped on r∈{0,2} — the UNION of the shards' bootstrap sets
    // — that then ingested r=1 and retracted the same doc: weights are
    // pure functions of (tf, frozen stats), never of arrival order, and
    // exact tf recovery inverts A's frozen factor before re-weighting.
    val retractedIds = docs.filter(r === 0 && col("doc_id") < 20).select("doc_id")
    IncrementalIndex.bootstrapTfidf(spark, rootA, docs.filter(r === 0), "doc_id", "text")
    IncrementalIndex.ingestTfidf(spark, rootA, docs.filter(r === 1), "doc_id", "text")
    IncrementalIndex.retract(spark, rootA, retractedIds, "doc_id")
    IncrementalIndex.bootstrapTfidf(spark, rootB, docs.filter(r === 2), "doc_id", "text")
    IncrementalIndex.mergeTfidfIndexes(spark, rootM, Seq(rootA, rootB))
    IncrementalIndex.bootstrapTfidf(spark, twin,
      docs.filter(r === 0 || r === 2), "doc_id", "text")
    IncrementalIndex.ingestTfidf(spark, twin, docs.filter(r === 1), "doc_id", "text")
    IncrementalIndex.retract(spark, twin, retractedIds, "doc_id")
    assert(IncrementalIndex.readTfidfCorpusCount(spark, rootM) ==
      IncrementalIndex.readTfidfCorpusCount(spark, twin),
      "merged frozen N must be the sum of the shard Ns")
    def wRows(rt: String) = IncrementalIndex.readTfidfWeights(spark, rt)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSet
    assert(wRows(rootM) == wRows(twin),
      "re-weighted merged log must be bit-identical to the union-bootstrap twin")
    def nRows(rt: String) = IncrementalIndex.readTfidfNorms(spark, rt)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(nRows(rootM) == nRows(twin),
      "merged norms sidecar must equal the twin's")
    // a retracted shard doc never entered the merged log at all
    val gone = retractedIds.collect().map(_.getLong(0)).toSet
    assert(VersionedTable.readAllVersions(spark, s"$rootM/weights")
      .filter(col("id").isin(gone.toSeq: _*)).count() == 0,
      "retracted shard rows must be absent from the merged log, not just masked")
    // the merged index ingests onward exactly like the twin
    IncrementalIndex.ingestTfidf(spark, rootM, docs.filter(r === 3), "doc_id", "text")
    IncrementalIndex.ingestTfidf(spark, twin, docs.filter(r === 3), "doc_id", "text")
    def scores(rt: String) = IncrementalIndex
      .sparseCosineIndexed(spark, rt, col("id") < 50, 0.2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3))).toSet
    assert(scores(rootM) == scores(twin),
      "post-merge ingest + scoring must be indistinguishable from the twin")
  }

  test("n-way tfidf merge: one pass over k shards equals a fold of binary merges bit-exactly") {
    // the N-way path IS mergeTfidfIndexes(Seq of k): stats sum once,
    // ONE re-weight pass. A fold (merge(s0,s1)→m1; merge(m1,s2)→m2)
    // pays k−1 re-weight passes over growing unions — semantically
    // identical because weights are pure functions of (tf, summed
    // stats), so the intermediate frozen geometry cancels. Pin the
    // bit-exact equality that makes the one-pass the obvious winner.
    val docs = spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))
    val shards = (0 to 2).map { i =>
      val r = tmpDir(s"tnway_s$i")
      IncrementalIndex.bootstrapTfidf(spark, r,
        docs.filter(pmod(col("doc_id"), lit(3)) === i), "doc_id", "text")
      r
    }
    val one = tmpDir("tnway_one")
    IncrementalIndex.mergeTfidfIndexes(spark, one, shards)
    val m1 = tmpDir("tnway_m1"); val m2 = tmpDir("tnway_m2")
    IncrementalIndex.mergeTfidfIndexes(spark, m1, Seq(shards(0), shards(1)))
    IncrementalIndex.mergeTfidfIndexes(spark, m2, Seq(m1, shards(2)))
    assert(IncrementalIndex.readTfidfCorpusCount(spark, one) ==
      IncrementalIndex.readTfidfCorpusCount(spark, m2),
      "one-pass frozen N must equal the fold's")
    def wRows(rt: String) = IncrementalIndex.readTfidfWeights(spark, rt)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSet
    assert(wRows(one) == wRows(m2),
      "one-pass weights must be bit-identical to the fold's")
    def nRows(rt: String) = IncrementalIndex.readTfidfNorms(spark, rt)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(nRows(one) == nRows(m2),
      "one-pass norms must be bit-identical to the fold's")
  }

  test("n-way minhash merge: one pass completes three shards; equals fold-of-binary and one-shot") {
    val roots = (0 to 2).map(i => tmpDir(s"nmerge_$i"))
    val foldRoots = (0 to 2).map(i => tmpDir(s"nmerge_fold_$i"))
    val shard = (0 to 2).map(i => corpus.filter(pmod(col("doc_id"), lit(3)) === i))
    val parts = (0 to 2).map { i =>
      // identical shard contents under both adopters
      IncrementalIndex.ingestMinHash(spark, foldRoots(i), shard(i), "doc_id", "text")
        ._2.unpersist(blocking = false)
      IncrementalIndex.ingestMinHash(spark, roots(i), shard(i), "doc_id", "text")._2
    }
    val (_, cross) = IncrementalIndex.mergeManyMinHashIndexes(
      spark, roots(0), Seq(roots(1), roots(2)))
    // cross pairs span shards exactly: no shard-internal pair re-emitted
    val shardOf = (0 to 2).flatMap(i =>
      shard(i).select("doc_id").collect().map(_.getLong(0) -> i)).toMap
    val sX = pairSet(cross)
    assert(sX.nonEmpty && sX.forall(p => shardOf(p._1) != shardOf(p._2)))
    val sParts = parts.map(pairSet)
    assert(sParts.forall(_.intersect(sX).isEmpty))
    // union equals one-shot over the full corpus
    val oneShot = Dedup.minHashLsh(corpus, "doc_id", "text",
      numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8)
    assert(sParts.reduce(_ union _).union(sX) == pairSet(oneShot),
      "shard logs plus one-pass cross pairs must equal the one-shot list")
    // and equals a fold of binary merges (N−1 passes) — same cross set
    val (_, x1) = IncrementalIndex.mergeMinHashIndexes(spark, foldRoots(0), foldRoots(1))
    val (_, x2) = IncrementalIndex.mergeMinHashIndexes(spark, foldRoots(0), foldRoots(2))
    assert(sX == pairSet(x1).union(pairSet(x2)),
      "one pass must find exactly what the pairwise fold finds")
    // merged index state identical to the fold's: rows and occupancy
    assert(IncrementalIndex.readMinHashIndex(spark, roots(0)).count() ==
      IncrementalIndex.readMinHashIndex(spark, foldRoots(0)).count())
    def occ(rt: String) = VersionedTable.readAllVersions(spark, s"$rt/bucketstats")
      .groupBy("band", "bucket").agg(sum(col("n")).as("n"))
      .collect().map(_.toSeq).toSet
    assert(occ(roots(0)) == occ(foldRoots(0)))
    (parts :+ cross :+ oneShot :+ x1 :+ x2).foreach(_.unpersist(blocking = false))
  }

  test("read-only probes: emit exactly the would-be ingest result and commit nothing") {
    val root = tmpDir("probe_mh"); val xroot = tmpDir("probe_x")
    val b1 = corpus.filter(col("doc_id") < 100000)
    val b2 = corpus.filter(col("doc_id") >= 100000)
    IncrementalIndex.ingestMinHash(spark, root, b1, "doc_id", "text")
      ._2.unpersist(blocking = false)
    val probed = IncrementalIndex.probeMinHash(spark, root, b2, "doc_id", "text")
    // nothing committed: version logs unchanged across the probe
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    assert(VersionedTable.versions(spark, s"$root/bucketstats") == Seq(1L))
    // a probe followed by the real ingest is indistinguishable from the
    // ingest alone — same pairs, same committed version
    val (v2, p2) = IncrementalIndex.ingestMinHash(spark, root, b2, "doc_id", "text")
    assert(v2 == 2L && pairSet(probed) == pairSet(p2),
      "probe must return exactly what the ingest then emits")
    assert(pairSet(probed).nonEmpty)
    // exact family: same contract over verdicts
    val docs = spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))
    val copies = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    IncrementalIndex.ingestExact(spark, xroot, docs, "doc_id", "text")
      ._2.unpersist(blocking = false)
    val xprobe = IncrementalIndex.probeExact(spark, xroot, copies, "doc_id", "text")
    assert(VersionedTable.versions(spark, s"$xroot/fingerprints") == Seq(1L))
    assert(xprobe.filter(col("kept")).count() == 0,
      "every verbatim copy must probe as a drop")
    val (_, xv) = IncrementalIndex.ingestExact(spark, xroot, copies, "doc_id", "text")
    def vset(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    assert(vset(xprobe) == vset(xv))
    Seq(probed, p2, xprobe, xv).foreach(_.unpersist(blocking = false))
  }
}
