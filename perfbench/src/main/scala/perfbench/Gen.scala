package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, row id),
  * so the same seed gives byte-identical inputs, and a row's content does
  * not depend on how the id range was split into files.
  */
object Gen {

  private def h(seed: Long, salt: Int, c: Column): Column =
    xxhash64(lit(seed), lit(salt), c)
  private def mod(seed: Long, salt: Int, c: Column, m: Long): Column =
    pmod(h(seed, salt, c), lit(m))

  // ------------------------------------------------------------------ ETL

  /** One source table. `keys` are the bookmark keys (ASC), `partition` the
    * target partition column, `initial` the row count of the first load.
    */
  final case class EtlTable(name: String, keys: Seq[String],
      partition: Option[String], initial: Long, large: Boolean)

  private val smallNames = Seq("region", "nation", "supplier", "part",
    "customer", "partsupp", "promo", "store", "warehouse", "carrier",
    "currency", "calendar")

  /** The small table that gains a trailing column mid-run. */
  val evolving: String = "customer"
  val evolvedColumn: String = "customer_tier"
  /** The large table whose column is all-null in some deltas. */
  val nullable: (String, String) = ("events", "e_note")

  def etlTables(scale: Double, seed: Long): Seq[EtlTable] = {
    val rnd = new scala.util.Random(seed)
    def n(x: Long) = math.max(200L, (x * scale).toLong)
    Seq(
      EtlTable("orders", Seq("o_orderkey"), Some("o_orderstatus"), n(400000), large = true),
      EtlTable("lineitem", Seq("l_orderkey", "l_linenumber"), None, n(350000), large = true),
      EtlTable("events", Seq("e_id"), Some("e_type"), n(100000), large = true)
    ) ++ smallNames.map(s =>
      EtlTable(s, Seq(s"${s}_id"), None, n(1000L + rnd.nextInt(4000)), large = false))
  }

  /** Rows [lo, hi) of table `t`, in one partition, plus a `chunk` column
    * computed from the row id `id`. `evolved` adds the evolving table's
    * trailing column (null where `evolvedNull`, as an added column reads
    * for rows that predate it); the nullable column is null where
    * `nullNote`. The last three are expressions over `id`.
    */
  def etlRows(spark: SparkSession, t: EtlTable, lo: Long, hi: Long, seed: Long,
      chunk: Column, evolved: Boolean = false, nullNote: Column = lit(false),
      evolvedNull: Column = lit(false)): DataFrame = {
    val id = col("id")
    val r = spark.range(lo, hi, 1, 1)
    r.select(etlColumns(t, id, seed, evolved, nullNote, evolvedNull) :+ chunk.as("chunk"): _*)
  }

  private def etlColumns(t: EtlTable, id: Column, seed: Long, evolved: Boolean,
      nullNote: Column, evolvedNull: Column): Seq[Column] = {
    def text(salt: Int) = concat(lit("t"), conv(mod(seed, salt, id, 1L << 40).cast("string"), 10, 36))
    t.name match {
      case "orders" => Seq(
        id.as("o_orderkey"),
        mod(seed, 1, id, 50000).as("o_custkey"),
        element_at(array(lit("F"), lit("O"), lit("P")), (mod(seed, 2, id, 3) + 1).cast("int")).as("o_orderstatus"),
        (mod(seed, 3, id, 10000000) / 100.0).as("o_totalprice"),
        date_add(lit("2020-01-01").cast("date"), mod(seed, 4, id, 2000).cast("int")).as("o_orderdate"),
        text(5).as("o_comment"))
      case "lineitem" => Seq(
        (id / 4).cast("long").as("l_orderkey"),
        (pmod(id, lit(4)) + 1).cast("int").as("l_linenumber"),
        mod(seed, 11, id, 200000).as("l_partkey"),
        (mod(seed, 12, id, 50) + 1).cast("int").as("l_quantity"),
        (mod(seed, 13, id, 10000000) / 100.0).as("l_extendedprice"),
        date_add(lit("2020-01-01").cast("date"), mod(seed, 14, id, 2000).cast("int")).as("l_shipdate"),
        text(15).as("l_comment"))
      case "events" => Seq(
        id.as("e_id"),
        element_at(array(Seq("view", "click", "cart", "buy", "search", "login",
          "logout", "share").map(lit): _*), (mod(seed, 21, id, 8) + 1).cast("int")).as("e_type"),
        timestamp_seconds(lit(1600000000L) + id).as("e_ts"),
        mod(seed, 22, id, 1000000).as("e_user"),
        text(23).as("e_payload"),
        when(nullNote, lit(null).cast("string")).otherwise(text(24)).as("e_note"))
      case s =>
        val base = Seq(
          id.as(s"${s}_id"),
          text(31).as(s"${s}_name"),
          (mod(seed, 32, id, 100000) / 10.0).as(s"${s}_val"),
          date_add(lit("2021-01-01").cast("date"), mod(seed, 33, id, 900).cast("int")).as(s"${s}_upd"))
        val extra =
          if (evolved && s == evolving)
            Seq(when(evolvedNull, lit(null).cast("string")).otherwise(text(34)).as(evolvedColumn))
          else Nil
        base ++ extra
    }
  }

  // --------------------------------------------------------------- corpus

  private val vocab = 4096

  /** Word-salad document text for doc `src`: 40 tokens drawn by hash. */
  private def docText(seed: Long, src: Column): Column =
    concat_ws(" ", transform(sequence(lit(1), lit(40)), i =>
      concat(lit("w"), pmod(xxhash64(lit(seed), lit(41), src, i), lit(vocab)).cast("string"))))

  /** The near-dup source of doc `id`, or -1: about `dupRate` of docs copy
    * an earlier doc (within the previous 5000 ids) with the first token
    * dropped, so every near-dup pair has a fixed, seed-determined pairing.
    */
  private def dupSrc(seed: Long, id: Column, dupRate: Double): Column = {
    val isDup = pmod(xxhash64(lit(seed), lit(42), id), lit(1000000)) < lit((dupRate * 1000000).toLong)
    when(isDup && id > 0,
      id - 1 - pmod(xxhash64(lit(seed), lit(43), id), least(id, lit(5000L))))
      .otherwise(lit(-1L))
  }

  /** Docs 0 until n: (doc_id, text). */
  def docs(spark: SparkSession, n: Long, seed: Long, dupRate: Double): DataFrame = {
    val id = col("id")
    val src = dupSrc(seed, id, dupRate)
    val orig = docText(seed, when(src >= 0, src).otherwise(id))
    spark.range(0, n, 1, math.max(4, (n / 5000L).toInt))
      .select(id.as("doc_id"),
        when(src >= 0, substring_index(orig, " ", -39)).otherwise(orig).as("text"))
  }

  /** Vectors 0 until n: (vec_id, v) with dim-`dim` gaussian-like vectors;
    * near-dup vectors copy their source with one coordinate nudged.
    */
  def vectors(spark: SparkSession, n: Long, seed: Long,
      dupRate: Double, dim: Int): DataFrame = {
    val id = col("id")
    val src = dupSrc(seed, id, dupRate)
    val base = when(src >= 0, src).otherwise(id)
    // sum of three uniforms: cheap, symmetric, roughly normal
    def u(salt: Int, i: Column) =
      pmod(xxhash64(lit(seed), lit(salt), base, i), lit(1000000)).cast("double") / 1000000.0 - 0.5
    val v = transform(sequence(lit(0), lit(dim - 1)), i => u(51, i) + u(52, i) + u(53, i))
    spark.range(0, n, 1, math.max(4, (n / 5000L).toInt))
      .select(id.as("vec_id"),
        when(src >= 0, transform(v, (x, i) => when(i === 0, x + 0.01).otherwise(x)))
          .otherwise(v).as("v"))
  }
}
