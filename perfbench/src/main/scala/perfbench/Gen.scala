package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs in the shape of the TPC-H-style tables and the
  * `documents` corpus the engine's tests use. Every value is a hash of
  * (seed, column tag, row id), so one seed gives the same tables on any
  * machine and with any partitioning. Row counts follow TPC-H ratios per
  * order: 4 line items, 1/10 customer, 2/15 part, 1/150 supplier. */
object Gen {
  private def h(seed: Long, tag: Int): Column = xxhash64(lit(seed), lit(tag), col("id"))

  /** Uniform integer in [0, n). */
  def uni(seed: Long, tag: Int, n: Long): Column = pmod(h(seed, tag), lit(n))

  private def pick(seed: Long, tag: Int, values: Seq[String]): Column =
    element_at(typedLit(values), (uni(seed, tag, values.size.toLong) + 1).cast("int"))

  private def money(seed: Long, tag: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + uni(seed, tag, 1000000L).cast("double") / 1e6 * (hi - lo), 2)

  /** A day in 1992-01-01 .. 2001-12-31, as a midnight timestamp. */
  private def day(seed: Long, tag: Int): Column =
    date_add(lit("1992-01-01").cast("date"), uni(seed, tag, 3652L).cast("int"))
      .cast("timestamp")

  val Statuses: Seq[String] = Seq("F", "O", "P")
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  final case class Sizes(orders: Long) {
    def lineitem: Long = orders * 4
    def customer: Long = math.max(orders / 10, 1)
    def part: Long = math.max(orders * 2 / 15, 1)
    def supplier: Long = math.max(orders / 150, 1)
  }

  def customer(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uni(seed, 11, 25).cast("int").as("c_nationkey"),
      money(seed, 12, -999.99, 9999.99).as("c_acctbal"),
      pick(seed, 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))

  def part(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(seed, 21, Seq("large", "small", "hot", "cold", "bright")),
        pick(seed, 22, Seq("ring", "bolt", "gear", "plate", "spring"))).as("p_name"),
      format_string("Brand#%d", uni(seed, 23, 25) + 1).as("p_brand"),
      pick(seed, 24, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (uni(seed, 25, 50) + 1).cast("int").as("p_size"),
      money(seed, 26, 900.0, 2100.0).as("p_retailprice"))

  def supplier(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uni(seed, 31, 25).cast("int").as("s_nationkey"),
      money(seed, 32, -999.99, 9999.99).as("s_acctbal"))

  /** Orders keyed 0 until n. About 1% of customer keys dangle (no such
    * customer), as foreign keys in real extracts do. */
  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame =
    spark.range(n).select(col("id").as("o_orderkey"),
      uni(seed, 41, customers + customers / 100).as("o_custkey"),
      pick(seed, 42, Statuses).as("o_orderstatus"),
      money(seed, 43, 1000.0, 400000.0).as("o_totalprice"),
      day(seed, 44).as("o_orderdate"),
      pick(seed, 45, Priorities).as("o_orderpriority"))

  /** Four line items per order; about 1% of part keys dangle. */
  def lineitem(spark: SparkSession, seed: Long, sizes: Sizes): DataFrame =
    spark.range(sizes.lineitem).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      uni(seed, 51, sizes.part + sizes.part / 100).as("l_partkey"),
      uni(seed, 52, sizes.supplier).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (uni(seed, 53, 50) + 1).cast("double").as("l_quantity"),
      money(seed, 54, 900.0, 100000.0).as("l_extendedprice"),
      (uni(seed, 55, 11).cast("double") / 100).as("l_discount"),
      (uni(seed, 56, 9).cast("double") / 100).as("l_tax"),
      pick(seed, 57, Seq(" A", "N ", " R ")).as("l_returnflag"),
      pick(seed, 58, Seq("O", "F")).as("l_linestatus"),
      day(seed, 59).as("l_shipdate"))

  /** The vocabulary of the engine's `documents` fixture (sf0.001 to
    * sf0.1): 30 words, drawn uniformly and in random order. The fixture's
    * near copies also carry the marker word [[DupMarker]]. */
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val DupMarker = "dup"

  val ExactCopyBase = 1000000000L
  val NearCopyBase = 2000000000L

  /** The word salad of document `id`: 10 to 99 words, uniform, over
    * [[Vocab]], as in the `documents` fixture. */
  private def salad(seed: Long, id: Column): Column = {
    val words = (pmod(xxhash64(lit(seed), lit(62), id), lit(90L)) + 10).cast("int")
    val vocab = typedLit(Vocab)
    concat_ws(" ", transform(sequence(lit(1), words), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), lit(63), id, i),
        lit(Vocab.size.toLong)) + 1).cast("int"))))
  }

  /** `n` documents shaped like the engine's `documents` fixture (see
    * perfbench/README.md for the measured comparison): word salad of 10 to
    * 99 words, 20 sources, and one in 20 documents a copy of another one
    * with [[DupMarker]] appended. Columns `doc_id`, `source`, `text`. */
  def fixtureDocuments(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val copied = concat(salad(seed, uni(seed, 61, n)), lit(" " + DupMarker))
    spark.range(n).select(col("id").as("doc_id"),
      concat(lit("src"), uni(seed, 64, 20)).as("source"),
      when(uni(seed, 60, 20) === 0, copied).otherwise(salad(seed, col("id"))).as("text"))
  }

  /** [[fixtureDocuments]] plus the copies the engine's own corpus queries
    * inject: one in 6 documents gets an exact copy (id + [[ExactCopyBase]],
    * whitespace doubled so only normalization makes it exact), and one in
    * 10 a head-truncated near copy (id + [[NearCopyBase]], first two words
    * dropped). */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame =
    withCopies(fixtureDocuments(spark, seed, n), seed)

  /** Adds the injected copies to any `doc_id`, `source`, `text` corpus. */
  def withCopies(docs: DataFrame, seed: Long): DataFrame = {
    val id = col("doc_id")
    val base = docs.select(id, col("source"), col("text"),
      (pmod(xxhash64(lit(seed), lit(65), id), lit(6L)) === 0).as("__exact"),
      (pmod(xxhash64(lit(seed), lit(66), id), lit(10L)) === 0).as("__near"))
    val exact = base.where(col("__exact")).select(
      (col("doc_id") + ExactCopyBase).as("doc_id"), col("source"),
      regexp_replace(col("text"), " ", "  ").as("text"))
    val toks = split(col("text"), " ")
    val near = base.where(col("__near")).select(
      (col("doc_id") + NearCopyBase).as("doc_id"), col("source"),
      concat_ws(" ", slice(toks, lit(3), size(toks))).as("text"))
    base.drop("__exact", "__near").unionByName(exact).unionByName(near)
  }
}
