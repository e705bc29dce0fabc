package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Catalog, EtlProcess}

/** `cube_build`: the paper's core loop. Each pass loads four dimensions
  * and one fact table from a `lineitem ⋈ orders` extract into a fresh flat
  * catalog through [[EtlProcess]] (transform chains, three exact links,
  * one as-of link, ignore, dense surrogate ids), reads it back, and runs
  * the [[CorpusCurate]] operator chain over a seeded corpus.
  *
  * `corrupt` drops one fact row from the read-back before it is checked;
  * the self-check uses it to prove a wrong result counts as a failure. */
final class CubeBuild(spark: SparkSession, seed: Long, sizes: Gen.Sizes,
                      docs: Long, work: String, corrupt: Boolean) extends Workload {
  import Ctx.require
  import CubeBuild._

  private var srcDir: String = _
  private var expected: Row = _
  private var passNo = 0
  private var lastBytesPerRow = 0.0
  private val factRows = sizes.lineitem
  private val corpus = new CorpusCurate(spark, seed, docs)

  /** Input generation and the reference join only: no engine calls. */
  def buildFixture(ctx: Ctx, dir: String): Unit = {
    srcDir = s"$dir/src"
    def put(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.parquet(s"$srcDir/$name.parquet")
    put("customer", Gen.customer(spark, seed, sizes.customer))
    put("part", Gen.part(spark, seed, sizes.part))
    put("supplier", Gen.supplier(spark, seed, sizes.supplier))
    put("orders", Gen.orders(spark, seed, sizes.orders, sizes.customer))
    put("lineitem", Gen.lineitem(spark, seed, sizes))
    expected = expectedLinks()
    corpus.buildFixture(dir)
  }

  /** Fact row count and each link's non-null count and id sum, from a
    * plain Spark SQL join over the generated parquet (no engine code):
    * dimension ids are row numbers in natural-key order. */
  private def expectedLinks(): Row = {
    Seq("customer", "part", "supplier", "orders", "lineitem").foreach(t =>
      spark.read.parquet(s"$srcDir/$t.parquet").createOrReplaceTempView(s"x_$t"))
    spark.sql(
      """WITH c AS (SELECT c_custkey AS k, row_number() OVER (ORDER BY c_custkey) AS id FROM x_customer),
        |p AS (SELECT p_partkey AS k, row_number() OVER (ORDER BY p_partkey) AS id FROM x_part),
        |s AS (SELECT s_suppkey AS k, row_number() OVER (ORDER BY s_suppkey) AS id FROM x_supplier),
        |m AS (SELECT ms, row_number() OVER (ORDER BY ms) AS id FROM
        |  (SELECT DISTINCT CAST(date_trunc('MONTH', o_orderdate) AS TIMESTAMP) AS ms FROM x_orders))
        |SELECT count(*), count(c.id), sum(c.id), count(p.id), sum(p.id),
        |       count(s.id), sum(s.id), count(m.id), sum(m.id)
        |FROM x_lineitem l JOIN x_orders o ON l.l_orderkey = o.o_orderkey
        |LEFT JOIN c ON o.o_custkey = c.k
        |LEFT JOIN p ON l.l_partkey = p.k
        |LEFT JOIN s ON l.l_suppkey = s.k
        |LEFT JOIN m ON CAST(date_trunc('MONTH', o.o_orderdate) AS TIMESTAMP) = m.ms""".stripMargin)
      .head()
  }

  private def loadDims(src: Catalog, tgt: Catalog): Unit = {
    def dim(table: String, key: String, sql: String)(stage: EtlProcess => Unit): Unit = {
      val p = new EtlProcess(src, tgt, table)
      p.idOrder = Seq(key)
      p.extract(sql)
      stage(p)
      p.load()
    }
    dim("customer_dim", "c_custkey",
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer") { p =>
      p.transform("c_name").strip().upper()
      p.transform("c_mktsegment").lower().capitalize()
    }
    dim("part_dim", "p_partkey",
      "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part") { p =>
      p.transform("p_name").title()
    }
    dim("supplier_dim", "s_suppkey",
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")(_ => ())
    dim("month_dim", "month_start",
      "SELECT DISTINCT CAST(date_trunc('MONTH', o_orderdate) AS TIMESTAMP) AS month_start " +
        "FROM orders")(_ => ())
  }

  private def loadFact(src: Catalog, tgt: Catalog): EtlProcess = {
    val p = new EtlProcess(src, tgt, "lineitem_fact")
    p.idOrder = Seq("l_orderkey", "l_linenumber")
    p.extract(
      "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, " +
        "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, " +
        "o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
    p.transform("l_returnflag", "l_linestatus").strip().lower()
    p.transform("o_orderpriority").strip().lower().replace(" ", "_")
    p.link("customer_id", target = "o_custkey", tableName = "customer_dim",
      childField = "c_custkey")
    p.link("part_id", target = "l_partkey", tableName = "part_dim",
      childField = "p_partkey")
    p.link("supplier_id", target = "l_suppkey", tableName = "supplier_dim",
      childField = "s_suppkey")
    p.linkClosest("month_id", target = "o_orderdate", tableName = "month_dim",
      childField = "month_start", method = "<=")
    p.ignore("o_custkey", "l_partkey", "l_suppkey")
    p.load()
    p
  }

  def pass(ctx: Ctx, key: String): Unit = {
    passNo += 1
    val tgtDir = s"$work/cube-$passNo"
    val src = new Catalog(spark, srcDir)
    val tgt = new Catalog(spark, tgtDir)
    ctx.pass(key) {
      ctx.op("etl.dim_load")(loadDims(src, tgt))(_ => ())
      ctx.op("etl.fact_load", Some("write"))(loadFact(src, tgt))(_ => ()).foreach { p =>
        (1 to ReadBacks).foreach(_ => readBack(ctx, p))
      }
      corpus.run(ctx)
    }
    lastBytesPerRow =
      Workload.bytesUnder(spark, s"$tgtDir/lineitem_fact").toDouble / factRows
    if (passNo > 1) Workload.delete(spark, s"$work/cube-${passNo - 1}")
  }

  private def readBack(ctx: Ctx, p: EtlProcess): Unit =
    ctx.op("etl.read_back", Some("read")) {
      val fact = if (corrupt) p.result().where(col("id") =!= 1L) else p.result()
      fact.agg(count(lit(1)), min("id"), max("id"), sum("id"),
        count("customer_id"), sum("customer_id"), count("part_id"), sum("part_id"),
        count("supplier_id"), sum("supplier_id"), count("month_id"), sum("month_id"))
        .head()
    } { r =>
      val n = expected.getLong(0)
      require(r.getLong(0) == n, s"fact rows ${r.getLong(0)} != $n")
      require(r.getLong(1) == 1L && r.getLong(2) == n &&
        r.getLong(3) == n * (n + 1) / 2, "surrogate ids are not dense 1..n")
      for ((link, i) <- Seq("customer", "part", "supplier", "month").zipWithIndex) {
        val (c, s) = (r.getLong(4 + 2 * i), r.getLong(5 + 2 * i))
        val (ec, es) = (expected.getLong(1 + 2 * i), expected.getLong(2 + 2 * i))
        require(c == ec && s == es,
          s"$link link: non-null $c sum $s, expected $ec and $es")
      }
    }

  def bytesPerRow: Double = lastBytesPerRow

  override def layerExtras(ctx: Ctx): Map[String, Double] = corpus.layerExtras(ctx)
}

object CubeBuild {
  /** Read-backs per pass: one would give too few read samples per run. */
  val ReadBacks = 5
}
