package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Catalog, MaterializedAgg, VersionedCatalog, VersionedTable}
import graft.etl.MaterializedAgg.AggCol

/** `versioned_mix`: writes and reads against one versioned table. The
  * fixture loads `orders` bucketed on `o_orderkey` and a view of it
  * grouped by status. Each round upserts a seeded batch (half updates of
  * existing keys, half new keys), reads a few keys back (hits and
  * misses), reads the round's change feed and runs one range aggregate
  * through the SQL catalog; every [[ViewEvery]] rounds the feed since the
  * last refresh is folded into the view. Table properties stay at their
  * defaults.
  *
  * Every result is checked against a last-writer-wins model the harness
  * keeps of the batches it generated. */
final class VersionedMix(spark: SparkSession, seed: Long, rows: Long,
                         batchRows: Int) extends Workload {
  import Ctx.require
  import VersionedMix._

  private var tgt: VersionedCatalog = _
  /** The view is a flat (Loader-managed) table, so it lives beside the
    * versioned warehouse rather than in it. */
  private var views: Catalog = _
  private var catalog: String = _
  private val model = mutable.HashMap.empty[Long, Order]
  private val keys = mutable.ArrayBuffer.empty[Long]
  private var version = 0L
  private var viewVersion = 0L
  private var nextKey = 0L
  private var round = 0
  private var rnd: java.util.Random = _

  /** The initial load and the view are engine calls; the model is built
    * from the generated input, not read back from the engine. */
  def buildFixture(ctx: Ctx, dir: String): Unit = {
    tgt = new VersionedCatalog(spark, s"$dir/warehouse")
    views = new Catalog(spark, s"$dir/views")
    val initPath = s"$dir/orders.parquet"
    Gen.orders(spark, seed, rows, math.max(rows / 10, 1)).write.parquet(initPath)
    val init = spark.read.parquet(initPath)
    model.clear()
    keys.clear()
    init.select(Cols.map(col): _*).collect()
      .foreach { r => model(r.getLong(0)) = order(r); keys += r.getLong(0) }
    ctx.engine {
      version = VersionedTable.load(tgt, Table, init, idOrder = Seq(Key),
        bucketBy = Some((Seq(Key), Buckets)))
      MaterializedAgg.refresh(views, View, VersionedTable.read(tgt, Table),
        Seq("o_orderstatus"), Aggs)
    }
    viewVersion = version
    catalog = "pb"
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.dir", tgt.dir)
    nextKey = rows
    round = 0
    rnd = new java.util.Random(seed)
  }

  private def order(r: Row): Order = Order(r.getLong(1), r.getString(2),
    r.getDouble(3), r.getTimestamp(4).getTime, r.getString(5))

  private def price(): Double = (100000L + (rnd.nextDouble() * 39900000L).toLong) / 100.0

  private def status(): String = Gen.Statuses(rnd.nextInt(Gen.Statuses.size))

  private def priority(): String = Gen.Priorities(rnd.nextInt(Gen.Priorities.size))

  /** Half updates of distinct existing keys, half new keys. */
  private def batch(): Seq[(Long, Order)] = {
    val upd = mutable.LinkedHashSet.empty[Long]
    while (upd.size < batchRows / 2) upd += keys(rnd.nextInt(keys.size))
    val updates = upd.toSeq.map { k =>
      k -> model(k).copy(status = status(), price = price(), priority = priority())
    }
    val inserts = (0 until batchRows - batchRows / 2).map { i =>
      (nextKey + i) -> Order(rnd.nextInt(math.max(rows / 10, 1).toInt).toLong, status(),
        price(), DayMs * (8035L + rnd.nextInt(3652)), priority())
    }
    updates ++ inserts
  }

  private def toDf(b: Seq[(Long, Order)]) =
    spark.createDataFrame(b.map { case (k, o) =>
      Row(k, o.cust, o.status, o.price, new java.sql.Timestamp(o.dateMs), o.priority)
    }.asJava, Schema)

  private def viewExpected: Map[String, (Long, Double)] =
    model.values.groupBy(_.status).map { case (s, os) => s -> (os.size.toLong, os.map(_.price).sum) }

  private def checkView(): Unit = {
    val got = MaterializedAgg.read(views, View, Seq("o_orderstatus"), Aggs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      .filter(_._2._1 != 0L)
    val exp = viewExpected
    require(got.keySet == exp.keySet, s"view groups ${got.keySet} != ${exp.keySet}")
    exp.foreach { case (s, (n, p)) =>
      val (gn, gp) = got(s)
      require(gn == n && math.abs(gp - p) <= 1e-9 * math.abs(p),
        s"view group $s: ($gn, $gp) != ($n, $p)")
    }
  }

  private def applyView(): Unit =
    MaterializedAgg.applyChanges(views, View,
      VersionedTable.changes(tgt, Table, viewVersion, version, Seq(Key), includeOld = true),
      Seq("o_orderstatus"), Aggs)

  def pass(ctx: Ctx, key: String): Unit = {
    round += 1
    val b = batch()
    ctx.pass(key) {
      val committed = ctx.op("vt.upsert", Some("write")) {
        VersionedTable.load(tgt, Table, toDf(b), upsertFields = Seq(Key))
      } { v => require(v == version + 1, s"commit made version $v after $version") }
      committed.foreach { v =>
        val delta = b.count { case (k, o) => !model.get(k).contains(o) }
        b.foreach { case (k, o) => if (model.put(k, o).isEmpty) keys += k }
        nextKey += b.size - b.size / 2
        version = v

        val hits = Seq.fill(LookupHits)(keys(rnd.nextInt(keys.size)))
        val misses = Seq.fill(LookupMisses)(nextKey + 1000000L + rnd.nextInt(1000000))
        // the read metric is a present key's latency: misses prune to fewer
        // files and run about twice as fast, so mixing them into one
        // median would make it flip between the two modes
        (hits.map(_ -> Some("read")) ++ misses.map(_ -> None)).foreach { case (k, metric) =>
          ctx.op("vt.lookup", metric) {
            VersionedTable.lookup(tgt, Table, version, Map(Key -> k))
              .select(Cols.map(col): _*).collect()
          } { rs =>
            ctx.count("lookup_rows", rs.length.toDouble)
            model.get(k) match {
              case Some(o) => require(rs.length == 1 && order(rs(0)) == o,
                s"lookup $k returned ${rs.toSeq}, expected $o")
              case None => require(rs.isEmpty, s"lookup of absent key $k returned ${rs.toSeq}")
            }
          }
        }

        ctx.op("vt.changes") {
          VersionedTable.changes(tgt, Table, version - 1, version, Seq(Key)).count()
        } { n => require(n == delta, s"change feed has $n rows, model delta is $delta") }

        val width = math.max(nextKey / 20, 1L)
        val lo = (rnd.nextDouble() * (nextKey - width)).toLong
        ctx.op("sql.range_agg") {
          spark.sql(s"SELECT count(*), sum(o_totalprice) FROM $catalog.default.$Table " +
            s"WHERE $Key BETWEEN $lo AND ${lo + width - 1}").head()
        } { r =>
          val in = model.iterator.filter { case (k, _) => k >= lo && k < lo + width }
            .map(_._2.price).toSeq
          ctx.count("scan_rows", in.size.toDouble)
          require(r.getLong(0) == in.size && math.abs(r.getDouble(1) - in.sum) <=
            1e-9 * math.abs(in.sum), s"range [$lo, ${lo + width}) aggregate " +
            s"(${r.getLong(0)}, ${r.getDouble(1)}) != (${in.size}, ${in.sum})")
        }
      }
    }
    // outside the round's time: a refresh every few rounds would otherwise
    // make round times bimodal
    if (round % ViewEvery == 1 && viewVersion < version)
      ctx.op("mv.apply_changes")(applyView()) { _ =>
        viewVersion = version
        checkView()
      }
  }

  override def finish(ctx: Ctx): Unit = {
    ctx.verify("final table equals the model") {
      val got = VersionedTable.read(tgt, Table).select(Cols.map(col): _*).collect()
      require(got.length == model.size, s"table has ${got.length} rows, model ${model.size}")
      got.foreach(r => require(model.get(r.getLong(0)).contains(order(r)),
        s"row ${r.getLong(0)} differs from the model"))
    }
    ctx.verify("view equals a fresh aggregate of the model") {
      if (viewVersion < version) { applyView(); viewVersion = version }
      checkView()
    }
  }

  private def headFiles: Seq[String] = VersionedTable.files(tgt, Table, version)

  def bytesPerRow: Double =
    headFiles.map(Workload.bytesUnder(spark, _)).sum.toDouble / model.size

  override def layerExtras(ctx: Ctx): Map[String, Double] = {
    val upserts = ctx.tracer.spans.getOrElse("vt.upsert", Nil)
    val lookups = ctx.tracer.spans.getOrElse("vt.lookup", Nil)
    val scans = ctx.tracer.spans.getOrElse("sql.range_agg", Nil)
    Map(
      "vt.write_amp" -> Ctx.median(upserts.map(_.outputBytes.toDouble)) /
        (batchRows * bytesPerRow),
      "vt.head_files" -> headFiles.size.toDouble,
      "vt.rows_read_per_lookup" -> lookups.map(_.inputRecords).sum.toDouble /
        math.max(ctx.counts("lookup_rows"), 1.0),
      "sql.rows_read_per_row" -> scans.map(_.inputRecords).sum.toDouble /
        math.max(ctx.counts("scan_rows"), 1.0))
  }
}

object VersionedMix {
  private final case class Order(cust: Long, status: String, price: Double,
                                 dateMs: Long, priority: String)

  val Table = "orders"
  val View = "orders_by_status"
  val Key = "o_orderkey"
  val Buckets = 8
  /** Rounds 1, 4, 7, ... refresh the view: the first warm-up round, then
    * the second timed round, which is the first traced one in a traced
    * run. */
  val ViewEvery = 3
  val LookupHits = 4
  val LookupMisses = 2
  private val DayMs = 86400000L
  val Cols: Seq[String] = Seq(Key, "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  val Aggs: Seq[AggCol] = Seq(AggCol("count", "", "n"), AggCol("sum", "o_totalprice", "price_sum"))

  import org.apache.spark.sql.types._
  val Schema: StructType = StructType(Seq(
    StructField(Key, LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
}
