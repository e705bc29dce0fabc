package graft.etl

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{JobLedger, ZonePred}
import org.apache.spark.sql.types._

/** Versioned reads and commits plan from the manifest: scans are built
  * from recorded file sizes (no status calls, no listing job), a lookup's
  * bucket id is computed on the driver (no job), and a commit's max id
  * comes from the one footer pass that records the new files' stats. */
class ManifestPlanningSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat() = new Catalog(spark, tmpDir("vtplan"))

  private val warehouse = tmpDir("gplan")
  spark.conf.set("spark.sql.catalog.gplan",
    classOf[graft.sources.GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gplan.dir", warehouse)
  private val sqlCat = new Catalog(spark, warehouse)

  private def isListing(desc: String) = desc.startsWith("Listing leaf files")

  // ------------------------------------------------------------ job counts

  test("a bucketed lookup hit runs exactly one job, a zone-pruned miss none") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t",
      (1L to 400L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"), bucketBy = Some((Seq("k"), 8)))
    val v = VersionedTable.currentVersion(tgt, "t").get
    val (hit, hitJobs) = JobLedger(spark) {
      VersionedTable.lookup(tgt, "t", v, Map("k" -> 137L)).select("s").collect()
    }
    assert(hit.map(_.getString(0)).toSeq == Seq("v137"))
    assert(hitJobs.size == 1, s"a lookup hit must run only its scan: $hitJobs")
    // above every file's recorded key range: no file can hold it
    val (miss, missJobs) = JobLedger(spark) {
      VersionedTable.lookup(tgt, "t", v, Map("k" -> 1000000L)).collect()
    }
    assert(miss.isEmpty)
    assert(missJobs.isEmpty, s"a zone-pruned miss must run no job: $missJobs")
  }

  test("change feeds and scoped upserts over more than 32 files start no listing job") {
    val tgt = freshCat()
    val n = 40
    VersionedTable.load(tgt, "t",
      (1L to 800L).map(i => (i, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"), bucketBy = Some((Seq("k"), n)))
    val v1 = VersionedTable.currentVersion(tgt, "t").get
    val files1 = VersionedTable.files(tgt, "t", v1)
    assert(files1.size > 32, s"the setup needs > 32 files: ${files1.size}")
    // half the keys: the merge input reads (nearly) every head file
    val (v2, upsertJobs) = JobLedger(spark) {
      VersionedTable.load(tgt, "t",
        (1L to 800L by 2).map(i => (i, -i * 1.0)).toDF("k", "v"),
        upsertFields = Seq("k"))
    }
    val rewritten = files1.filterNot(VersionedTable.files(tgt, "t", v2).toSet)
    assert(rewritten.size > 32,
      s"the setup needs > 32 touched files: ${rewritten.size}")
    assert(!upsertJobs.exists(isListing),
      s"the scoped upsert's merge input must plan from the manifest: $upsertJobs")
    val (feed, buildJobs) = JobLedger(spark) {
      VersionedTable.changes(tgt, "t", v1, v2, Seq("k"))
    }
    assert(buildJobs.isEmpty, s"building the change feed must run no job: $buildJobs")
    assert(feed.where(col("op") === "update").count() == 400L)
    assert(feed.count() == 400L)
  }

  // ------------------------------------------- driver-side bucket id

  /** A manifest bucketed on `k` of type `dt`, `n` ways — all
    * [[VersionedTable.bucketsFor]] reads. */
  private def bucketedMan(dt: DataType, n: Int) =
    VersionedTable.Manifest(1L, None, Some((Seq("k"), n)), Nil,
      props = Map(VersionedTable.SchemaProp ->
        StructType(Seq(StructField("k", dt))).json))

  /** Each value's bucket as a Spark job computes it with the writer's
    * [[Loader.bucketIdExpr]], against the driver-side id for `probe(v)`. */
  private def assertSameBucket(dt: DataType, values: Seq[Any],
                               probe: Any => Any = identity): Unit = {
    val n = 16
    val df = spark.createDataFrame(values.map(v => Row(v)).asJava,
      StructType(Seq(StructField("k", dt))))
    val byJob = df.select(col("k"), Loader.bucketIdExpr(Seq("k"), n))
      .collect().map(r => r.get(0) -> r.getInt(1))
    assert(byJob.length == values.size)
    val man = bucketedMan(dt, n)
    byJob.foreach { case (v, b) =>
      val p = probe(v)
      assert(VersionedTable.bucketsFor(man, ZonePred.Leaf("k", "eq", Seq(p)))
        .contains(Set(b)), s"$dt key $v (probed as $p) must hash to bucket $b")
    }
  }

  test("the driver-side bucket id equals bucketIdExpr for every key type") {
    assertSameBucket(LongType, Seq(0L, 7L, -42L, Long.MaxValue, Long.MinValue))
    assertSameBucket(IntegerType, Seq(0, 7, -42, Int.MaxValue))
    assertSameBucket(StringType, Seq("", "a", "Zürich", "with space "))
    assertSameBucket(BooleanType, Seq(true, false))
    assertSameBucket(DateType, Seq("1970-01-01", "2024-02-29", "1899-12-31")
      .map(java.sql.Date.valueOf))
    assertSameBucket(TimestampType, Seq("1970-01-01 00:00:00",
      "2024-02-29 23:59:59.123456", "1950-06-15 12:00:00.5")
      .map(java.sql.Timestamp.valueOf))
    assertSameBucket(DoubleType, Seq(0.1, -2.5, 1e20, 123456789.125, 1e-7,
      Double.NaN))
    assertSameBucket(DecimalType(12, 2), Seq("1.50", "-1234567890.99", "0.01")
      .map(new java.math.BigDecimal(_)))
    // a narrower literal casts to the column's type before stringifying,
    // as Spark's comparison does: Int keys against Long and Double columns
    assertSameBucket(LongType, Seq(0L, 7L, -42L), v => v.asInstanceOf[Long].toInt)
    assertSameBucket(DoubleType, Seq(1.0, 7.0, -42.0, 1e6),
      v => v.asInstanceOf[Double].toInt)
    assertSameBucket(DecimalType(12, 2), Seq(new java.math.BigDecimal("1.50")),
      _ => new java.math.BigDecimal("1.5"))
  }

  test("values whose eq match does not pin the key string never restrict buckets") {
    def pins(dt: DataType, v: Any) =
      VersionedTable.bucketsFor(bucketedMan(dt, 16),
        ZonePred.Leaf("k", "eq", Seq(v))).isDefined
    // a string column compared with a number compares numerically ('05' = 5)
    assert(!pins(StringType, 5L))
    // a long column against a double compares as doubles (2^53 + 1 = 2^53)
    assert(!pins(LongType, 9.007199254740992e15))
    // 0.0 = -0.0, but the two stringify apart
    assert(!pins(DoubleType, 0.0) && !pins(DoubleType, -0.0))
    // a string that does not parse as the column's type
    assert(!pins(DateType, "not a date"))
    // a string that does: cast, then hashed like the written date
    assert(pins(DateType, "2024-02-29"))
  }

  test("lookups hit date, double and decimal keys through their bucket") {
    val tgt = freshCat()
    val rows = (1 to 60).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        i.toDouble, new java.math.BigDecimal(i).movePointLeft(2), s"v$i")
    }
    VersionedTable.load(tgt, "d", rows.toDF("kd", "kx", "kc", "s")
      .withColumn("kc", col("kc").cast(DecimalType(10, 2))),
      idOrder = Seq("kx"), bucketBy = Some((Seq("kd"), 4)))
    VersionedTable.load(tgt, "x", rows.toDF("kd", "kx", "kc", "s"),
      idOrder = Seq("kx"), bucketBy = Some((Seq("kx"), 4)))
    VersionedTable.load(tgt, "c", rows.toDF("kd", "kx", "kc", "s")
      .withColumn("kc", col("kc").cast(DecimalType(10, 2))),
      idOrder = Seq("kx"), bucketBy = Some((Seq("kc"), 4)))
    def one(t: String, key: Map[String, Any]): Seq[String] = {
      val v = VersionedTable.currentVersion(tgt, t).get
      val df = VersionedTable.lookup(tgt, t, v, key)
      val scanned = df.inputFiles.length
      assert(scanned < VersionedTable.files(tgt, t, v).size,
        s"$t lookup $key must prune to its bucket")
      df.select("s").as[String].collect().toSeq
    }
    Seq(3, 31, 60).foreach { i =>
      assert(one("d", Map("kd" -> rows(i - 1)._1)) == Seq(s"v$i"))
      // an Int key against the double column: the literal's own string
      // ("3") would miss the written rows' "3.0"
      assert(one("x", Map("kx" -> i)) == Seq(s"v$i"))
      assert(one("c", Map("kc" -> new java.math.BigDecimal(i).movePointLeft(2)))
        == Seq(s"v$i"))
    }
  }

  // ------------------------------------------------------------- max id

  private def assertMaxIdExact(tgt: Catalog, t: String): Unit = {
    val v = VersionedTable.currentVersion(tgt, t).get
    val recorded = VersionedTable.readManifest(tgt, t, v).get.maxId
    val actual = VersionedTable.readVersion(tgt, t, v).agg(max("id")).head().getLong(0)
    assert(recorded.contains(actual), s"$t v$v: max_id $recorded, max(id) $actual")
  }

  test("the committed max_id equals max(id) after load, append and both upserts") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "f", (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    assertMaxIdExact(tgt, "f")
    VersionedTable.load(tgt, "f", (51L to 60L).map(i => (i, i * 1.0)).toDF("k", "v"))
    assertMaxIdExact(tgt, "f")
    // copy-on-write: a flat table's upsert rewrites every file
    VersionedTable.load(tgt, "f", Seq((5L, -5.0), (70L, 70.0)).toDF("k", "v"),
      upsertFields = Seq("k"))
    assertMaxIdExact(tgt, "f")
    VersionedTable.load(tgt, "b", (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"), bucketBy = Some((Seq("k"), 4)))
    val before = VersionedTable.files(tgt, "b", 1L).toSet
    VersionedTable.load(tgt, "b", Seq((5L, -5.0), (70L, 70.0)).toDF("k", "v"),
      upsertFields = Seq("k"))
    assert(VersionedTable.files(tgt, "b", 2L).exists(before.contains),
      "the setup needs a bucket-scoped upsert (untouched buckets carry)")
    assertMaxIdExact(tgt, "b")
  }

  test("new files without id statistics fall back to the strict footer pass") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t", (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    val noIdStats = s"parquet.column.statistics.enabled#${Loader.IdCol}"
    spark.conf.set(noIdStats, "false")
    try VersionedTable.load(tgt, "t",
      (51L to 60L).map(i => (i, i * 1.0)).toDF("k", "v"))
    finally spark.conf.unset(noIdStats)
    val man = VersionedTable.readManifest(tgt, "t", 2L).get
    val added = man.files.filterNot(VersionedTable.readManifest(tgt, "t", 1L).get
      .files.toSet)
    assert(added.nonEmpty && added.forall(r =>
      !man.stats.get(r).exists(_.contains(Loader.IdCol))),
      "the setup needs new files with no id range")
    // the strict pass finds populated row groups without id statistics
    // and records no floor, so the next load scans for it
    assert(man.maxId.isEmpty, s"no safe floor exists: ${man.maxId}")
    VersionedTable.load(tgt, "t", (61L to 65L).map(i => (i, i * 1.0)).toDF("k", "v"))
    val ids = VersionedTable.read(tgt, "t").select("id").as[Long].collect()
    assert(ids.length == 65 && ids.distinct.length == 65 && ids.max == 65L)
    assertMaxIdExact(tgt, "t")
  }

  private def kv(ks: Seq[Long]) = ks.map(i => (i, i * 1.0)).toDF("k", "v")

  /** `op` with id statistics off, so its new files record no id range. */
  private def withoutIdStats[A](op: => A): A = {
    val noIdStats = s"parquet.column.statistics.enabled#${Loader.IdCol}"
    spark.conf.set(noIdStats, "false")
    try op finally spark.conf.unset(noIdStats)
  }

  // every commit that stamps fresh ids: with no id range in its new
  // files, it must record no floor rather than the parent's, which sits
  // below the ids it just stamped
  for ((name, op) <- Seq[(String, String => Unit)](
    "upsertEqualityDelete" -> (t =>
      VersionedTable.upsertEqualityDelete(sqlCat, t, kv(51L to 60L), Seq("k"))),
    "replaceContents" -> (t =>
      VersionedTable.replaceContents(sqlCat, t, kv(51L to 60L))),
    "replaceAll" -> (t =>
      VersionedTable.replaceAll(sqlCat, t, kv(51L to 60L), Map.empty)),
    "merge-on-read SQL MERGE" -> { t =>
      VersionedTable.setTableProps(sqlCat, t,
        Map("write.mode" -> "merge-on-read"), Nil)
      kv(Seq(5L) ++ (51L to 60L)).createOrReplaceTempView(s"${t}_src")
      spark.sql(s"""MERGE INTO gplan.default.$t t USING ${t}_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = -s.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    })) {
    test(s"$name: fresh ids in new files without id statistics are never reissued") {
      val t = "ids_" + name.filter(_.isLetter).toLowerCase
      VersionedTable.load(sqlCat, t, kv(1L to 50L), idOrder = Seq("k"))
      val v0 = VersionedTable.currentVersion(sqlCat, t).get
      withoutIdStats(op(t))
      val v1 = VersionedTable.currentVersion(sqlCat, t).get
      val man = VersionedTable.readManifest(sqlCat, t, v1).get
      val added = man.files.filterNot(
        VersionedTable.readManifest(sqlCat, t, v0).get.files.toSet)
      assert(added.nonEmpty && added.forall(r =>
        !man.stats.get(r).exists(_.contains(Loader.IdCol))),
        "the setup needs new files with no id range")
      val stamped = VersionedTable.readVersion(sqlCat, t, v1)
        .agg(max("id")).head().getLong(0)
      assert(stamped > 50L, s"the setup needs fresh ids above 50: $stamped")
      assert(man.maxId.forall(_ >= stamped),
        s"v$v1 records floor ${man.maxId} below its max id $stamped")
      VersionedTable.load(sqlCat, t, kv(61L to 65L))
      val ids = VersionedTable.read(sqlCat, t).select("id").as[Long].collect()
      assert(ids.distinct.length == ids.length,
        s"reissued ids: ${ids.groupBy(identity).filter(_._2.length > 1).keys.toSeq.sorted}")
    }
  }
}
