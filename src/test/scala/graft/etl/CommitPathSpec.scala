package graft.etl

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}

/** The commit path under a race: every library commit, with one
  * competing append injected through [[VersionedTable.preCommitHook]] at
  * its first CAS, must lose that CAS, re-derive against the new head and
  * land one version later, keep the competitor's row, stamp the same
  * history label as an unraced commit, and leave no staged file behind.
  * SQL row-level statements refuse the race instead (their rows were
  * derived from the superseded state). */
class CommitPathSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse = tmpDir("gcommit")
  spark.conf.set("spark.sql.catalog.gcommit",
    classOf[graft.sources.GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gcommit.dir", warehouse)
  private val sqlCat = new Catalog(spark, warehouse)

  private def rows(ks: Range) =
    ks.map(k => (k.toLong, k * 1.5, s"s$k", k)).toDF("k", "v", "s", "n")

  /** Two appends (two small files), optionally switched to merge-on-read. */
  private def seeded(mor: Boolean = false): Catalog = {
    val c = new Catalog(spark, tmpDir("commitpath"))
    VersionedTable.load(c, "t", rows(1 to 6), idOrder = Seq("k"))
    VersionedTable.load(c, "t", rows(7 to 9), idOrder = Seq("k"))
    if (mor) VersionedTable.setTableProps(c, "t",
      Map("write.mode" -> "merge-on-read"), Nil)
    c
  }

  private val RivalKey = 100L

  private def rival(c: Catalog, table: String = "t", k: Long = RivalKey): Long =
    VersionedTable.load(c, table,
      Seq((k, 0.5, "rival", k.toInt)).toDF("k", "v", "s", "n"), idOrder = Seq("k"))

  /** Run `op` with one competing append committed at its first CAS. */
  private def raced[A](compete: => Unit)(op: => A): A = {
    var fired = false
    val out = VersionedTable.preCommitHook.withValue(() =>
      if (!fired) { fired = true; compete })(op)
    assert(fired, "the operation never reached a manifest CAS")
    out
  }

  private def labels(c: Catalog, table: String): Map[Long, String] =
    VersionedTable.history(c, table).select("version", "operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def keysAt(c: Catalog, table: String, v: Long): Set[Long] =
    VersionedTable.readVersion(c, table, v).select("k").as[Long].collect().toSet

  private def pathOf(p: String) = new Path(p).toUri.getPath

  /** No staged batch outlives its attempt: every parquet file and DV
    * sidecar under the data dir is referenced by a retained manifest, and
    * the statement staging dir holds nothing. */
  private def assertNoLeak(c: Catalog, table: String): Unit = {
    val dataDir = VersionedTable.dataDirPath(c, table)
    val mans = VersionedTable.versions(c, table)
      .map(v => VersionedTable.readManifest(c, table, v).get)
    val referenced = mans.flatMap(m => m.files.map(r =>
      pathOf(new Path(dataDir, r).toString))).toSet
    val sidecars = mans.flatMap(m => m.dvs.values.map { case (p, _) =>
      pathOf(new Path(dataDir, p).toString) }).toSet
    val fs = new Path(dataDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(dataDir), true)
    val onDisk = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) onDisk += pathOf(it.next().getPath.toString)
    val leakedParquet = onDisk.filter(_.endsWith(".parquet")).filterNot(referenced)
    assert(leakedParquet.isEmpty, s"unreferenced data files: $leakedParquet")
    val leakedDv = onDisk.filter(_.endsWith(".dv")).filterNot(sidecars)
    assert(leakedDv.isEmpty, s"unreferenced DV sidecars: $leakedDv")
    val stage = new Path(s"${c.dirPath(table)}.__vstage")
    val staged = if (fs.exists(stage)) fs.listStatus(stage).map(_.getPath).toSeq
      else Nil
    assert(staged.isEmpty, s"staging left behind: $staged")
  }

  /** A library commit raced by one append: lands at head + 2 under
    * `label`, the append at head + 1 under "load". */
  private def libraryCase(name: String, label: String, mor: Boolean = false,
                          prepare: Catalog => Unit = _ => (),
                          rivalAtHead: Boolean = true)
                         (op: Catalog => Long): Unit =
    test(s"$name: a competing append wins the first CAS, $label lands after it") {
      val c = seeded(mor)
      prepare(c)
      val h = VersionedTable.currentVersion(c, "t").get
      val v = raced(rival(c))(op(c))
      assert(v == h + 2, s"$name committed v$v, expected v${h + 2}")
      assert(VersionedTable.currentVersion(c, "t").contains(h + 2))
      val ops = labels(c, "t")
      assert(ops(h + 1) == "load", ops.toString)
      assert(ops(h + 2) == label, ops.toString)
      assert(keysAt(c, "t", h + 1).contains(RivalKey))
      // a rollback restores an older state on purpose: the rival's row
      // stays in history, not at the head
      assert(keysAt(c, "t", h + 2).contains(RivalKey) == rivalAtHead)
      assertNoLeak(c, "t")
    }

  libraryCase("setPartitionSpec", "setPartitionSpec")(c =>
    VersionedTable.setPartitionSpec(c, "t",
      Seq(VersionedTable.PartTransform("identity", "s"))))
  libraryCase("setTableProps", "setTableProps")(c =>
    VersionedTable.setTableProps(c, "t", Map("owner" -> "etl"), Nil))
  libraryCase("addCheckConstraint", "addCheckConstraint")(c =>
    VersionedTable.addCheckConstraint(c, "t", "k_pos", "k > 0"))
  libraryCase("dropCheckConstraint", "dropCheckConstraint",
    prepare = c => VersionedTable.addCheckConstraint(c, "t", "k_pos", "k > 0"))(c =>
    VersionedTable.dropCheckConstraint(c, "t", "k_pos"))
  libraryCase("setColumnDefault", "setColumnDefault")(c =>
    VersionedTable.setColumnDefault(c, "t", "s", "'dflt'"))
  libraryCase("setColumnComment", "setColumnComment")(c =>
    VersionedTable.setColumnComment(c, "t", "s", "a comment"))
  libraryCase("widenSchema", "widenSchema")(c =>
    VersionedTable.widenSchema(c, "t",
      Seq(StructField("extra", StringType, nullable = true))))
  libraryCase("widenColumnType", "widenColumnType")(c =>
    VersionedTable.widenColumnType(c, "t", "n", LongType))
  libraryCase("renameColumn", "renameColumn")(c =>
    VersionedTable.renameColumn(c, "t", "s", "s2"))
  libraryCase("dropColumns", "dropColumn")(c =>
    VersionedTable.dropColumns(c, "t", Seq("s")))
  libraryCase("copy-on-write delete", "delete")(c =>
    VersionedTable.delete(c, "t", col("k") === 2L))
  libraryCase("merge-on-read delete", "delete", mor = true)(c =>
    VersionedTable.delete(c, "t", col("k") === 2L))
  libraryCase("copy-on-write deleteKeys", "deleteKeys")(c =>
    VersionedTable.deleteKeys(c, "t", Seq(3L).toDF("k"), Seq("k")))
  libraryCase("merge-on-read deleteKeys", "deleteKeys", mor = true)(c =>
    VersionedTable.deleteKeys(c, "t", Seq(3L).toDF("k"), Seq("k")))
  libraryCase("merge-on-read keyed upsert", "load", mor = true)(c =>
    VersionedTable.load(c, "t",
      Seq((2L, -1.0, "upd", 2), (50L, 5.0, "new", 50)).toDF("k", "v", "s", "n"),
      upsertFields = Seq("k"), idOrder = Seq("k")))
  libraryCase("copy-on-write keyed load on a bucketed table", "load",
    prepare = c => VersionedTable.load(c, "t", rows(10 to 12), idOrder = Seq("k"),
      bucketBy = Some((Seq("k"), 4))))(c =>
    VersionedTable.load(c, "t",
      Seq((2L, -1.0, "upd", 2), (50L, 5.0, "new", 50)).toDF("k", "v", "s", "n"),
      upsertFields = Seq("k"), idOrder = Seq("k")))
  libraryCase("replaceContents", "replaceContents", rivalAtHead = false)(c =>
    VersionedTable.replaceContents(c, "t", rows(30 to 32)))
  libraryCase("replaceAll", "replaceAll", rivalAtHead = false)(c =>
    VersionedTable.replaceAll(c, "t", rows(30 to 32), Map.empty))
  libraryCase("compact", "compact")(c =>
    VersionedTable.compact(c, "t", 64L * 1024 * 1024))
  libraryCase("recluster", "recluster")(c =>
    VersionedTable.recluster(c, "t", Seq("k"), 64L * 1024 * 1024))
  libraryCase("rollback", "rollback", rivalAtHead = false)(c =>
    VersionedTable.rollback(c, "t", 1L))
  libraryCase("upsertEqualityDelete", "eq-upsert")(c =>
    VersionedTable.upsertEqualityDelete(c, "t",
      Seq((4L, -4.0, "eq", 4)).toDF("k", "v", "s", "n"), Seq("k")))
  libraryCase("deleteKeysEquality", "eq-delete")(c =>
    VersionedTable.deleteKeysEquality(c, "t", Seq(5L).toDF("k"), Seq("k")))

  test("cloneTable: a writer that creates the clone target first makes the clone refuse") {
    val c = seeded()
    val dst = new Catalog(spark, tmpDir("commitpath-clone"))
    val e = intercept[IllegalArgumentException](
      raced(rival(dst, "c"))(VersionedTable.cloneTable(c, "t", dst, "c", 2L)))
    assert(e.getMessage.contains("clone target 'c' already exists"), e.getMessage)
    assert(VersionedTable.versions(dst, "c") == Seq(1L))
    assert(labels(dst, "c")(1L) == "load")
    assert(keysAt(dst, "c", 1L) == Set(RivalKey))
    // unraced, the clone commits v1 under its own label
    VersionedTable.cloneTable(c, "t", dst, "c2", 2L)
    assert(labels(dst, "c2") == Map(1L -> "clone"))
  }

  test("fastForward: a commit on the source since the branch point makes the publish refuse") {
    val c = seeded()
    val br = new Catalog(spark, tmpDir("commitpath-branch"))
    VersionedTable.cloneTable(c, "t", br, "b", 2L)
    VersionedTable.load(br, "b", rows(20 to 21), idOrder = Seq("k"))
    val e = intercept[IllegalArgumentException](
      raced(rival(c))(VersionedTable.fastForward(c, "t", br, "b")))
    assert(e.getMessage.contains("cannot fast-forward 't'"), e.getMessage)
    assert(VersionedTable.versions(c, "t") == Seq(1L, 2L, 3L))
    assert(labels(c, "t")(3L) == "load")
    assert(keysAt(c, "t", 3L).contains(RivalKey))
    assert(!keysAt(c, "t", 3L).contains(20L), "the branch must not publish")
    // unraced, the publish commits under its own label
    val br2 = new Catalog(spark, tmpDir("commitpath-branch2"))
    VersionedTable.cloneTable(c, "t", br2, "b", 3L)
    VersionedTable.load(br2, "b", rows(22 to 22), idOrder = Seq("k"))
    assert(VersionedTable.fastForward(c, "t", br2, "b") == 4L)
    assert(labels(c, "t")(4L) == "fastForward")
  }

  for ((mode, props) <- Seq(
    "copy-on-write" -> "",
    "merge-on-read" -> " TBLPROPERTIES ('write.mode' = 'merge-on-read')")) {
    test(s"SQL UPDATE on a $mode table refuses a lost race and removes its staging") {
      val t = s"u_${mode.replace('-', '_')}"
      spark.sql(s"CREATE TABLE gcommit.default.$t (k BIGINT, v DOUBLE)$props")
      spark.sql(s"INSERT INTO gcommit.default.$t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
      val h = VersionedTable.currentVersion(sqlCat, t).get
      val e = intercept[Exception](raced(
        VersionedTable.load(sqlCat, t, Seq((RivalKey, 9.0)).toDF("k", "v")))(
        spark.sql(s"UPDATE gcommit.default.$t SET v = -1.0 WHERE k = 1")))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
        s"expected a ConcurrentModificationException, got $e")
      // the rival's commit is the only one: the statement added no version
      assert(VersionedTable.currentVersion(sqlCat, t).contains(h + 1))
      assert(labels(sqlCat, t)(h + 1) == "load")
      val head = VersionedTable.read(sqlCat, t).select("k", "v")
        .as[(Long, Double)].collect().toMap
      assert(head == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, RivalKey -> 9.0))
      assertNoLeak(sqlCat, t)
    }
  }

  /** A commit whose staged rows violate the table's CHECK constraint
    * (`k > 0`): refused, no version added, nothing staged left behind. */
  private def checkCase(name: String)(op: Catalog => Any): Unit =
    test(s"$name: staged rows that violate the CHECK are refused and removed") {
      val c = seeded()
      VersionedTable.addCheckConstraint(c, "t", "k_pos", "k > 0")
      val h = VersionedTable.currentVersion(c, "t").get
      val e = intercept[IllegalArgumentException](op(c))
      assert(e.getMessage.contains("CHECK constraint violated"), e.getMessage)
      assert(VersionedTable.currentVersion(c, "t").contains(h))
      assertNoLeak(c, "t")
    }

  private val negative = rows(1 to 2).withColumn("k", -col("k"))

  checkCase("load")(c => VersionedTable.load(c, "t", negative, idOrder = Seq("k")))
  checkCase("replaceAll")(c => VersionedTable.replaceAll(c, "t", negative,
    Map(VersionedTable.CheckConstraintProp -> "k > 0")))
  checkCase("replaceContents")(c => VersionedTable.replaceContents(c, "t", negative))
  checkCase("upsertEqualityDelete")(c =>
    VersionedTable.upsertEqualityDelete(c, "t", negative, Seq("k")))

  for ((mode, props) <- Seq(
    "copy-on-write" -> "",
    "merge-on-read" -> " TBLPROPERTIES ('write.mode' = 'merge-on-read')")) {
    test(s"SQL UPDATE on a $mode table refuses rows that violate the CHECK and removes its staging") {
      val t = s"chk_${mode.replace('-', '_')}"
      spark.sql(s"CREATE TABLE gcommit.default.$t (k BIGINT, v DOUBLE)$props")
      spark.sql(s"INSERT INTO gcommit.default.$t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
      VersionedTable.addCheckConstraint(sqlCat, t, "k_pos", "k > 0")
      val h = VersionedTable.currentVersion(sqlCat, t).get
      val e = intercept[Exception](
        spark.sql(s"UPDATE gcommit.default.$t SET k = -k WHERE k = 1"))
      // Spark enforces the constraints the table reports in the write
      // tasks, before the staged files reach the engine's own gate; either
      // refusal must leave no version and no staged file
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(x => Option(x.getMessage).exists(m =>
        m.contains("CHECK constraint") && m.contains("violated"))),
        s"expected a CHECK violation, got $e")
      assert(VersionedTable.currentVersion(sqlCat, t).contains(h))
      val head = VersionedTable.read(sqlCat, t).select("k", "v")
        .as[(Long, Double)].collect().toMap
      assert(head == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
      assertNoLeak(sqlCat, t)
    }
  }

  test("a writer that loses every race fails after the retry budget and leaks no staged file") {
    val c = seeded()
    val h = VersionedTable.currentVersion(c, "t").get
    var inRival = false
    var next = RivalKey
    val e = intercept[java.io.IOException](
      VersionedTable.preCommitHook.withValue(() =>
        if (!inRival) {
          inRival = true
          try { next += 1; rival(c, k = next) } finally inRival = false
        }) {
        VersionedTable.load(c, "t", rows(10 to 11), idOrder = Seq("k"))
      })
    assert(e.getMessage.contains("lost the commit race 20 times"), e.getMessage)
    val head = VersionedTable.currentVersion(c, "t").get
    assert(head == h + 20, "one rival commit per lost attempt")
    assert(!keysAt(c, "t", head).contains(10L))
    assertNoLeak(c, "t")
  }
}
