package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat() = new Catalog(spark, tmpDir("vt"))

  test("append commits a new version whose manifest reuses the parent's files") {
    val tgt = freshCat()
    val v1 = VersionedTable.load(tgt, "t",
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), idOrder = Seq("k"))
    val v2 = VersionedTable.load(tgt, "t",
      Seq((3L, "c")).toDF("k", "s"), idOrder = Seq("k"))
    assert(v1 == 1L && v2 == 2L)
    val f1 = VersionedTable.files(tgt, "t", 1L).toSet
    val f2 = VersionedTable.files(tgt, "t", 2L).toSet
    assert(f1.subsetOf(f2), "append must reference the parent's files, not rewrite them")
    assert((f2 -- f1).nonEmpty, "append must add the batch's files")
  }

  test("time travel reads each committed state; ids continue across versions") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t", Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      idOrder = Seq("k"))
    VersionedTable.load(tgt, "t", Seq((3L, "c")).toDF("k", "s"), idOrder = Seq("k"))
    VersionedTable.load(tgt, "t", Seq((2L, "B2"), (4L, "d")).toDF("k", "s"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    val s1 = VersionedTable.readVersion(tgt, "t", 1L)
      .orderBy("id").select("id", "k", "s").as[(Long, Long, String)].collect.toSeq
    val s3 = VersionedTable.readVersion(tgt, "t", 3L)
      .orderBy("id").select("id", "k", "s").as[(Long, Long, String)].collect.toSeq
    assert(s1 == Seq((1L, 1L, "a"), (2L, 2L, "b")))
    assert(s3 == Seq((1L, 1L, "a"), (2L, 2L, "B2"), (3L, 3L, "c"), (4L, 4L, "d")))
    assert(VersionedTable.currentVersion(tgt, "t").contains(3L))
  }

  test("delete commits a filtered version; prior versions keep the rows") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"),
      idOrder = Seq("k"))
    val v2 = VersionedTable.delete(tgt, "t", col("k") <= 2)
    assert(v2 == 2L)
    assert(VersionedTable.readVersion(tgt, "t", 2L).select("k")
      .as[Long].collect.toSeq == Seq(3L))
    assert(VersionedTable.readVersion(tgt, "t", 1L).count() == 3L)
  }

  test("changes classifies insert, update, delete and skips unchanged keys") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"),
      idOrder = Seq("k"))
    VersionedTable.load(tgt, "t", Seq((2L, "B2"), (4L, "d")).toDF("k", "s"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    VersionedTable.delete(tgt, "t", col("k") === 1L)
    val ch = VersionedTable.changes(tgt, "t", 1L, 3L, Seq("k"))
      .select("op", "k", "s").orderBy("k")
      .as[(String, Long, String)].collect.toSeq
    assert(ch == Seq(("delete", 1L, "a"), ("update", 2L, "B2"), ("insert", 4L, "d")))
  }

  test("changes with keys that do not identify rows keeps one arbitrary row per key") {
    // pinned contract (see changes' doc): each side's rows for one key
    // tuple collapse into a single arbitrary row — no error, no extra rows
    val tgt = freshCat()
    VersionedTable.load(tgt, "t",
      Seq((1L, "x", 10L), (1L, "y", 20L), (2L, "x", 30L)).toDF("k", "g", "v"),
      idOrder = Seq("k", "g"))
    VersionedTable.load(tgt, "t", Seq((1L, "y", 21L)).toDF("k", "g", "v"),
      upsertFields = Seq("k", "g"), idOrder = Seq("k", "g"))
    VersionedTable.load(tgt, "t",
      Seq((3L, "x", 1L), (3L, "y", 2L)).toDF("k", "g", "v"), idOrder = Seq("k", "g"))
    def feed(from: Long, to: Long, keys: Seq[String]) =
      VersionedTable.changes(tgt, "t", from, to, keys).select("op", "k", "g", "v")
        .as[(String, Long, String, Long)].collect().toSeq
    // keys that identify rows: the one real update, the two real inserts
    assert(feed(1L, 2L, Seq("k", "g")) == Seq(("update", 1L, "y", 21L)))
    assert(feed(2L, 3L, Seq("k", "g")).sortBy(_._3) ==
      Seq(("insert", 3L, "x", 1L), ("insert", 3L, "y", 2L)))
    // `k` alone: both sides hold two k=1 rows, each side keeps one of
    // them, so the update shows either k=1 row or vanishes
    val loose = feed(1L, 2L, Seq("k"))
    assert(loose.size <= 1, loose.toString)
    loose.foreach(r => assert(r._1 == "update" && r._2 == 1L &&
      Set(("x", 10L), ("y", 21L)).contains((r._3, r._4)), loose.toString))
    // the two new k=3 rows surface as ONE insert of either row
    val ins = feed(2L, 3L, Seq("k"))
    assert(ins.size == 1 && ins.head._1 == "insert" && ins.head._2 == 3L &&
      Set(("x", 1L), ("y", 2L)).contains((ins.head._3, ins.head._4)), ins.toString)
  }

  test("vacuum drops old manifests and unreferenced files; current version survives") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t", Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      idOrder = Seq("k"))
    // upsert = copy-on-write full rewrite: v1's files become unreferenced
    VersionedTable.load(tgt, "t", Seq((1L, "A")).toDF("k", "s"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    val before = VersionedTable.files(tgt, "t", 1L)
    val removed = VersionedTable.vacuum(tgt, "t", keepLast = 1)
    assert(removed >= before.size, s"expected >=${before.size} files removed, got $removed")
    assert(VersionedTable.versions(tgt, "t") == Seq(2L))
    assert(VersionedTable.read(tgt, "t").count() == 2L)
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(tgt, "t", 1L)
    }
  }

  test("vacuum after appends keeps shared files (nothing unreferenced)") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t", Seq((1L, "a")).toDF("k", "s"), idOrder = Seq("k"))
    VersionedTable.load(tgt, "t", Seq((2L, "b")).toDF("k", "s"), idOrder = Seq("k"))
    val removed = VersionedTable.vacuum(tgt, "t", keepLast = 1)
    assert(removed == 0, "append-only history shares every file with the head version")
    assert(VersionedTable.read(tgt, "t").count() == 2L)
  }

  test("changes over an append pair scans only the appended files") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t",
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "s"), idOrder = Seq("k"))
    VersionedTable.load(tgt, "t",
      (101L to 110L).map(i => (i, s"v$i")).toDF("k", "s"), idOrder = Seq("k"))
    val v1Files = VersionedTable.files(tgt, "t", 1L).toSet
    val v2Only = VersionedTable.files(tgt, "t", 2L).toSet -- v1Files
    val feed = VersionedTable.changes(tgt, "t", 1L, 2L, Seq("k"))
    // plan-level pruning: the feed's scans must touch ONLY the delta files
    // (v1's files are shared between the manifests — immutable, excluded)
    val scanned = feed.inputFiles.map(f => new java.net.URI(f).getPath).toSet
    val v2OnlyPaths = v2Only.map(f => new java.net.URI(f).getPath)
    assert(scanned == v2OnlyPaths,
      s"pruned diff must scan the appended files only;\n scanned=$scanned\n delta=$v2OnlyPaths")
    val ops = feed.groupBy("op").count().as[(String, Long)].collect.toMap
    assert(ops == Map("insert" -> 10L))
  }

  test("two interleaved loaders both commit, as distinct consecutive versions") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t", Seq((1L, "base")).toDF("k", "s"), idOrder = Seq("k"))
    // writer A stages its merge against v1; writer B commits v2 in A's
    // commit window (the pre-commit seam); A must lose the CAS, re-merge
    // against B's head, and land as v3 — no lost update on either side
    var fired = false
    VersionedTable.preCommitHook.withValue(() => {
      if (!fired) {
        fired = true
        VersionedTable.load(tgt, "t", Seq((2L, "writerB")).toDF("k", "s"),
          idOrder = Seq("k"))
      }
    }) {
      VersionedTable.load(tgt, "t", Seq((3L, "writerA")).toDF("k", "s"),
        idOrder = Seq("k"))
    }
    assert(fired)
    assert(VersionedTable.versions(tgt, "t") == Seq(1L, 2L, 3L))
    val head = VersionedTable.read(tgt, "t").orderBy("id")
      .as[(Long, Long, String)].collect.toSeq
    assert(head == Seq((1L, 1L, "base"), (2L, 2L, "writerB"), (3L, 3L, "writerA")))
    // each intermediate version is exactly the state its writer committed
    assert(VersionedTable.readVersion(tgt, "t", 2L).count() == 2L)
  }

  test("concurrent loaders from two threads serialize through the manifest CAS") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t", Seq((0L, "base")).toDF("k", "s"), idOrder = Seq("k"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 4).map { i =>
      Future {
        VersionedTable.load(tgt, "t", Seq((i.toLong, s"w$i")).toDF("k", "s"),
          idOrder = Seq("k"))
      }
    }
    val committed = Await.result(Future.sequence(writers), 120.seconds)
    // every writer got a DISTINCT version and no update was lost
    assert(committed.toSet.size == 4)
    assert(VersionedTable.versions(tgt, "t") == (1L to 5L))
    val head = VersionedTable.read(tgt, "t")
    assert(head.count() == 5L)
    assert(head.select("s").as[String].collect.toSet ==
      Set("base", "w1", "w2", "w3", "w4"))
  }

  test("rollback is a metadata commit restoring a prior state; ids continue from it") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t", Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      idOrder = Seq("k"))
    VersionedTable.load(tgt, "t", Seq((3L, "c")).toDF("k", "s"), idOrder = Seq("k"))
    VersionedTable.delete(tgt, "t", lit(true)) // v3: the mistake — all rows gone
    assert(VersionedTable.read(tgt, "t").count() == 0L)
    val dataBefore = VersionedTable.files(tgt, "t", 2L).toSet

    val newV = VersionedTable.rollback(tgt, "t", 2L)
    assert(newV == 4L)
    // the restored head IS v2's file set — zero data movement
    assert(VersionedTable.files(tgt, "t", 4L).toSet == dataBefore)
    assert(VersionedTable.read(tgt, "t").orderBy("id")
      .as[(Long, Long, String)].collect.toSeq ==
      Seq((1L, 1L, "a"), (2L, 2L, "b"), (3L, 3L, "c")))
    // the rolled-back-over version remains part of history
    assert(VersionedTable.readVersion(tgt, "t", 3L).count() == 0L)
    // a load after rollback continues ids from the restored state
    VersionedTable.load(tgt, "t", Seq((4L, "d")).toDF("k", "s"), idOrder = Seq("k"))
    assert(VersionedTable.read(tgt, "t").agg(max(col("id"))).head().getLong(0) == 4L)
    // rolling back to the current head is a no-op commit
    assert(VersionedTable.rollback(tgt, "t", 5L) == 5L)
    assert(VersionedTable.versions(tgt, "t") == (1L to 5L))
  }

  test("change feed aligns evolved schemas: added columns null-fill the old side") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"),
      idOrder = Seq("k"))
    // v2 widens with `extra` (full rewrite) AND appends a row
    VersionedTable.load(tgt, "t", Seq((4L, "d", 40L)).toDF("k", "s", "extra"),
      idOrder = Seq("k"))
    // v3 updates one row's extra
    VersionedTable.load(tgt, "t", Seq((2L, "b", 20L)).toDF("k", "s", "extra"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    val feed = VersionedTable.changes(tgt, "t", 1L, 3L, Seq("k"), includeOld = true)
    val rows = feed.select("op", "k", "s", "extra", "s__old", "extra__old")
      .orderBy("k")
      .as[(String, Long, String, Option[Long], Option[String], Option[Long])]
      .collect().toSeq
    // k=1,3 unchanged (extra null on both sides after alignment — omitted);
    // k=2 update (extra 20 vs old-side null-fill); k=4 insert
    assert(rows == Seq(
      ("update", 2L, "b", Some(20L), Some("b"), None),
      ("insert", 4L, "d", Some(40L), None, None)))
    // dropped columns flag rows that lost a value as updates
    VersionedTable.load(tgt, "t",
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "s"),
      upsertFields = Seq("k"), ensure = true, safe = false, idOrder = Seq("k"))
    assert(VersionedTable.read(tgt, "t").columns.toSet == Set("id", "k", "s"))
    val drops = VersionedTable.changes(tgt, "t", 3L, 4L, Seq("k"))
      .select("op", "k").as[(String, Long)].collect().toSet
    // k=2 and k=4 HAD non-null extra → updates; k=1,3 had null extra → no change
    assert(drops == Set(("update", 2L), ("update", 4L)))
  }

  test("schema evolution on append rewrites into the widened schema") {
    val tgt = freshCat()
    VersionedTable.load(tgt, "t", Seq((1L, "a")).toDF("k", "s"), idOrder = Seq("k"))
    VersionedTable.load(tgt, "t", Seq((2L, "b", 9L)).toDF("k", "s", "extra"),
      idOrder = Seq("k"))
    val head = VersionedTable.read(tgt, "t").orderBy("id")
    assert(head.columns.toSet == Set("id", "k", "s", "extra"))
    val rows = head.select("k", "extra").as[(Long, Option[Long])].collect.toSeq
    assert(rows == Seq((1L, None), (2L, Some(9L))))
    // v1 still reads its own (narrow) schema
    assert(VersionedTable.readVersion(tgt, "t", 1L).columns.toSet == Set("id", "k", "s"))
  }
}
