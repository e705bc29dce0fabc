package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.etl.{Catalog, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobLedger
import org.apache.spark.sql.streaming.Trigger

/** The `graft-cdc` DataSource-V2 streaming source: a real
  * `spark.readStream` over a versioned table with ENGINE-managed
  * checkpoints and triggers. Contracts pinned here:
  *
  *   - a readStream → foreachBatch(applyFeed) query mirrors the table
  *     exactly-once ACROSS RESTARTS (each run drains only unseen
  *     versions; a caught-up run emits nothing);
  *   - batch content is the exact state diff (bootstrap = snapshot as
  *     inserts; updates/deletes classified like [[VersionedTable
  *     .changes]]);
  *   - partition planning: bootstrap/appends get one partition per new
  *     file (no old side); a bucketed upsert's batch gets one partition
  *     per touched bucket;
  *   - a vacuumed-away checkpoint version fails loudly instead of
  *     resurrecting ghost rows.
  */
class CdcV2StreamSpec extends SparkSpec {
  import spark.implicits._

  private def snap(tgt: Catalog, t: String): Seq[(Long, String)] =
    VersionedTable.read(tgt, t).select("k", "s").orderBy("k")
      .as[(Long, String)].collect().toSeq

  private def reader(src: Catalog) = spark.readStream.format("graft-cdc")
    .option("dir", src.dir).option("table", "t").option("keys", "k").load()

  /** Run one AvailableNow drain applying every batch to the mirror,
    * recording (rowCount, numPartitions, ops) per non-empty batch. */
  private def drain(src: Catalog, dst: Catalog, ckpt: String,
                    log: ConcurrentLinkedQueue[(Long, Int, Map[String, Long])]): Unit = {
    val q = reader(src).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val cached = df.persist()
        try {
          val n = cached.count()
          if (n > 0) {
            val ops = cached.groupBy("op").count().as[(String, Long)]
              .collect().toMap
            log.add((n, cached.rdd.getNumPartitions, ops))
            CdcSource.applyFeed(dst, "m", cached, Seq("k"))
          }
        } finally cached.unpersist()
      }
      .start()
    q.awaitTermination()
  }

  test("readStream mirrors a versioned table exactly-once across restarts") {
    val src = new Catalog(spark, tmpDir("v2src"))
    val dst = new Catalog(spark, tmpDir("v2dst"))
    val ckpt = tmpDir("v2ck")
    val log = new ConcurrentLinkedQueue[(Long, Int, Map[String, Long])]()
    VersionedTable.load(src, "t", (1L to 40L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"))
    VersionedTable.load(src, "t", (41L to 50L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"))
    drain(src, dst, ckpt, log)
    assert(snap(dst, "m") == snap(src, "t"), "mirror equals source after drain 1")
    val firstRunRows = log.asScala.map(_._1).sum
    assert(firstRunRows == 50L, s"bootstrap+append = 50 feed rows, got $firstRunRows")

    // restart with NO new commits: nothing re-emitted
    log.clear()
    drain(src, dst, ckpt, log)
    assert(log.isEmpty, "a caught-up restart must process zero rows")

    // upsert (update+insert) and delete, then restart: only the delta
    VersionedTable.load(src, "t", Seq((7L, "UP"), (51L, "NEW")).toDF("k", "s"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    VersionedTable.delete(src, "t", col("k") <= 3L)
    log.clear()
    drain(src, dst, ckpt, log)
    assert(snap(dst, "m") == snap(src, "t"), "mirror equals source after drain 2")
    val ops = log.asScala.flatMap(_._3).groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    assert(ops.getOrElse("insert", 0L) == 1L, s"one insert (k=51): $ops")
    assert(ops.getOrElse("update", 0L) == 1L, s"one update (k=7): $ops")
    assert(ops.getOrElse("delete", 0L) == 3L, s"three deletes (k<=3): $ops")
  }

  test("bootstrap plans one partition per file; bucketed updates one per touched bucket") {
    val src = new Catalog(spark, tmpDir("v2bsrc"))
    val dst = new Catalog(spark, tmpDir("v2bdst"))
    val ckpt = tmpDir("v2bck")
    val log = new ConcurrentLinkedQueue[(Long, Int, Map[String, Long])]()
    VersionedTable.load(src, "t", (1L to 64L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"), bucketBy = Some((Seq("k"), 8)))
    drain(src, dst, ckpt, log)
    val bootstrapParts = log.asScala.head._2
    val v1Files = VersionedTable.files(src, "t", 1L).size
    assert(bootstrapParts == v1Files,
      s"bootstrap must plan one partition per file: $bootstrapParts/$v1Files")
    // a 1-key upsert touches one bucket → the batch has ONE partition
    VersionedTable.load(src, "t", Seq((7L, "UP")).toDF("k", "s"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    log.clear()
    drain(src, dst, ckpt, log)
    assert(log.asScala.toSeq.map(_._2) == Seq(1),
      s"single-bucket upsert must plan one partition, got ${log.asScala.toSeq}")
    assert(snap(dst, "m") == snap(src, "t"))
  }

  test("batch content equals the manifest diff; memory sink sees the raw feed") {
    val src = new Catalog(spark, tmpDir("v2msrc"))
    val ckpt = tmpDir("v2mck")
    VersionedTable.load(src, "t", (1L to 20L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"))
    VersionedTable.load(src, "t", Seq((5L, "UP")).toDF("k", "s"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    val q = reader(src).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("cdcv2_feed")
      .start()
    q.awaitTermination()
    // one batch (0, head]: the head snapshot as pure inserts
    val got = spark.sql("SELECT op, k, s FROM cdcv2_feed")
      .as[(String, Long, String)].collect().toSet
    val want = VersionedTable.read(src, "t").select("k", "s")
      .as[(Long, String)].collect().toSet.map((t: (Long, String)) =>
        ("insert", t._1, t._2))
    assert(got == want, "bootstrap batch = head snapshot as inserts")
    assert(got.exists { case (_, k, s) => k == 5L && s == "UP" })
  }

  test("the CDC stream replays across mid-history equality tombstones") {
    val src = new Catalog(spark, tmpDir("v2eqsrc"))
    val dst = new Catalog(spark, tmpDir("v2eqdst"))
    val ckpt = tmpDir("v2eqck")
    val log = new ConcurrentLinkedQueue[(Long, Int, Map[String, Long])]()
    VersionedTable.load(src, "t",
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "s"), idOrder = Seq("k"))
    drain(src, dst, ckpt, log) // bootstrap the mirror
    // a write-without-read upsert mid-stream: updates 10..19, inserts
    // 41..45 — the checkpointed stream resumes ACROSS the live
    // tombstone (no compact) and emits the exact last-writer-wins diff
    VersionedTable.upsertEqualityDelete(src, "t",
      ((10L to 19L).map(i => (i, "EQ")) ++
        (41L to 45L).map(i => (i, s"n$i"))).toDF("k", "s"),
      keys = Seq("k"))
    log.clear()
    drain(src, dst, ckpt, log)
    def totalOps = log.asScala.toSeq.flatMap(_._3.toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)
    assert(totalOps == Map("update" -> 10L, "insert" -> 5L), totalOps.toString)
    assert(snap(dst, "m") == snap(src, "t"))
    // a SECOND tombstone STACKED on the still-live first: the old side
    // of the diff is v's RESOLVED state (EQ for 15..19, base for 20..24)
    VersionedTable.upsertEqualityDelete(src, "t",
      (15L to 24L).map(i => (i, "EQ2")).toDF("k", "s"), keys = Seq("k"))
    log.clear()
    drain(src, dst, ckpt, log)
    assert(totalOps == Map("update" -> 10L), totalOps.toString)
    assert(snap(dst, "m") == snap(src, "t"))
    // compaction materializes both tombstones: no logical row changes,
    // so the feed emits NOTHING (the mirror needs no correction)
    VersionedTable.compact(src, "t", 256L * 1024 * 1024)
    log.clear()
    drain(src, dst, ckpt, log)
    assert(log.isEmpty,
      s"materialization must not re-emit rows: ${log.asScala.toSeq}")
    assert(snap(dst, "m") == snap(src, "t"))
  }

  test("eq diffs on a bucketed table plan per-bucket partitions") {
    val src = new Catalog(spark, tmpDir("v2eqbsrc"))
    val dst = new Catalog(spark, tmpDir("v2eqbdst"))
    val ckpt = tmpDir("v2eqbck")
    val log = new ConcurrentLinkedQueue[(Long, Int, Map[String, Long])]()
    VersionedTable.load(src, "t",
      (1L to 64L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"), bucketBy = Some((Seq("k"), 8)))
    drain(src, dst, ckpt, log)
    // an eq-upsert of TWO keys: the diff batch must plan BUCKET-SCOPED
    // keyed partitions (one per touched bucket — parallel, bounded
    // state), never one monolithic old/new pair. Hash-bucketed files
    // carry wide key ranges, so the key envelope cannot prune them
    // here (range pruning is a clustered-layout property); the bucket
    // grouping is what bounds the per-task state at scale.
    VersionedTable.upsertEqualityDelete(src, "t",
      Seq((7L, "EQ"), (9L, "EQ")).toDF("k", "s"), keys = Seq("k"))
    log.clear()
    drain(src, dst, ckpt, log)
    val batches = log.asScala.toSeq
    assert(batches.map(_._3) == Seq(Map("update" -> 2L)), batches.toString)
    assert(batches.head._2 > 1 && batches.head._2 <= 8,
      s"the eq diff must plan per-bucket partitions, not one pair: " +
        s"${batches.head._2}")
    assert(snap(dst, "m") == snap(src, "t"))
  }

  test("maxVersionsPerTrigger paces the drain one version per batch") {
    val src = new Catalog(spark, tmpDir("v2rsrc"))
    val dst = new Catalog(spark, tmpDir("v2rdst"))
    val ckpt = tmpDir("v2rck")
    val log = new ConcurrentLinkedQueue[(Long, Int, Map[String, Long])]()
    VersionedTable.load(src, "t", (1L to 20L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"))
    VersionedTable.load(src, "t", Seq((5L, "UP")).toDF("k", "s"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    VersionedTable.delete(src, "t", col("k") > 18L)
    val q = spark.readStream.format("graft-cdc")
      .option("dir", src.dir).option("table", "t").option("keys", "k")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val cached = df.persist()
        try {
          val n = cached.count()
          if (n > 0) {
            log.add((n, cached.rdd.getNumPartitions,
              cached.groupBy("op").count().as[(String, Long)].collect().toMap))
            CdcSource.applyFeed(dst, "m", cached, Seq("k"))
          }
        } finally cached.unpersist()
      }.start()
    q.awaitTermination()
    // one batch per version: bootstrap (20 inserts), the upsert's diff
    // (1 update), the delete's diff (2 deletes)
    val batches = log.asScala.toSeq
    assert(batches.map(_._1) == Seq(20L, 1L, 2L),
      s"paced drain must land version-sized batches, got $batches")
    assert(snap(dst, "m") == snap(src, "t"))
  }

  test("batch reads return the bounded feed — the table_changes shape") {
    val src = new Catalog(spark, tmpDir("v2batch"))
    VersionedTable.load(src, "t", (1L to 30L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"))
    VersionedTable.load(src, "t", Seq((7L, "UP"), (31L, "NEW")).toDF("k", "s"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    VersionedTable.delete(src, "t", col("k") <= 2L)
    val got = spark.read.format("graft-cdc")
      .option("dir", src.dir).option("table", "t").option("keys", "k")
      .option("startingVersion", "1").option("endingVersion", "3").load()
      .select("op", "k", "s").as[(String, Long, String)].collect().toSet
    val want = VersionedTable.changes(src, "t", 1L, 3L, Seq("k"))
      .select("op", "k", "s").as[(String, Long, String)].collect().toSet
    assert(got == want, "batch feed must equal the library change feed")
    assert(got.exists(_._1 == "update") && got.exists(_._1 == "delete") &&
      got.exists(_._1 == "insert"))
    // startingVersion 0 = snapshot-as-inserts; endingVersion defaults head
    val snap = spark.read.format("graft-cdc")
      .option("dir", src.dir).option("table", "t").option("keys", "k").load()
      .select("op", "k").as[(String, Long)].collect()
    assert(snap.length == 29 && snap.forall(_._1 == "insert"))
  }

  test("the batch feed keeps NULL-keyed rows unpaired, as changes() does") {
    // no upsertFields, so NULL keys load; the copy-on-write delete of one
    // NULL-keyed row rewrites the file, and the surviving NULL-keyed row
    // must not absorb the vanished one (NULL = NULL is unknown)
    val src = new Catalog(spark, tmpDir("v2nullkey"))
    VersionedTable.load(src, "t",
      Seq((Some(1L), 1.0), ((None: Option[Long]), 2.0),
        ((None: Option[Long]), 3.0)).toDF("k", "v"),
      idOrder = Seq("v"))
    val v1 = VersionedTable.currentVersion(src, "t").get
    VersionedTable.delete(src, "t", col("v") === 3.0)
    val v2 = VersionedTable.currentVersion(src, "t").get
    def rows(df: DataFrame) = df.select("op", "k", "id", "v").collect()
      .map(_.mkString("[", ",", "]")).sorted.mkString(";")
    val want = rows(VersionedTable.changes(src, "t", v1, v2, Seq("k")))
    assert(want == "[delete,null,2,2.0];[delete,null,3,3.0];[insert,null,2,2.0]")
    val got = rows(spark.read.format("graft-cdc")
      .option("dir", src.dir).option("table", "t").option("keys", "k")
      .option("startingVersion", v1.toString)
      .option("endingVersion", v2.toString).load())
    assert(got == want, "batch feed must equal the library change feed")
  }

  test("the CDC stream replays a DV-delete batch exactly across a compaction") {
    val src = new Catalog(spark, tmpDir("v2morsrc"))
    val dst = new Catalog(spark, tmpDir("v2mordst"))
    val ckpt = tmpDir("v2morck")
    val log = new ConcurrentLinkedQueue[(Long, Int, Map[String, Long])]()
    VersionedTable.load(src, "t",
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "s"), idOrder = Seq("k"),
      extraProps = Map(VersionedTable.WriteModeProp -> VersionedTable.MergeOnRead))
    drain(src, dst, ckpt, log)
    // v2: a MOR delete — the feed must carry exactly the delete rows
    VersionedTable.delete(src, "t", col("k") > 27L)
    log.clear()
    drain(src, dst, ckpt, log)
    assert(log.asScala.toSeq.map(x => (x._1, x._3)) ==
      Seq((3L, Map("delete" -> 3L))),
      s"the DV delete must feed 3 delete rows: ${log.asScala.toSeq}")
    assert(snap(dst, "m") == snap(src, "t"))
    // force redelivery of that batch, compact meanwhile: the replay plans
    // from v1/v2's immutable manifests (DV sidecars intact), re-emitting
    // the SAME delete rows; the compaction itself diffs to nothing
    val commit1 = new org.apache.hadoop.fs.Path(s"$ckpt/commits/1")
    commit1.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(commit1, false)
    VersionedTable.compact(src, "t", 128L * 1024 * 1024)
    log.clear()
    drain(src, dst, ckpt, log)
    assert(log.asScala.toSeq.map(x => (x._1, x._3)) ==
      Seq((3L, Map("delete" -> 3L))),
      s"replay must re-emit the same delete batch: ${log.asScala.toSeq}")
    assert(snap(dst, "m") == snap(src, "t"),
      "the idempotent keyed apply must converge to the source state")
  }

  test("failOnDataLoss refuses the vacuumed-startingTimestamp snapshot fallback") {
    val src = new Catalog(spark, tmpDir("v2dl"))
    VersionedTable.load(src, "t", Seq((1L, "a")).toDF("k", "s"), idOrder = Seq("k"))
    VersionedTable.load(src, "t", Seq((2L, "b")).toDF("k", "s"), idOrder = Seq("k"))
    VersionedTable.load(src, "t", Seq((3L, "c")).toDF("k", "s"), idOrder = Seq("k"))
    VersionedTable.vacuum(src, "t", keepLast = 1)
    // a timestamp before the earliest RETAINED commit resolves to a
    // version whose diff base was vacuumed: the default falls back to
    // the full-snapshot bootstrap (None) with a logged warning...
    assert(CdcStreamProvider.resolveStartingVersion(
      src, "t", None, Some("0")).isEmpty,
      "the vacuumed diff base must fall back to the snapshot bootstrap")
    // ...and failOnDataLoss=true refuses loudly instead
    val e = intercept[IllegalStateException] {
      CdcStreamProvider.resolveStartingVersion(
        src, "t", None, Some("0"), failOnDataLoss = true)
    }
    assert(e.getMessage.contains("failOnDataLoss"),
      s"the refusal must name the option: ${e.getMessage}")
    // an explicit startingVersion is unaffected by the option
    assert(CdcStreamProvider.resolveStartingVersion(
      src, "t", Some(3L), None, failOnDataLoss = true).contains(3L))
  }

  test("a vacuumed-away checkpoint version fails loudly") {
    val src = new Catalog(spark, tmpDir("v2vsrc"))
    val dst = new Catalog(spark, tmpDir("v2vdst"))
    val ckpt = tmpDir("v2vck")
    val log = new ConcurrentLinkedQueue[(Long, Int, Map[String, Long])]()
    VersionedTable.load(src, "t", (1L to 10L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"))
    drain(src, dst, ckpt, log) // checkpoint now at v1
    (2 to 4).foreach { i =>
      VersionedTable.load(src, "t", Seq((100L + i, s"x$i")).toDF("k", "s"),
        idOrder = Seq("k"))
    }
    VersionedTable.vacuum(src, "t", keepLast = 2) // v1 (the checkpoint) gone
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(src, dst, ckpt, log)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("vacuumed away")),
      s"expected the vacuumed-watermark refusal, got: ${messages(err)}")
  }

  test("keys defaults from the manifest-recorded upsert keys") {
    val src = new Catalog(spark, tmpDir("v2ksrc"))
    VersionedTable.load(src, "t", (1L to 5L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"))
    // never keyed-loaded → no recorded keys → omitting the option is loud
    def feed() = spark.read.format("graft-cdc")
      .option("dir", src.dir).option("table", "t").load()
    val err = intercept[Exception] { feed().collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("records no upsert keys")),
      s"expected the no-recorded-keys refusal, got: ${messages(err)}")
    // a keyed load records its keys; the option can now be omitted
    VersionedTable.load(src, "t", Seq((3L, "UP")).toDF("k", "s"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    assert(VersionedTable.recordedUpsertKeys(src, "t").contains(Seq("k")))
    val got = feed().select("op", "k").as[(String, Long)].collect().toSet
    assert(got == (1L to 5L).map(i => ("insert", i)).toSet,
      "snapshot feed classified with the defaulted keys")
    // an append CARRIES the recorded keys forward
    VersionedTable.load(src, "t", Seq((6L, "v6")).toDF("k", "s"),
      idOrder = Seq("k"))
    assert(VersionedTable.recordedUpsertKeys(src, "t").contains(Seq("k")),
      "appends must not lose the recorded keys")
  }

  test("batch feed bounds take timestamps: the table_changes time window") {
    val src = new Catalog(spark, tmpDir("v2bts"))
    (1 to 3).foreach { i =>
      VersionedTable.commitClock.withValue(() => i * 100000L) {
        VersionedTable.load(src, "t", Seq((i.toLong, s"v$i")).toDF("k", "s"),
          idOrder = Seq("k"))
      }
    }
    // window (150000, 250000]: includes v2's commit only — its diff is
    // one insert; endingTimestamp resolves to v2, startingTimestamp's
    // first covered commit (v2) contributes its changes
    val got = spark.read.format("graft-cdc")
      .option("dir", src.dir).option("table", "t").option("keys", "k")
      .option("startingTimestamp", "150000")
      .option("endingTimestamp", "250000").load()
      .select("op", "k").as[(String, Long)].collect().toSeq
    assert(got == Seq(("insert", 2L)),
      s"the time window must cover exactly v2's changes: $got")
    // a future start window yields an empty feed
    assert(spark.read.format("graft-cdc")
      .option("dir", src.dir).option("table", "t").option("keys", "k")
      .option("startingTimestamp", "999999999").load().isEmpty)
  }

  test("CDC startingVersion/byte pacing: tail from a version, paced by diff bytes") {
    val src = new Catalog(spark, tmpDir("v2stv"))
    val dst = new Catalog(spark, tmpDir("v2stvd"))
    val log = new ConcurrentLinkedQueue[(Long, Int, Map[String, Long])]()
    VersionedTable.load(src, "t", (1L to 10L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"))
    VersionedTable.load(src, "t", Seq((5L, "UP")).toDF("k", "s"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    VersionedTable.load(src, "t", Seq((11L, "v11")).toDF("k", "s"),
      idOrder = Seq("k"))
    // startingVersion=2: the first batch is v2's state diff (the upsert),
    // NOT a snapshot — v1-only rows never flow; 1-byte budget paces one
    // version per trigger
    val ckpt = tmpDir("v2stvck")
    def drainPaced(): Unit = spark.readStream.format("graft-cdc")
      .option("dir", src.dir).option("table", "t")
      .option("startingVersion", "2").option("maxBytesPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val cached = df.persist()
        try {
          val n = cached.count()
          if (n > 0) {
            log.add((n, cached.rdd.getNumPartitions,
              cached.groupBy("op").count().as[(String, Long)].collect().toMap))
            CdcSource.applyFeed(dst, "m", cached, Seq("k"))
          }
        } finally cached.unpersist()
      }.start().awaitTermination()
    drainPaced()
    val batches = log.asScala.toSeq
    // v2's diff = 10 rows rewritten (flat upsert rewrite: 1 update, 9
    // unchanged skipped → 1 feed row), v3's diff = 1 insert
    assert(batches.map(_._1) == Seq(1L, 1L),
      s"per-version byte pacing from startingVersion, got $batches")
    assert(batches.head._3 == Map("update" -> 1L),
      s"the first batch is v2's DIFF, not a snapshot: ${batches.head._3}")
    // two consecutive merge-on-read deletes change rows only through
    // deletion vectors: each step reads its DV'd file on both sides, so
    // each one exceeds the 1-byte budget and arrives as its own batch
    VersionedTable.setTableProps(src, "t",
      Map(VersionedTable.WriteModeProp -> VersionedTable.MergeOnRead), Nil)
    VersionedTable.delete(src, "t", col("k") === 1L)
    VersionedTable.delete(src, "t", col("k") === 2L)
    log.clear()
    drainPaced()
    assert(log.asScala.toSeq.map(_._3) ==
      Seq(Map("delete" -> 1L), Map("delete" -> 1L)),
      s"each DV delete must pace as its own batch: ${log.asScala.toSeq}")
  }

  test("a bounded graft-cdc read starts a fixed number of jobs") {
    // one bucketed upsert of two keys, and one merge-on-read delete
    val up = new Catalog(spark, tmpDir("v2jobup"))
    VersionedTable.load(up, "t", (1L to 64L).map(i => (i, s"v$i")).toDF("k", "s"),
      idOrder = Seq("k"), bucketBy = Some((Seq("k"), 8)))
    VersionedTable.load(up, "t", Seq((7L, "UP"), (9L, "UP")).toDF("k", "s"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    val dv = new Catalog(spark, tmpDir("v2jobdv"))
    VersionedTable.load(dv, "t",
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "s"), idOrder = Seq("k"),
      extraProps = Map(VersionedTable.WriteModeProp -> VersionedTable.MergeOnRead))
    VersionedTable.delete(dv, "t", col("k") > 27L)
    def feedCount(c: Catalog) = JobLedger(spark) {
      spark.read.format("graft-cdc")
        .option("dir", c.dir).option("table", "t").option("keys", "k")
        .option("startingVersion", "1").option("endingVersion", "2").load()
        .count()
    }
    // two jobs each, as measured when the diff sides still had a parquet
    // reader of their own: reading them through the table's slice reader
    // must add no footer, status or tombstone-probe job
    val (upRows, upJobs) = feedCount(up)
    assert(upRows == 2L)
    assert(upJobs.size == 2, s"bucketed upsert feed: $upJobs")
    val (dvRows, dvJobs) = feedCount(dv)
    assert(dvRows == 3L)
    assert(dvJobs.size == 2, s"DV delete feed: $dvJobs")
  }

  test("rate-limited bootstrap clamps to the earliest retained version") {
    // a FRESH stream with maxVersionsPerTrigger=1 on a table whose early
    // versions were vacuumed: the uncapped first batch would target v1
    // (gone) and the stream could never bootstrap — the clamp raises the
    // bootstrap end to the earliest retained version, whose snapshot is
    // the table's exact full state at that point
    val src = new Catalog(spark, tmpDir("v2csrc"))
    val dst = new Catalog(spark, tmpDir("v2cdst"))
    val ckpt = tmpDir("v2cck")
    val log = new ConcurrentLinkedQueue[(Long, Int, Map[String, Long])]()
    (1 to 4).foreach { i =>
      VersionedTable.load(src, "t", Seq((i.toLong, s"v$i")).toDF("k", "s"),
        idOrder = Seq("k"))
    }
    VersionedTable.vacuum(src, "t", keepLast = 2) // retained = [v3, v4]
    val q = spark.readStream.format("graft-cdc")
      .option("dir", src.dir).option("table", "t").option("keys", "k")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val cached = df.persist()
        try {
          val n = cached.count()
          if (n > 0) {
            log.add((n, cached.rdd.getNumPartitions,
              cached.groupBy("op").count().as[(String, Long)].collect().toMap))
            CdcSource.applyFeed(dst, "m", cached, Seq("k"))
          }
        } finally cached.unpersist()
      }.start()
    q.awaitTermination()
    // bootstrap = the v3 snapshot (3 inserts), then v4's diff (1 insert)
    val batches = log.asScala.toSeq
    assert(batches.map(_._1) == Seq(3L, 1L),
      s"clamped bootstrap then per-version pacing, got $batches")
    assert(snap(dst, "m") == snap(src, "t"))
  }
}
