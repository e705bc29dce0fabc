package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** WRITE-WITHOUT-READ keyed upsert (equality tombstones — the Iceberg
  * equality-delete shape): each batch commits its data files plus a
  * key-tombstone file, NEVER reading the target, so continuous CDC
  * ingest is O(batch) per trigger. Tombstones resolve at read (stamp-
  * grouped anti-joins) and materialize at compaction; the diff-based
  * surfaces (CDC, clone, row-level ops) and value-column rename/drop
  * all WORK while tombstones are live — only renaming/dropping a
  * tombstone KEY column refuses. */
class EqualityDeleteSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse = tmpDir("geq")
  spark.conf.set("spark.sql.catalog.geq",
    classOf[graft.sources.GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.geq.dir", warehouse)
  private val lib = new Catalog(spark, warehouse)

  private def state(table: String): Map[Long, Double] =
    VersionedTable.read(lib, table).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("upsert semantics match the keyed merge; the target is never read") {
    VersionedTable.load(lib, "t",
      Seq.tabulate(1000)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    // count every record READ by any job during the eq-upsert: the
    // batch is memory-sourced, so a zero proves no target probe
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      VersionedTable.upsertEqualityDelete(lib, "t",
        Seq.tabulate(500)(i => (500L + i, (500 + i) * 2.0)).toDF("k", "v"),
        keys = Seq("k"), idOrder = Seq("k"))
      Thread.sleep(500) // listener-bus drain (no public waitUntilEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the staged batch re-reads ITS OWN files for the tombstone and the
    // footer stats (O(batch)); the 1000-row target would dwarf that
    assert(read.get() <= 600L,
      s"equality upsert must not probe the target: read ${read.get()} records")
    val s = state("t")
    assert(s.size == 1000)
    assert(s(250L) == 250.0, "unmatched rows keep their values")
    assert(s(750L) == 1500.0, "matched rows take the batch's values")
    // repeated statements stack correctly (newer tombstones apply to
    // the previous batch's files too)
    VersionedTable.upsertEqualityDelete(lib, "t",
      Seq.tabulate(300)(i => (400L + i, -1.0)).toDF("k", "v"),
      keys = Seq("k"), idOrder = Seq("k"))
    val s2 = state("t")
    assert(s2.size == 1000)
    assert(s2(450L) == -1.0 && s2(699L) == -1.0)
    assert(s2(700L) == 1400.0, "second batch's tombstone stops at its keys")
    assert(s2(399L) == 399.0)
  }

  test("reads agree on every surface; filters and time travel hold") {
    VersionedTable.load(lib, "s",
      Seq.tabulate(200)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "s",
      Seq.tabulate(100)(i => (100L + i, 0.5)).toDF("k", "v"),
      keys = Seq("k"))
    // library read, filtered read, SQL catalog read — one answer
    assert(VersionedTable.read(lib, "s").count() == 200L)
    assert(VersionedTable.readWhere(lib, "s", col("k") >= 100L)
      .agg(sum("v")).head().getDouble(0) == 50.0)
    assert(spark.sql("SELECT count(*) FROM geq.default.s WHERE v = 0.5")
      .head().getLong(0) == 100L)
    assert(spark.sql("SELECT sum(v) FROM geq.default.s").head().getDouble(0)
      == (0 until 100).map(_ * 1.0).sum + 50.0)
    // pruned projection that does NOT select the key column still filters
    assert(spark.sql("SELECT sum(v) FROM geq.default.s WHERE v = 0.5")
      .head().getDouble(0) == 50.0)
    // time travel: the pre-upsert version reads its own full state
    assert(VersionedTable.readVersion(lib, "s", 1L).count() == 200L)
    assert(VersionedTable.readVersion(lib, "s", 1L)
      .where(col("k") === 150L).select("v").head().getDouble(0) == 150.0)
  }

  test("compaction materializes: tombstones drop, results unchanged") {
    VersionedTable.load(lib, "m",
      Seq.tabulate(400)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "m",
      Seq.tabulate(200)(i => (200L + i, -2.0)).toDF("k", "v"),
      keys = Seq("k"))
    val before = state("m")
    val v0 = VersionedTable.currentVersion(lib, "m").get
    assert(VersionedTable.eqTombstoneKeyCols(lib, "m", v0).nonEmpty)
    VersionedTable.compact(lib, "m", 256L * 1024 * 1024)
    val v1 = VersionedTable.currentVersion(lib, "m").get
    assert(v1 == v0 + 1)
    assert(VersionedTable.eqTombstoneKeyCols(lib, "m", v1).isEmpty,
      "a full compaction must materialize and drop the tombstones")
    assert(state("m") == before, "materialization must not change rows")
    // CDC re-opens after materialization (from the compacted version)
    assert(VersionedTable.changes(lib, "m", v1, v1, Seq("k")).count() == 0L)
  }

  test("feed + clone + row ops + value rename WORK over live tombstones") {
    VersionedTable.load(lib, "r",
      Seq.tabulate(50)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "r",
      Seq((1L, 9.0)).toDF("k", "v"), keys = Seq("k"))
    val v = VersionedTable.currentVersion(lib, "r").get
    // the change feed RESOLVES live tombstones at read (no refusal, no
    // compact): the eq-upsert of k=1 surfaces as exactly one update
    val feed = VersionedTable.changes(lib, "r", 1L, v, Seq("k")).collect()
    assert(feed.length == 1, feed.mkString(";"))
    assert(feed.head.getAs[String]("op") == "update" &&
      feed.head.getAs[Long]("k") == 1L &&
      feed.head.getAs[Double]("v") == 9.0, feed.head.toString)
    // CLONE carries live tombstones verbatim (paths rebased absolute):
    // the clone reads the source's resolved state with no compact
    VersionedTable.cloneTable(lib, "r", lib, "r2", v)
    assert(state("r2") == state("r"), "clone ≡ source under live tombstones")
    // the two evolve independently: compacting the CLONE materializes
    // its copy; the SOURCE keeps resolving its still-live tombstones
    VersionedTable.compact(lib, "r2", 256L * 1024 * 1024)
    assert(VersionedTable.eqTombstoneKeyCols(lib, "r2",
      VersionedTable.currentVersion(lib, "r2").get).isEmpty)
    assert(VersionedTable.eqTombstoneKeyCols(lib, "r", v).nonEmpty)
    assert(state("r2") == state("r"))
    // VALUE-column rename is metadata-only even over live tombstones —
    // key files never mention the column — and reads keep resolving
    VersionedTable.renameColumn(lib, "r", "v", "val")
    val sr = VersionedTable.read(lib, "r").select("k", "val").collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(sr(1L) == 9.0 && sr.size == 50,
      "the renamed read must keep resolving the live tombstone")
    assert(VersionedTable.changes(lib, "r", 1L, v, Seq("k")).count() == 1L,
      "the feed must survive a value rename over live tombstones")
    // a tombstone KEY column still refuses rename AND drop
    val eK = intercept[Exception](
      VersionedTable.renameColumn(lib, "r", "k", "kk"))
    assert(eK.getMessage.toLowerCase.contains("key"), eK.getMessage)
    val eD = intercept[Exception](
      VersionedTable.dropColumn(lib, "r", "k"))
    assert(eD.getMessage.toLowerCase.contains("key"), eD.getMessage)
    VersionedTable.renameColumn(lib, "r", "val", "v")
    // row-level ops WORK while tombstones live: their scans apply the
    // key anti-filters, so a rewrite can never resurrect a dead row.
    // k=1 is tombstoned-then-reinserted at 9.0; the UPDATE must see THAT
    spark.sql("UPDATE geq.default.r SET v = v + 100 WHERE k <= 3")
    val s = state("r")
    assert(s(1L) == 109.0, s"the update must compose with the tombstone: $s")
    assert(s(2L) == 102.0 && s(3L) == 103.0 && s(4L) == 4.0)
    assert(s.size == 50, "no resurrection, no loss")
    // and a DELETE composes too
    spark.sql("DELETE FROM geq.default.r WHERE k = 1")
    assert(state("r").size == 49)
    assert(!state("r").contains(1L))
    // materialize → renames keep working on the compacted table too
    VersionedTable.compact(lib, "r", 256L * 1024 * 1024)
    VersionedTable.renameColumn(lib, "r", "v", "val")
    assert(VersionedTable.read(lib, "r").columns.contains("val"))
  }

  test("row ops on a MOR table with live tombstones compose exactly") {
    spark.sql("CREATE TABLE geq.default.rm (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('write.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO geq.default.rm " +
      "SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)")
    VersionedTable.upsertEqualityDelete(lib, "rm",
      Seq.tabulate(20)(i => (i.toLong, -1.0)).toDF("k", "v"),
      keys = Seq("k"))
    // MOR UPDATE over a window straddling tombstoned rows: the delta
    // scan must match the LIVE rows only (old 0..19 are dead; their
    // reinserted twins carry v = -1.0)
    spark.sql("UPDATE geq.default.rm SET v = 777 WHERE v = -1.0")
    val s = VersionedTable.read(lib, "rm").select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s.size == 100, s"no resurrection: ${s.size}")
    assert((0L until 20L).forall(k => s(k) == 777.0), s.take(5).toString)
    assert(s(50L) == 50.0)
    // MOR DELETE of a tombstoned-then-updated key
    spark.sql("DELETE FROM geq.default.rm WHERE k < 5")
    assert(VersionedTable.read(lib, "rm").count() == 95L)
  }

  test("the dv_max_fraction rewrite fallback cannot resurrect tombstones") {
    // force the CoW-fraction fallback: any DV'd file rewrites instead
    // of vectoring — the rewrite is born UNSTAMPED, so it must apply
    // the tombstones first or dead rows come back
    spark.sql("CREATE TABLE geq.default.fr (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('write.mode' = 'merge-on-read', " +
      "'dv_max_fraction' = '0.01')")
    spark.sql("INSERT INTO geq.default.fr " +
      "SELECT id, CAST(id AS DOUBLE) FROM range(0, 200)")
    // tombstone half the keys (they reinsert at -1.0)
    VersionedTable.upsertEqualityDelete(lib, "fr",
      Seq.tabulate(100)(i => (i.toLong, -1.0)).toDF("k", "v"),
      keys = Seq("k"))
    // a tiny MOR DELETE on the ORIGINAL file exceeds the 1% fraction →
    // that file's live rows rewrite through the fallback
    spark.sql("DELETE FROM geq.default.fr WHERE k = 150")
    val s = VersionedTable.read(lib, "fr").select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s.size == 199, s"no resurrection through the rewrite: ${s.size}")
    assert((0L until 100L).forall(k => s(k) == -1.0),
      "tombstoned keys keep their reinserted values")
    assert(!s.contains(150L) && s(151L) == 151.0)
  }

  test("deletion vectors and tombstones compose on one MOR table") {
    spark.sql("CREATE TABLE geq.default.dv (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('write.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO geq.default.dv " +
      "SELECT id, CAST(id AS DOUBLE) FROM range(0, 300)")
    // a MOR DELETE first: positions mask via deletion vectors
    spark.sql("DELETE FROM geq.default.dv WHERE k < 50")
    // then a write-without-read upsert over a window straddling the DV
    VersionedTable.upsertEqualityDelete(lib, "dv",
      Seq.tabulate(100)(i => (i.toLong, -1.0)).toDF("k", "v"),
      keys = Seq("k"))
    // expected: 0..299 minus nothing (the eq batch REINSERTS 0..49!)
    // — deleted keys come back when the upsert writes them, like any
    // keyed upsert; 50..99 update; 100..299 untouched
    val s = VersionedTable.read(lib, "dv").select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s.size == 300, s"both mechanisms must apply: ${s.size}")
    assert(s(25L) == -1.0, "DV-deleted key reinserted by the eq batch")
    assert(s(75L) == -1.0, "live key updated by the eq batch")
    assert(s(200L) == 200.0, "untouched rows keep their values")
    // SQL surface agrees (in-task broadcast sets over DV-filtered rows)
    assert(spark.sql("SELECT count(*) FROM geq.default.dv WHERE v = -1.0")
      .head().getLong(0) == 100L)
    // compaction materializes BOTH: DVs and tombstones gone, state kept
    VersionedTable.compact(lib, "dv", 256L * 1024 * 1024)
    val v = VersionedTable.currentVersion(lib, "dv").get
    assert(VersionedTable.eqTombstoneKeyCols(lib, "dv", v).isEmpty)
    assert(VersionedTable.deletionVectors(lib, "dv", v).isEmpty)
    assert(VersionedTable.read(lib, "dv").count() == 300L)
  }

  test("vacuum keeps referenced tombstones, sweeps expired ones") {
    VersionedTable.load(lib, "vc",
      Seq.tabulate(60)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "vc",
      Seq.tabulate(30)(i => (i.toLong, -5.0)).toDF("k", "v"),
      keys = Seq("k"))
    def eqFiles(): Seq[java.io.File] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).toSeq.flatten
          .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      walk(new java.io.File(warehouse, "vc.__vdata"))
        .filter(_.getName.endsWith(".eqdel"))
    }
    assert(eqFiles().nonEmpty)
    // vacuum keeping everything: the tombstone is referenced — survives
    VersionedTable.vacuum(lib, "vc",
      VersionedTable.versions(lib, "vc").size)
    assert(eqFiles().nonEmpty, "referenced tombstones must survive vacuum")
    assert(state("vc")(10L) == -5.0)
    // materialize, then retain only the head: the tombstone file is
    // unreferenced by every kept version — swept
    VersionedTable.compact(lib, "vc", 256L * 1024 * 1024)
    VersionedTable.vacuum(lib, "vc", 1)
    assert(eqFiles().isEmpty, "unreferenced tombstones must sweep")
    assert(state("vc")(10L) == -5.0)
  }

  test("SQL scans load tombstone keys executor-side: no driver collect") {
    VersionedTable.load(lib, "nz",
      Seq.tabulate(800)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "nz",
      Seq.tabulate(100)(i => (i.toLong, -1.0)).toDF("k", "v"),
      keys = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "nz",
      Seq.tabulate(50)(i => (700L + i, -2.0)).toDF("k", "v"),
      keys = Seq("k"))
    // write-time key counts ride the manifest (scan planning budgets on
    // them; DESCRIBE/history surface them)
    val man = VersionedTable.readManifest(lib, "nz",
      VersionedTable.currentVersion(lib, "nz").get).get
    val ts = VersionedTable.eqTombstonesOf(man.props)
    assert(ts.map(_.rows) == Seq(Some(100L), Some(50L)),
      s"tombstones must record their write-time key counts: $ts")
    assert(ts.forall(_.bytes.exists(_ > 0L)))
    // ONE Spark job per read: the key sets load INSIDE the scan's own
    // tasks (per-executor cache), never as a separate driver-side
    // collect job at factory-construction time — with the old broadcast
    // design this read planned 1 + <live tombstones> jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val rows = try {
      val r = spark.read.format("graft")
        .option("dir", warehouse).option("table", "nz")
        .load().where(col("v") < 0.0).collect()
      Thread.sleep(500) // listener-bus drain (no public waitUntilEmpty)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 1,
      s"a tombstone-bearing scan must plan exactly its own job (no " +
        s"driver key collect): saw ${jobs.get()}")
    assert(rows.length == 150, s"both tombstones must apply: ${rows.length}")
    assert(VersionedTable.read(lib, "nz").count() == 800L)
  }

  test("no-tombstone scans keep the pre-equality fast path: one job, no key I/O") {
    // REGRESSION GATE for the eq machinery's cost on tables that never
    // took an equality write: resolving eqDeleteState is a manifest
    // props parse (metadata-only, no Spark job), so a clean table's
    // scan must plan exactly its own job and read exactly its own rows
    VersionedTable.load(lib, "ft",
      Seq.tabulate(500)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    val (entries, stamps) = VersionedTable.eqDeleteState(lib, "ft",
      VersionedTable.currentVersion(lib, "ft").get)
    assert(entries.isEmpty && stamps.isEmpty,
      "a never-eq table must resolve an EMPTY eq state (no warn, no work)")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val rows = try {
      val r = spark.read.format("graft")
        .option("dir", warehouse).option("table", "ft")
        .load().where(col("k") < 100L).collect()
      Thread.sleep(500) // listener-bus drain
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(rows.length == 100)
    assert(jobs.get() == 1,
      s"a no-tombstone scan must plan exactly its own job: ${jobs.get()}")
    assert(read.get() <= 500L,
      s"a no-tombstone scan must read only data rows (no key files, no " +
        s"probes): ${read.get()}")
  }

  test("CoW rewrites prune tombstone props they materialize") {
    // a copy-on-write keyed upsert (and any full rewrite) reads through
    // the tombstones and replaces every stamped file — the commit must
    // NOT carry the now-inert tombstone props forward, or CDC/clone/
    // rename refuse forever over state that no longer exists
    VersionedTable.load(lib, "pr",
      Seq.tabulate(80)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"), upsertFields = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "pr",
      Seq.tabulate(20)(i => (i.toLong, -3.0)).toDF("k", "v"),
      keys = Seq("k"))
    assert(VersionedTable.eqTombstoneKeyCols(lib, "pr",
      VersionedTable.currentVersion(lib, "pr").get).nonEmpty)
    // CoW keyed upsert: full rewrite (no bucket layout) — reads resolve
    // the tombstones, so the rewritten state needs none of them
    VersionedTable.load(lib, "pr",
      Seq.tabulate(5)(i => (i.toLong, 100.0 + i)).toDF("k", "v"),
      idOrder = Seq("k"), upsertFields = Seq("k"))
    val v = VersionedTable.currentVersion(lib, "pr").get
    assert(VersionedTable.eqTombstoneKeyCols(lib, "pr", v).isEmpty,
      "a full CoW rewrite must prune the tombstone props it materialized")
    // the diff surfaces re-open at the pruned head — no compact
    // required (feeds CROSSING the tombstoned version resolve the
    // tombstones at read time; see the change-feed eq cases)
    assert(VersionedTable.changes(lib, "pr", v, v, Seq("k")).count() == 0L)
    VersionedTable.cloneTable(lib, "pr", lib, "pr_clone", v)
    assert(state("pr_clone") == state("pr"))
    val s = state("pr")
    assert(s(2L) == 102.0 && s(10L) == -3.0 && s(50L) == 50.0)

    // the CoW DELETE paths prune too: rewrite every stamped file away
    VersionedTable.load(lib, "pd",
      Seq.tabulate(40)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "pd",
      Seq.tabulate(10)(i => (i.toLong, -1.0)).toDF("k", "v"),
      keys = Seq("k"))
    VersionedTable.delete(lib, "pd", col("k") < 1000L) // all rows, all files
    val vd = VersionedTable.currentVersion(lib, "pd").get
    assert(VersionedTable.eqTombstoneKeyCols(lib, "pd", vd).isEmpty,
      "a delete that rewrites/drops every stamped file must prune")
  }

  test("compact commits a props-only prune for inert tombstone props") {
    // simulate a pre-hygiene table: a manifest whose tombstone props
    // reference no live stamped file (a legacy rewrite left them) —
    // every diff surface refuses with "run compact first", so compact
    // must clear them even when NO file qualifies for a data rewrite
    VersionedTable.load(lib, "in",
      Seq.tabulate(30)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    val cur = VersionedTable.currentVersion(lib, "in").get
    val man = VersionedTable.readManifest(lib, "in", cur).get
    val inert = """[{"files":["gone/gone.eqdel"],"seq":1,"keys":["k"]}]"""
    assert(VersionedTable.tryCommitManifest(lib, "in",
      man.copy(version = cur + 1,
        props = man.props + ("eq_tombstones" -> inert)), "write"))
    // renaming the tombstone KEY column refuses and advertises
    // "compact first" — that remediation must work below even when the
    // tombstone is INERT; a value rename never gates on tombstones
    val e = intercept[Exception](
      VersionedTable.renameColumn(lib, "in", "k", "kk"))
    assert(e.getMessage.contains("equality tombstones"), e.getMessage)
    // ONE compact — no rewritable files (a single fresh file, no DVs,
    // nothing stamped) — must still commit the metadata-only prune
    VersionedTable.compact(lib, "in", 256L * 1024 * 1024)
    val v = VersionedTable.currentVersion(lib, "in").get
    assert(v == cur + 2, "the prune must be a real commit")
    assert(VersionedTable.eqTombstoneKeyCols(lib, "in", v).isEmpty,
      "compact must clear inert tombstone props (its refusal message " +
        "advertises exactly this remediation)")
    assert(VersionedTable.changes(lib, "in", v, v, Seq("k")).count() == 0L)
    assert(state("in").size == 30)
  }

  test("equality upsert evolves the schema the loader-ensure way") {
    VersionedTable.load(lib, "ev",
      Seq.tabulate(100)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    // WIDEN: a batch-only column joins the recorded schema; every
    // pre-evolution row (including the tombstoned era's survivors)
    // reads it as null
    VersionedTable.upsertEqualityDelete(lib, "ev",
      Seq((5L, -1.0, "x"), (200L, -1.0, "y")).toDF("k", "v", "tag"),
      keys = Seq("k"))
    val s1 = VersionedTable.read(lib, "ev").select("k", "v", "tag").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2)))).toMap
    assert(s1.size == 101)
    assert(s1(5L) == ((-1.0, "x")) && s1(200L) == ((-1.0, "y")))
    assert(s1(50L) == ((50.0, null)), "pre-evolution rows read null")
    // NARROW batch: an omitted recorded column null-fills (delete +
    // insert semantics — the matched row's old value does not merge)
    VersionedTable.upsertEqualityDelete(lib, "ev",
      Seq((6L, -2.0)).toDF("k", "v"), keys = Seq("k"))
    val s2 = VersionedTable.read(lib, "ev").select("k", "v", "tag").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2)))).toMap
    assert(s2(6L) == ((-2.0, null)) && s2(5L) == ((-1.0, "x")))
    // KEY columns cannot be introduced by evolution
    val e = intercept[IllegalArgumentException](
      VersionedTable.upsertEqualityDelete(lib, "ev",
        Seq((1L, 1.0, 9L)).toDF("k", "v", "nk"), keys = Seq("nk")))
    assert(e.getMessage.contains("cannot be introduced"), e.getMessage)
    // the evolved history still compacts + feeds exactly
    VersionedTable.compact(lib, "ev", 256L * 1024 * 1024)
    val s3 = VersionedTable.read(lib, "ev").select("k", "v", "tag").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2)))).toMap
    assert(s3 == s2, "materialization preserves the evolved state")
  }

  test("branch + fast_forward carry live tombstones through the WAP cycle") {
    VersionedTable.load(lib, "wb",
      Seq.tabulate(100)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "wb",
      Seq.tabulate(10)(i => (i.toLong, -1.0)).toDF("k", "v"), keys = Seq("k"))
    // branch a HOT CDC table (live tombstone) — no compact required
    val bt = VersionedTable.createBranch(lib, "wb", "audit")
    assert(state(bt) == state("wb"), "branch head ≡ source head")
    // audit writes land on the branch: an eq-upsert ON THE BRANCH
    // stacks its own tombstone over the carried one
    VersionedTable.upsertEqualityDelete(lib, bt,
      Seq.tabulate(5)(i => (5L + i, -2.0)).toDF("k", "v"), keys = Seq("k"))
    val bs = state(bt)
    assert(bs(4L) == -1.0 && bs(7L) == -2.0 && bs(50L) == 50.0 &&
      bs.size == 100, bs.take(3).toString)
    assert(state("wb")(7L) == -1.0, "the source never sees audit writes")
    // publish: one metadata commit; the published reads keep resolving
    // BOTH tombstones (carried-absolute + branch-local, paths rebased)
    VersionedTable.fastForward(lib, "wb", lib, bt)
    assert(state("wb") == bs, "published state ≡ audited branch state")
    // and the published table composes onward: feed + compact
    val v = VersionedTable.currentVersion(lib, "wb").get
    assert(VersionedTable.changes(lib, "wb", v, v, Seq("k")).count() == 0L)
    VersionedTable.compact(lib, "wb", 256L * 1024 * 1024)
    assert(state("wb") == bs)
    assert(VersionedTable.eqTombstoneKeyCols(lib, "wb",
      VersionedTable.currentVersion(lib, "wb").get).isEmpty)
  }

  test("CALL eq_upsert: the pure-SQL write-without-read surface") {
    VersionedTable.load(lib, "sq",
      Seq.tabulate(200)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    // source as a VIEW NAME; no target probe (the listener bound proves
    // the library semantics carry to the SQL spelling)
    Seq((5L, -9.0), (300L, -9.0)).toDF("k", "v")
      .createOrReplaceTempView("eq_src_view")
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val v1 = try {
      val r = spark.sql("CALL geq.system.eq_upsert('sq', 'eq_src_view', 'k')")
        .head().getLong(0)
      Thread.sleep(500) // listener-bus drain (no public waitUntilEmpty)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read.get() <= 20L,
      s"CALL eq_upsert must not probe the 200-row target: ${read.get()}")
    // source as a SELECT statement
    val v2 = spark.sql("CALL geq.system.eq_upsert('sq', " +
      "'SELECT id AS k, -2.0 AS v FROM range(100, 110)', 'k')")
      .head().getLong(0)
    assert(v2 == v1 + 1)
    val s = state("sq")
    assert(s.size == 201 && s(5L) == -9.0 && s(300L) == -9.0 &&
      s(105L) == -2.0 && s(4L) == 4.0, s"$v1 ${s.size}")
  }

  test("change feed resolves eq-upsert history: last-writer-wins diffs") {
    // v1: load 0..99; v2: eq-upsert 40..59 -> -1; v3: eq-upsert 50..69
    // (insert 100..109 via fresh keys too) -> -2
    VersionedTable.load(lib, "cf",
      Seq.tabulate(100)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "cf",
      Seq.tabulate(20)(i => (40L + i, -1.0)).toDF("k", "v"), keys = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "cf",
      Seq.tabulate(30)(i => (50L + i, -2.0)).toDF("k", "v") // 50..79
        .union(Seq((100L, -2.0), (101L, -2.0)).toDF("k", "v")),
      keys = Seq("k"))
    def feed(a: Long, b: Long) =
      VersionedTable.changes(lib, "cf", a, b, Seq("k"), includeOld = true)
        .select("op", "k", "v", "v__old").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          if (r.isNullAt(3)) null else r.getDouble(3))).toSet
    // v1 -> v2: exactly the first batch's keys update
    val f12 = feed(1L, 2L)
    assert(f12.size == 20 && f12.forall(_._1 == "update"), f12.take(5))
    assert(f12.contains(("update", 45L, -1.0, 45.0)))
    // v2 -> v3: 50..59 update from -1; 60..79 update from base; inserts
    val f23 = feed(2L, 3L)
    assert(f23.contains(("update", 55L, -2.0, -1.0)),
      "old side must be v2's RESOLVED state (-1), not the base value")
    assert(f23.contains(("update", 65L, -2.0, 65.0)))
    assert(f23.contains(("insert", 100L, -2.0, null)))
    assert(f23.count(_._1 == "update") == 30 &&
      f23.count(_._1 == "insert") == 2, f23.size.toString)
    // v1 -> v3 folds: 40..49 -> -1, 50..79 -> -2, inserts
    val f13 = feed(1L, 3L)
    assert(f13.contains(("update", 45L, -1.0, 45.0)))
    assert(f13.contains(("update", 55L, -2.0, 55.0)))
    assert(f13.count(_._1 == "update") == 40 &&
      f13.count(_._1 == "insert") == 2)
    // an untouched-key file pruned by the delta tombstones' envelope
    // never fabricates rows: no key outside 40..79/100..101 appears
    assert(f13.forall(t => (t._2 >= 40L && t._2 < 80L) || t._2 >= 100L))
  }

  test("the eq feed prunes by key envelope: only files near the batch read") {
    // ten range-disjoint files (one append commit each); an eq-upsert
    // touching keys [0,100) must make the feed re-examine ONLY the one
    // shared file whose zone maps overlap the tombstone's key envelope
    // — at 100 TB this is the difference between O(delta) and O(table)
    (0 until 10).foreach { i =>
      VersionedTable.load(lib, "pe",
        Seq.tabulate(1000)(j => ((i * 1000 + j).toLong, 1.0))
          .toDF("k", "v"), idOrder = Seq("k"))
    }
    val vBase = VersionedTable.currentVersion(lib, "pe").get
    VersionedTable.upsertEqualityDelete(lib, "pe",
      Seq.tabulate(100)(i => (i.toLong, -1.0)).toDF("k", "v"),
      keys = Seq("k"))
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val feed = try {
      val f = VersionedTable.changes(lib, "pe", vBase, vBase + 1, Seq("k"))
        .collect()
      Thread.sleep(500) // listener-bus drain (no public waitUntilEmpty)
      f
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(feed.length == 100 && feed.forall(_.getAs[String]("op") == "update"))
    // both sides of file 0 (2 x 1000) + the batch file twice + the
    // tombstone keys + slack — far under the 10k-row table twice
    assert(read.get() <= 3500L,
      s"the envelope must prune untouched files from the diff: read " +
        s"${read.get()} records (unpruned would be ~20000+)")
  }

  test("top-N and LIMIT truncation stay exact over live tombstones") {
    // ten range-disjoint files (s = k, so per-file s ranges are
    // disjoint) via ONE KEYED first load — the shape whose verified
    // key-uniqueness lets the truncation pad stay on (plain appends
    // cannot prove it; see the duplicate-keys case below). An eq-upsert
    // kills the whole TOP file's keys and reinserts them at NEGATIVE
    // values — a count-based truncation that trusts recorded rows would
    // keep only the (now-empty) top file and answer the ORDER BY ...
    // LIMIT with nothing
    VersionedTable.load(lib, "tn",
      Seq.tabulate(1000)(j => (j.toLong, j.toLong)).toDF("k", "s")
        .repartitionByRange(10, org.apache.spark.sql.functions.col("k"))
        .sortWithinPartitions("k"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "tn",
      Seq.tabulate(100)(j => ((900 + j).toLong, -(900L + j))).toDF("k", "s"),
      keys = Seq("k"))
    // top-5 by s DESC: the live top lives in file 9 (s 800..899) — the
    // dead top file's recorded range must not truncate it away
    val top = spark.sql(
      "SELECT k, s FROM geq.default.tn ORDER BY s DESC LIMIT 5")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top == (899L to 895L by -1L).map(k => (k, k)),
      s"top-N must see through the tombstone: $top")
    // ascending: the reinserted negatives ARE the live minimum
    val bottom = spark.sql(
      "SELECT k, s FROM geq.default.tn ORDER BY s ASC LIMIT 3")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bottom == Seq((999L, -999L), (998L, -998L), (997L, -997L)),
      s"reinserted rows rank: $bottom")
    // plain LIMIT: full count survives (1000 keys live)
    assert(spark.sql("SELECT * FROM geq.default.tn LIMIT 950").count() == 950L)
    // and the padded truncation still PRUNES: LIMIT 10 reads ~2 files
    // (10 + the 100-key pad), not the 1100-row table
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(spark.sql("SELECT * FROM geq.default.tn LIMIT 10").count() == 10L)
      Thread.sleep(500) // listener-bus drain (no public waitUntilEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read.get() <= 400L,
      s"LIMIT must still truncate under the pad: read ${read.get()}")
  }

  test("truncation stands down when key uniqueness is unprovable") {
    // the counterexample to a naive one-row-per-key pad: a plain append
    // lands 100 DUPLICATE rows of key 1 in one file, then an eq-upsert
    // of that single key kills all 100 — its tombstone records ONE key,
    // but the recorded-row over-count is 100. A truncation padded by
    // the key count would keep too few files and silently short-read;
    // the unprovable-uniqueness table must stand truncation down and
    // read exactly.
    VersionedTable.load(lib, "dup",
      Seq.tabulate(100)(j => (1L, j.toDouble)).toDF("k", "v"),
      idOrder = Seq("k"))
    VersionedTable.load(lib, "dup",
      Seq.tabulate(100)(j => ((2 + j).toLong, 0.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "dup",
      Seq((1L, -1.0)).toDF("k", "v"), keys = Seq("k"))
    // live rows: 100 distinct (file 2) + the reinserted k=1 → 101
    assert(state("dup").size == 101)
    val got = spark.sql("SELECT * FROM geq.default.dup LIMIT 101").count()
    assert(got == 101L,
      s"LIMIT over a duplicate-keyed table must not short-read: $got")
    val top = spark.sql(
      "SELECT k FROM geq.default.dup ORDER BY k ASC LIMIT 101").count()
    assert(top == 101L, s"top-N must stand down too: $top")
  }

  test("the change feed keeps null-keyed deletes through envelope pruning") {
    // a tombstone whose key file mixes a FAR non-null key with a NULL —
    // footer ranges exclude nulls, so range-only envelope pruning would
    // skip the shared file (its non-null range is disjoint from 100)
    // and the feed would lose the null-key row's update
    VersionedTable.load(lib, "nf",
      (Seq.tabulate(10)(j => (Some(j.toLong), j.toDouble)) :+
        ((None: Option[Long]), 50.0)).toDF("k", "v"),
      idOrder = Seq("v"))
    val v1 = VersionedTable.currentVersion(lib, "nf").get
    VersionedTable.upsertEqualityDelete(lib, "nf",
      Seq((Some(100L), 1.0), ((None: Option[Long]), -5.0)).toDF("k", "v"),
      keys = Seq("k"))
    val v2 = VersionedTable.currentVersion(lib, "nf").get
    val feed = VersionedTable.changes(lib, "nf", v1, v2, Seq("k"))
      .collect()
    // the USING join pairs null keys as delete+insert (not null-safe) —
    // fine CDC shape; the guarded bug is the null-key events being LOST
    // to a range-only envelope prune of the shared file
    val nullOps = feed.filter(_.isNullAt(feed.head.fieldIndex("k")))
    assert(nullOps.exists(r => r.getAs[String]("op") == "delete" &&
      r.getAs[Double]("v") == 50.0) &&
      nullOps.exists(r => r.getAs[String]("op") == "insert" &&
        r.getAs[Double]("v") == -5.0),
      s"the null-key change must survive envelope pruning: " +
        feed.mkString(";"))
    // read-side agreement: the live state carries the reinserted null
    val live = VersionedTable.read(lib, "nf").select("k", "v").collect()
    assert(live.count(_.isNullAt(0)) == 1)
    assert(live.find(_.isNullAt(0)).get.getDouble(1) == -5.0)
    assert(live.length == 12) // 10 + reinserted null + new k=100
  }

  test("the change feed keeps a deleted row whose key is null") {
    // two NULL-keyed rows (no upsertFields, so NULL keys load); deleting
    // one must surface it as a delete — a NULL key never pairs, so the
    // surviving NULL-keyed row cannot absorb the vanished one
    VersionedTable.load(lib, "nd",
      Seq((Some(1L), 1.0), ((None: Option[Long]), 2.0),
        ((None: Option[Long]), 3.0)).toDF("k", "v"),
      idOrder = Seq("v"))
    val v1 = VersionedTable.currentVersion(lib, "nd").get
    VersionedTable.delete(lib, "nd", col("v") === 3.0)
    val v2 = VersionedTable.currentVersion(lib, "nd").get
    val feed = VersionedTable.changes(lib, "nd", v1, v2, Seq("k")).collect()
    assert(feed.exists(r => r.isNullAt(r.fieldIndex("k")) &&
      r.getAs[String]("op") == "delete" && r.getAs[Double]("v") == 3.0),
      s"the deleted null-key row must reach the feed: " + feed.mkString(";"))
  }

  test("the MOR keyed upsert probe sees through live tombstones") {
    // merge-on-read table, then a write-without-read upsert (live
    // tombstone), then a LIBRARY keyed upsert (the MOR load path): its
    // probe must match LIVE rows only — matching a dead original AND
    // its reinserted twin would commit duplicate keys
    VersionedTable.load(lib, "mu",
      Seq.tabulate(1000)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"), upsertFields = Seq("k"),
      extraProps = Map("write_mode" -> "merge-on-read"))
    VersionedTable.upsertEqualityDelete(lib, "mu",
      Seq.tabulate(10)(i => (i.toLong, -1.0)).toDF("k", "v"),
      keys = Seq("k"))
    val preFiles = VersionedTable.files(lib, "mu",
      VersionedTable.currentVersion(lib, "mu").get).toSet
    VersionedTable.load(lib, "mu",
      Seq.tabulate(10)(i => ((5 + i).toLong, 500.0)).toDF("k", "v"),
      idOrder = Seq("k"), upsertFields = Seq("k"))
    val v3 = VersionedTable.currentVersion(lib, "mu").get
    // the MOR path must actually run (1% matched — far under the
    // dv_max_fraction fallback): prior files carry verbatim
    assert((preFiles -- VersionedTable.files(lib, "mu", v3).toSet).isEmpty,
      "the merge-on-read upsert must carry prior files verbatim")
    val rows = VersionedTable.read(lib, "mu").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 1000,
      s"no duplicates, no loss: ${rows.length} (dupes: " +
        s"${rows.groupBy(_._1).filter(_._2.length > 1).keys.take(5)})")
    val s = rows.toMap
    assert(s(7L) == 500.0 && s(14L) == 500.0, "matched keys take new values")
    assert(s(2L) == -1.0, "tombstone-era reinserts keep their values")
    assert(s(50L) == 50.0)
    // ids stay unique through the composition
    assert(VersionedTable.read(lib, "mu").select("id").distinct().count()
      == 1000L)
  }

  test("tombstone accretion is observable: DESCRIBE EXTENDED + history") {
    VersionedTable.load(lib, "ob",
      Seq.tabulate(60)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "ob",
      Seq.tabulate(10)(i => (i.toLong, -1.0)).toDF("k", "v"), keys = Seq("k"))
    VersionedTable.upsertEqualityDelete(lib, "ob",
      Seq.tabulate(5)(i => (i.toLong, -2.0)).toDF("k", "v"), keys = Seq("k"))
    // DESCRIBE EXTENDED: the summary keys, never the raw machine props
    // (the stamp map grows with the file count)
    val props = spark.sql("DESCRIBE TABLE EXTENDED geq.default.ob")
      .where(col("col_name") === "Table Properties")
      .head().getString(1)
    assert(props.contains("eq.tombstones.live=2"), props)
    assert(props.contains("eq.tombstones.key_columns=k"), props)
    assert(props.contains("eq.tombstones.keys=15"), props)
    assert(props.contains("eq.tombstones.bytes="), props)
    assert(!props.contains("eq_seqs"), "raw stamp maps must not surface")
    // history: per-version accretion counts
    val h = VersionedTable.history(lib, "ob")
      .select("version", "live_eq_tombstones", "eq_tombstone_keys")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(h(1L) == ((0, -1L)) && h(2L) == ((1, 10L)) && h(3L) == ((2, 15L)), h)
    // and the SQL procedure surface shows the same columns
    val hp = spark.sql("CALL geq.system.history('ob')")
      .where(col("version") === 3L)
      .select("live_eq_tombstones", "eq_tombstone_keys").head()
    assert(hp.getInt(0) == 2 && hp.getLong(1) == 15L)
    // after compaction the counters return to zero
    VersionedTable.compact(lib, "ob", 256L * 1024 * 1024)
    val v = VersionedTable.currentVersion(lib, "ob").get
    assert(VersionedTable.eqTombstoneSummary(lib, "ob", v) ==
      ((0, Nil, None, None)))
  }

  test("the default eq trigger lands at first equality write and bounds a sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    VersionedTable.load(lib, "bd",
      Seq.tabulate(50)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    val mem = MemoryStream[(Long, Double)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .format("graft")
      .option("dir", warehouse).option("table", "bd")
      .option("upsertKeys", "k").option("upsertMode", "equality-delete")
      .option("checkpointLocation", tmpDir("geqbdck"))
      .start()
    try {
      mem.addData((1L, -1.0))
      q.processAllAvailable()
      // the FIRST equality write stamps the conservative default — a
      // sink that never configured a trigger must not accrete forever
      val v1 = VersionedTable.currentVersion(lib, "bd").get
      assert(VersionedTable.readManifest(lib, "bd", v1).get
        .props.get("compact.trigger.eq_tombstones").contains("32"),
        "the default compaction trigger must land at first equality write")
      // a LONG run stays bounded: live tombstones never exceed the
      // default before auto-compaction materializes them
      var maxLive = 0
      for (i <- 0 until 36) {
        mem.addData((i.toLong % 50L, 1000.0 + i))
        q.processAllAvailable()
        val v = VersionedTable.currentVersion(lib, "bd").get
        maxLive = math.max(maxLive,
          VersionedTable.eqTombstoneSummary(lib, "bd", v)._1)
      }
      assert(maxLive <= 32,
        s"accretion must stay bounded by the default trigger: $maxLive")
      val vEnd = VersionedTable.currentVersion(lib, "bd").get
      assert(VersionedTable.eqTombstoneSummary(lib, "bd", vEnd)._1 < 36,
        "auto-compaction must have materialized at least once")
    } finally q.stop()
    val s = state("bd")
    assert(s.size == 50 && s(40L) == 40.0)
    assert(s(35L) == 1035.0, s"latest epoch wins: ${s(35L)}")
    // an EXPLICIT trigger is never overwritten by the default
    VersionedTable.setTableProps(lib, "bd",
      Map("compact.trigger.eq_tombstones" -> "500"), Nil)
    VersionedTable.upsertEqualityDelete(lib, "bd",
      Seq((2L, -7.0)).toDF("k", "v"), keys = Seq("k"))
    val vX = VersionedTable.currentVersion(lib, "bd").get
    assert(VersionedTable.readManifest(lib, "bd", vX).get
      .props.get("compact.trigger.eq_tombstones").contains("500"))
  }

  test("the streaming sink's equality mode: O(batch) epochs, exact state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    VersionedTable.load(lib, "st",
      Seq.tabulate(500)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      idOrder = Seq("k"))
    val mem = MemoryStream[(Long, Double)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .format("graft")
      .option("dir", warehouse).option("table", "st")
      .option("upsertKeys", "k").option("upsertMode", "equality-delete")
      .option("checkpointLocation", tmpDir("geqck"))
      .start()
    try {
      val read = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        mem.addData((100L, -1.0), (600L, -1.0))
        q.processAllAvailable()
        mem.addData((101L, -2.0))
        q.processAllAvailable()
        Thread.sleep(500) // listener-bus drain (no public waitUntilEmpty)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(read.get() <= 50L,
        s"equality epochs must not probe the 500-row target: ${read.get()}")
    } finally q.stop()
    val s = state("st")
    assert(s.size == 501) // 500 original keys + inserted 600; 100/101 update
    assert(s(100L) == -1.0 && s(600L) == -1.0 && s(101L) == -2.0)
    assert(s(99L) == 99.0)
  }

  test("equality DELETE: tombstone-only commit, never reading the target") {
    VersionedTable.load(lib, "ed",
      Seq.tabulate(1000)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    val v1 = VersionedTable.currentVersion(lib, "ed").get
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val v2 = try {
      val v = VersionedTable.deleteKeysEquality(lib, "ed",
        Seq(5L, 6L, 7L).toDF("k"), Seq("k"))
      Thread.sleep(500) // listener-bus drain (no public waitUntilEmpty)
      v
    } finally spark.sparkContext.removeSparkListener(listener)
    // the commit materializes only the 3-row key frame — the 1000-row
    // target is never opened (no data files staged, no footer probes)
    assert(read.get() <= 10L,
      s"equality delete must not probe the target: read ${read.get()}")
    assert(v2 == v1 + 1)
    val s = state("ed")
    assert(s.size == 997 && !s.contains(5L) && s(4L) == 4.0)
    // history labels the commit; the tombstone is observable
    val op = VersionedTable.history(lib, "ed")
      .where(col("version") === v2).select("operation").head().getString(0)
    assert(op == "eq-delete", op)
    val (n, cols, nk, _) = VersionedTable.eqTombstoneSummary(lib, "ed", v2)
    assert(n == 1 && cols == Seq("k") && nk.contains(3L))
    // the change feed emits the three deletes
    val feed = VersionedTable.changes(lib, "ed", v1, v2, Seq("k")).collect()
    assert(feed.length == 3, feed.mkString(";"))
    assert(feed.forall(_.getAs[String]("op") == "delete"))
    assert(feed.map(_.getAs[Long]("k")).sorted.toSeq == Seq(5L, 6L, 7L))
    // pure-SQL spelling (int literals upcast to the long key type)
    spark.sql("CALL geq.system.eq_delete('ed', " +
      "'SELECT * FROM VALUES (10), (11) AS t(k)', 'k')")
    assert(state("ed").size == 995)
    // deletes preserve the uniqueness invariant: padded LIMIT truncation
    // stays ON and exact over the delete tombstones
    assert(spark.sql("SELECT * FROM geq.default.ed LIMIT 995").count() == 995L)
    // no-op shapes: empty key frame, then a miss-only delete
    val vSame = VersionedTable.deleteKeysEquality(lib, "ed",
      Seq.empty[Long].toDF("k"), Seq("k"))
    assert(vSame == VersionedTable.currentVersion(lib, "ed").get)
    VersionedTable.deleteKeysEquality(lib, "ed",
      Seq(100000L).toDF("k"), Seq("k"))
    assert(state("ed").size == 995)
    // compaction materializes delete tombstones like upsert ones
    VersionedTable.compact(lib, "ed", 256L * 1024 * 1024)
    val vC = VersionedTable.currentVersion(lib, "ed").get
    assert(VersionedTable.eqTombstoneKeyCols(lib, "ed", vC).isEmpty)
    assert(state("ed").size == 995 && !state("ed").contains(10L))
  }

  test("the streaming sink routes a mixed-op (Debezium-shaped) feed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    VersionedTable.load(lib, "mx",
      Seq.tabulate(500)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    val mem = MemoryStream[(Long, Double, String)]
    val q = mem.toDF().toDF("k", "v", "op").writeStream
      .format("graft")
      .option("dir", warehouse).option("table", "mx")
      .option("upsertKeys", "k").option("upsertMode", "equality-delete")
      .option("opColumn", "op")
      .option("checkpointLocation", tmpDir("geqmx"))
      .start()
    try {
      val read = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        // one epoch mixing upserts, an insert, and deletes — ONE commit
        mem.addData((100L, -1.0, "u"), (600L, 9.0, "c"),
          (200L, 0.0, "d"), (201L, 0.0, "D"))
        q.processAllAvailable()
        // a delete-only epoch (tombstone, no data files)
        mem.addData((300L, 0.0, "d"))
        q.processAllAvailable()
        Thread.sleep(500) // listener-bus drain (no public waitUntilEmpty)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(read.get() <= 60L,
        s"mixed-op epochs must not probe the 500-row target: ${read.get()}")
    } finally q.stop()
    val s = state("mx")
    // 500 - deleted {200,201,300} + inserted 600 = 498
    assert(s.size == 498, s.size.toString)
    assert(!s.contains(200L) && !s.contains(201L) && !s.contains(300L))
    assert(s(100L) == -1.0 && s(600L) == 9.0 && s(99L) == 99.0)
    // the op column itself never lands in the table
    assert(!VersionedTable.read(lib, "mx").columns.map(_.toLowerCase)
      .contains("op"))
    // mixed epochs were single commits: v1 load + 2 stream epochs
    assert(VersionedTable.currentVersion(lib, "mx").get == 3L)
  }

  test("SQL DELETE routes to the equality path when the table opts in") {
    VersionedTable.load(lib, "sd",
      Seq.tabulate(1000)(i => (i.toLong, i * 1.0, s"s${i % 10}"))
        .toDF("k", "v", "tag"),
      upsertFields = Seq("k"), idOrder = Seq("k"))
    def opAt(table: String, v: Long): String =
      VersionedTable.history(lib, table).where(col("version") === v)
        .select("operation").head().getString(0)
    // WITHOUT the prop an equality-shaped DELETE takes the standard
    // boundary-rewrite path (the conservative default)
    spark.sql("DELETE FROM geq.default.sd WHERE k = 990")
    assert(opAt("sd", 2L) != "eq-delete")
    spark.sql("ALTER TABLE geq.default.sd " +
      "SET TBLPROPERTIES ('write.delete.mode' = 'equality')")
    val vProp = VersionedTable.currentVersion(lib, "sd").get
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // IN on the key: ONE tombstone commit, target never opened
      spark.sql("DELETE FROM geq.default.sd WHERE k IN (5, 6, 7)")
      // OR of AND-conjunctions over (k, tag): one two-column tombstone
      spark.sql("DELETE FROM geq.default.sd WHERE " +
        "(k = 20 AND tag = 's0') OR (k = 31 AND tag = 's1')")
      // a VALUE-column equality (not the upsert key) routes too
      spark.sql("DELETE FROM geq.default.sd WHERE v = 40.0")
      Thread.sleep(500) // listener-bus drain (no public waitUntilEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read.get() <= 20L,
      s"routed DELETEs must not probe the 1000-row target: ${read.get()}")
    val vAfter = VersionedTable.currentVersion(lib, "sd").get
    assert((vProp + 1 to vAfter).forall(v => opAt("sd", v) == "eq-delete"),
      VersionedTable.history(lib, "sd").select("version", "operation")
        .collect().mkString(";"))
    val s = state("sd")
    assert(s.size == 993 && !s.contains(990L) && !s.contains(5L) &&
      !s.contains(20L) && !s.contains(31L) && !s.contains(40L) &&
      s.contains(41L))
    // a tuple mismatching on the second column deletes nothing
    spark.sql("DELETE FROM geq.default.sd WHERE k = 50 AND tag = 's9'")
    assert(state("sd").contains(50L))
    // non-equality predicates provably stay on the standard path
    spark.sql("DELETE FROM geq.default.sd WHERE k >= 995")
    val vRange = VersionedTable.currentVersion(lib, "sd").get
    assert(opAt("sd", vRange) != "eq-delete")
    assert(state("sd").size == 988)
    // feed + compaction agree with the routed deletes
    VersionedTable.compact(lib, "sd", 256L * 1024 * 1024)
    assert(state("sd").size == 988 && !state("sd").contains(40L))

    // a MERGE-ON-READ table with the prop: DELETE skips the deletion-
    // vector rewrite entirely — same tombstone-only commit
    VersionedTable.load(lib, "sdm",
      Seq.tabulate(500)(i => (i.toLong, i * 1.0)).toDF("k", "v"),
      upsertFields = Seq("k"), idOrder = Seq("k"),
      extraProps = Map("write.delete.mode" -> "equality",
        "write_mode" -> "merge-on-read"))
    spark.sql("DELETE FROM geq.default.sdm WHERE k = 13")
    val vM = VersionedTable.currentVersion(lib, "sdm").get
    assert(opAt("sdm", vM) == "eq-delete")
    assert(!state("sdm").contains(13L) && state("sdm").size == 499)
  }
}
