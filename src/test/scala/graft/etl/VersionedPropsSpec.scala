package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.util.Random

/** Property-style equivalence over seeded random op sequences: the
  * BUCKETED versioned table (scoped upserts, bucket-dir batch layout,
  * per-bucket compaction, pruned deletes) must be indistinguishable from
  * the FLAT versioned table in every observable — head state, every
  * version's time-travel state, ids, and the change feed. The layout is
  * an optimization, never a semantic. The histories include a NULL-keyed
  * append and a duplicated key, the two key hazards the change feed's
  * contract names.
  */
class VersionedPropsSpec extends SparkSpec {
  import spark.implicits._

  for (seed <- Seq(13, 77)) {
    test(s"bucketed versioned ops equal flat versioned ops over random rounds (seed=$seed)") {
      val rnd = new Random(seed)
      val bt = new Catalog(spark, tmpDir("vprops-b"))
      val ft = new Catalog(spark, tmpDir("vprops-f"))

      def both(f: Catalog => Long): (Long, Long) = (f(bt), f(ft))

      // round 0: identical seed data, bucketed on one side only
      val seedRows = (1L to 50L).map(k => (k, rnd.nextInt(500).toLong))
      VersionedTable.load(bt, "t", seedRows.toDF("k", "v"), idOrder = Seq("k"),
        bucketBy = Some((Seq("k"), 5)))
      VersionedTable.load(ft, "t", seedRows.toDF("k", "v"), idOrder = Seq("k"))

      def snap(c: Catalog, v: Long) =
        VersionedTable.readVersion(c, "t", v).select("id", "k", "v")
          .as[(Long, Option[Long], Long)].collect().toSet

      // rounds 6 and 7 plant the key hazards; the random rounds after
      // them run upserts, deletes and appends over the planted rows
      for (round <- 1 to 10) {
        (round match { case 6 => 4; case 7 => 5; case _ => rnd.nextInt(4) }) match {
          case 0 => // append of FRESH keys (preserves one-row-per-key)
            val rows = (1L to (3 + rnd.nextInt(5)).toLong)
              .map(j => (1000L * round + j, rnd.nextInt(500).toLong))
            val (a, b) = both(c => VersionedTable.load(c, "t",
              rows.toDF("k", "v"), idOrder = Seq("k")))
            assert(a == b)
          case 1 => // keyed upsert (batch deduped by key)
            val rows = Seq.fill(6)((rnd.nextInt(60).toLong + 1,
              rnd.nextInt(500).toLong)).distinctBy(_._1)
            val (a, b) = both(c => VersionedTable.load(c, "t",
              rows.toDF("k", "v"), upsertFields = Seq("k"), idOrder = Seq("k")))
            assert(a == b)
          case 2 => // predicate delete over a random key range
            val lo = rnd.nextInt(60).toLong
            val (a, b) = both(c => VersionedTable.delete(c, "t",
              col("k") >= lo && col("k") < lo + 4))
            assert(a == b)
          case 3 => // keyed frame delete
            val ks = Seq.fill(3)(rnd.nextInt(60).toLong + 1).distinct
            val (a, b) = both(c =>
              VersionedTable.deleteKeys(c, "t", ks.toDF("k"), Seq("k")))
            assert(a == b)
          case 4 => // NULL-keyed append: such rows never pair with any key
            val v0 = rnd.nextInt(500).toLong
            val rows = Seq((Option.empty[Long], v0), (Option.empty[Long], v0 + 1))
            val (a, b) = both(c => VersionedTable.load(c, "t",
              rows.toDF("k", "v"), idOrder = Seq("k", "v")))
            assert(a == b)
          case 5 => // duplicate-key append: a live key gains a second row
            val live = snap(ft, VersionedTable.currentVersion(ft, "t").get)
              .flatMap(_._2).toSeq.sorted
            val k = live(rnd.nextInt(live.size))
            val rows = Seq((Option(k), rnd.nextInt(500).toLong))
            val (a, b) = both(c => VersionedTable.load(c, "t",
              rows.toDF("k", "v"), idOrder = Seq("k")))
            assert(a == b)
            assert(snap(ft, a).count(_._2.contains(k)) == 2)
        }
        val head = VersionedTable.currentVersion(bt, "t").get
        assert(snap(bt, head) == snap(ft, head),
          s"head diverged after round $round (seed=$seed)")
        // zone-map invariant every round, both layouts: a pruned filtered
        // read is indistinguishable from filter-after-full-read
        val lo = rnd.nextInt(60).toLong
        val pred = col("k") >= lo && col("k") < lo + 7
        Seq(bt, ft).foreach { c =>
          val a = VersionedTable.readWhere(c, "t", head, pred)
            .select("id", "k", "v").as[(Long, Option[Long], Long)].collect().toSet
          val b = VersionedTable.readVersion(c, "t", head).where(pred)
            .select("id", "k", "v").as[(Long, Option[Long], Long)].collect().toSet
          assert(a == b, s"readWhere diverged in round $round (seed=$seed)")
        }
      }

      // recluster on the FLAT side only — like compaction for the
      // bucketed side, a physical re-layout that must not change any
      // observable (and afterwards the flat side's zone maps actually
      // prune, which the head-state equality then exercises)
      val preRecluster = VersionedTable.currentVersion(ft, "t").get
      VersionedTable.recluster(ft, "t", Seq("k"), 8L * 1024)
      val ftHead = VersionedTable.currentVersion(ft, "t").get
      assert(snap(ft, ftHead) == snap(bt, preRecluster),
        s"recluster changed observable state (seed=$seed)")

      // a zero-copy clone of the flat head equals it and evolves
      // independently: deleting in the clone never touches the source
      val ct = new Catalog(spark, tmpDir("vprops-c"))
      VersionedTable.cloneTable(ft, "t", ct, "c", ftHead)
      assert(VersionedTable.read(ct, "c").select("id", "k", "v")
        .as[(Long, Option[Long], Long)].collect().toSet == snap(ft, ftHead))
      VersionedTable.deleteKeys(ct, "c",
        Seq(3L, 7L).toDF("k"), Seq("k"))
      assert(snap(ft, ftHead) == snap(bt, preRecluster),
        s"a clone delete reached the source (seed=$seed)")

      // one compaction on the bucketed side only — physical op, must not
      // change any observable state (version count differs by one, which
      // is the point: compaction is the LAYOUT's own maintenance)
      val preCompact = VersionedTable.currentVersion(bt, "t").get
      VersionedTable.compact(bt, "t", 64L * 1024 * 1024)
      val btHead = VersionedTable.currentVersion(bt, "t").get
      assert(snap(bt, btHead) == snap(ft, preCompact))

      // every shared version time-travels to the identical state
      (1L to preCompact).foreach { v =>
        assert(snap(bt, v) == snap(ft, v), s"version $v diverged (seed=$seed)")
      }

      // and the full-history change feed matches across layouts. A key
      // duplicated at either end collapses to ONE arbitrary row per side
      // (see changes' doc), so the layouts may show different rows for
      // it: pin the collapse, compare every other key exactly
      type Feed = Set[(String, Option[Long], Long, Long)]
      val dups = Seq(1L, preCompact).flatMap(v => snap(ft, v).toSeq
        .flatMap(_._2).groupBy(identity).collect {
          case (k, ks) if ks.size > 1 => k
        }).toSet
      def exact(f: Feed): Feed = f.filterNot(_._2.exists(dups))
      def assertCollapsed(f: Feed): Unit = dups.foreach(k =>
        assert(f.count(_._2.contains(k)) <= 1,
          s"duplicated key $k surfaced more than once (seed=$seed)"))
      val fb: Feed = VersionedTable.changes(bt, "t", 1L, preCompact, Seq("k"))
        .select("op", "k", "id", "v").as[(String, Option[Long], Long, Long)]
        .collect().toSet
      val ff: Feed = VersionedTable.changes(ft, "t", 1L, preCompact, Seq("k"))
        .select("op", "k", "id", "v").as[(String, Option[Long], Long, Long)]
        .collect().toSet
      Seq(fb, ff).foreach(assertCollapsed)
      assert(exact(fb) == exact(ff), s"change feed diverged across layouts (seed=$seed)")
      // NULL-keyed rows never pair: each one surfaces on its own
      assert(ff.count(_._2.isEmpty) == snap(ft, preCompact).count(_._2.isEmpty),
        s"NULL-keyed rows must each surface as an insert (seed=$seed)")

      // the DataSource-V2 surfaces are just views over the same state:
      // the `graft` format equals readVersion at head AND at a time
      // travel point, and the `graft-cdc` bounded batch feed equals the
      // library change feed — on BOTH layouts
      Seq(bt, ft).foreach { c =>
        val h = VersionedTable.currentVersion(c, "t").get
        def fmt(v: Option[Long]) = {
          val r = spark.read.format("graft")
            .option("dir", c.dir).option("table", "t")
          v.fold(r)(x => r.option("versionAsOf", x.toString)).load()
            .select("id", "k", "v").as[(Long, Option[Long], Long)].collect().toSet
        }
        assert(fmt(None) == snap(c, h), s"graft format head diverged (seed=$seed)")
        assert(fmt(Some(2L)) == snap(c, 2L),
          s"graft format versionAsOf diverged (seed=$seed)")
        val batchFeed = spark.read.format("graft-cdc")
          .option("dir", c.dir).option("table", "t").option("keys", "k")
          .option("startingVersion", "1")
          .option("endingVersion", preCompact.toString).load()
          .select("op", "k", "id", "v").as[(String, Option[Long], Long, Long)]
          .collect().toSet
        // graft-cdc pairs rows in its own reader: a duplicated key comes
        // out at most once there too, but which of its rows shows is not
        // pinned, so compare the keys that identify rows exactly
        assertCollapsed(batchFeed)
        assert(exact(batchFeed) == exact(fb),
          s"graft-cdc batch feed diverged from changes() (seed=$seed)")
      }
    }
  }
}
