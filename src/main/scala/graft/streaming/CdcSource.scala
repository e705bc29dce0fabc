package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.etl.{Catalog, Loader, MaterializedAgg, VersionedTable}

/** Version-watermarked CDC SOURCE over a [[VersionedTable]] — the source
  * twin of [[StreamLoader.streamIntoView]]: where that folds a stream INTO
  * a table, this reads a versioned table's commit history OUT as
  * incremental change batches, so a downstream consumer (a mirror table, a
  * view maintainer, an export) processes each committed version exactly
  * once and resumes where it left off after a restart.
  *
  * The design maps Structured Streaming's source contract onto the
  * manifest log (the version log IS the offset log). Since round 10 the
  * REAL engine-managed variant exists too — `spark.readStream
  * .format("graft-cdc")` ([[CdcStreamProvider]]) with checkpoints,
  * triggers and version-paced rate control; this object remains the
  * library-call surface for schedulers that drain without a streaming
  * query, and supplies the shared applyFeed/watermark machinery:
  *
  *   - OFFSET   = the table version (monotone, atomic per commit);
  *   - BATCH    = [[VersionedTable.changes]] between two consecutive
  *                retained versions — file-pruned, so an append version's
  *                batch reads only the appended files;
  *   - WATERMARK = one small file recording the last version fully
  *                applied, advanced only after the batch lands.
  *
  * Delivery is at-least-once per version (a crash between apply and
  * watermark-advance replays one batch) composed with IDEMPOTENT
  * application — the mirror applies inserts/updates as keyed upserts and
  * deletes as keyed anti-join deletes, so a replay reconverges to the same
  * state: effectively-exactly-once state, the same contract
  * [[StreamLoader.streamInto]] documents for its sink side. Each
  * [[mirrorOnce]] call is the `Trigger.AvailableNow` analog: drain every
  * unseen version, then return (a scheduler or stream loop re-invokes).
  *
  * Scale: per cycle the source reads manifests (driver-trivial JSON) plus
  * the UNSHARED files of each version pair; the mirror writes are
  * bucket/file-scoped through the versioned loader. Nothing is
  * proportional to table size except a first-time bootstrap (one full
  * snapshot load — unavoidable: the mirror must start somewhere).
  */
object CdcSource {

  private def wmPath(checkpointDir: String) = new Path(checkpointDir, "version-watermark")

  /** Last fully-applied source version, 0 before the first bootstrap. */
  def watermark(tgt: Catalog, checkpointDir: String): Long = {
    val p = wmPath(checkpointDir)
    val f = p.getFileSystem(tgt.spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) 0L
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  private def advanceWatermark(tgt: Catalog, checkpointDir: String, v: Long): Unit = {
    val p = wmPath(checkpointDir)
    val f = p.getFileSystem(tgt.spark.sparkContext.hadoopConfiguration)
    f.mkdirs(p.getParent)
    // single-consumer watermark: plain overwrite-by-rename; a torn write
    // is impossible (tmp is fully written first) and a stale value only
    // replays an idempotent batch
    val tmp = new Path(checkpointDir, s"version-watermark.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"could not advance CDC watermark at $p")
  }

  /** Apply one change batch (op ∈ insert|update|delete) onto the mirror:
    * inserts/updates as a keyed upsert, deletes as a keyed anti-join
    * delete — both idempotent, both scoped writes on a bucketed mirror.
    * The source's surrogate ids are NOT propagated (the mirror stamps its
    * own — ids are table-local by the loader contract); every other value
    * column lands verbatim. */
  def applyFeed(dst: Catalog, mirror: String, feed0: DataFrame,
                keys: Seq[String],
                bucketBy: Option[(Seq[String], Int)] = None): Unit = {
    val dataCols = feed0.columns.toSeq
      .filterNot(c => c == "op" || c.endsWith("__old") || c == Loader.IdCol)
    val feed = feed0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ups = feed.where(col("op").isin("insert", "update"))
        .select(dataCols.map(col): _*)
      if (!ups.isEmpty)
        VersionedTable.load(dst, mirror, ups, upsertFields = keys,
          idOrder = keys, bucketBy = bucketBy)
      val dels = feed.where(col("op") === "delete").select(keys.map(col): _*)
      if (!dels.isEmpty && VersionedTable.currentVersion(dst, mirror).isDefined)
        VersionedTable.deleteKeys(dst, mirror, dels, keys)
    } finally feed.unpersist()
  }

  /** One drain cycle (`Trigger.AvailableNow` analog): bootstrap the mirror
    * from the oldest retained snapshot if the watermark is 0, then apply
    * every unseen version's change batch in commit order, advancing the
    * watermark after each. Returns the versions applied this cycle (empty
    * = the mirror was already caught up). Vacuumed-away versions BETWEEN
    * the watermark and the head are bridged by diffing across the gap
    * (the feed between two retained versions is still exact — it is a
    * state diff, not a log replay). The WATERMARK version itself must
    * still be retained: a diff from any older version cannot see a key
    * that was both inserted and deleted inside the gap, so resuming from
    * one would leave ghost rows — size `vacuum(keepLast)` to outlive the
    * consumer's lag, or reset the checkpoint to re-bootstrap. */
  def mirrorOnce(src: Catalog, table: String, keys: Seq[String],
                 dst: Catalog, mirror: String, checkpointDir: String,
                 bucketBy: Option[(Seq[String], Int)] = None): Seq[Long] =
    drain(src, table, dst, checkpointDir,
      vacuumed = wm =>
        s"CDC watermark v$wm of '$table' was vacuumed away — a diff from an " +
          "older version could resurrect keys deleted inside the gap; retain " +
          "more versions or reset the checkpoint to re-bootstrap the mirror",
      // bootstrap: the oldest retained version, as one upserting load
      // (idempotent under replay)
      bootstrap = v0 => VersionedTable.load(dst, mirror,
        VersionedTable.readVersion(src, table, v0).drop(Loader.IdCol),
        upsertFields = keys, idOrder = keys, bucketBy = bucketBy),
      step = (prev, v) => applyFeed(dst, mirror,
        VersionedTable.changes(src, table, prev, v, keys), keys, bucketBy))

  /** The drain skeleton of [[mirrorOnce]] and [[maintainView]]: when the
    * watermark in `checkpointDir` (kept under `wmTgt`) is 0, `bootstrap`
    * the oldest retained version; refuse a vacuumed-away watermark with
    * `vacuumed(wm)`; then apply `step(prev, v)` to every unseen version in
    * commit order, advancing the watermark after each. Returns the
    * versions applied (empty = already caught up). */
  private def drain(src: Catalog, table: String, wmTgt: Catalog,
                    checkpointDir: String, vacuumed: Long => String,
                    bootstrap: Long => Unit,
                    step: (Long, Long) => Unit): Seq[Long] = {
    val vs = VersionedTable.versions(src, table)
    if (vs.isEmpty) return Nil
    val wm0 = watermark(wmTgt, checkpointDir)
    val booted =
      if (wm0 != 0L) Nil
      else {
        bootstrap(vs.head)
        advanceWatermark(wmTgt, checkpointDir, vs.head)
        Seq(vs.head)
      }
    val wm = booted.headOption.getOrElse(wm0)
    require(vs.contains(wm) || vs.forall(_ <= wm), vacuumed(wm))
    val pending = vs.filter(_ > wm)
    pending.foldLeft(wm) { (prev, v) =>
      step(prev, v)
      advanceWatermark(wmTgt, checkpointDir, v)
      v
    }
    booted ++ pending
  }

  /** Drain the change feed into an incrementally-MAINTAINED AGGREGATE VIEW
    * — the [[mirrorOnce]] shape with [[MaterializedAgg.applyChanges]] as
    * the consumer, closing the loop the storage layer opens: versioned
    * base table → per-commit change batches → a dashboard view kept
    * consistent under updates and deletes at O(feed + touched buckets)
    * per version. Bootstrap (watermark 0) aggregates the oldest retained
    * snapshot; each later version applies its feed with retraction
    * semantics — views carrying min/max/ndv automatically route through
    * the snapshot-splice overload against that version's state. `project`
    * runs on every frame first (snapshot AND feed — derive computed
    * columns there; remember the feed carries `<col>__old` twins).
    *
    * Delivery is EXACTLY-ONCE: every apply is STAMPED with its source
    * version per group ([[MaterializedAgg.StampCol]]), so the crash
    * shapes that used to double-count — watermark write lost after a
    * successful apply, or a partial multi-bucket apply — replay the
    * version and find each already-stamped group's deltas SKIPPED while
    * the unreached groups catch up. The watermark file is then purely a
    * fast-forward hint, not a correctness boundary (pinned by
    * MatviewExactlyOnceSpec's crash-injection cases). The one shape the
    * stamps alone cannot disambiguate — watermark LOST while the versions
    * the view's stamps point into were VACUUMED away (bootstrap would
    * fold the earliest retained snapshot onto pre-snapshot state) — is
    * detected at bootstrap (any stamp < the earliest retained version)
    * and answered by REBUILDING the view from that snapshot, which
    * reconverges exactly rather than double-counting.
    */
  def maintainView(src: Catalog, table: String, keys: Seq[String],
                   viewTgt: Catalog, view: String,
                   groupBy: Seq[String], aggs: Seq[MaterializedAgg.AggCol],
                   checkpointDir: String,
                   project: DataFrame => DataFrame = identity): Seq[Long] = {
    val retractableOnly =
      aggs.forall(a => Set("sum", "count", "avg")(a.func))
    drain(src, table, viewTgt, checkpointDir,
      vacuumed = wm =>
        s"view watermark v$wm of '$table' was vacuumed away — retain more " +
          "versions or rebuild the view from a fresh snapshot",
      bootstrap = { v0 =>
        // RE-BASE GUARD: watermark 0 with an already-populated view means
        // the watermark file was lost (or the checkpoint moved). The
        // per-group stamps make a replay of versions >= v0 a no-op, but a
        // group stamped BEFORE v0 (its later versions vacuumed away) would
        // have the v0 snapshot additively folded ON TOP of state that
        // already counts part of it — double-counting sums. Detect that
        // shape (any stamp < v0, or an unstamped legacy view) and REBUILD
        // from the snapshot instead: the snapshot at the earliest retained
        // version is the table's full state, so view := agg(snapshot) then
        // replaying the retained feeds reconverges exactly.
        val needsRebase = viewTgt.resolve(view).isDefined && {
          val cur = viewTgt.table(view)
          !cur.columns.contains(MaterializedAgg.StampCol) || {
            val r = cur.agg(min(col(MaterializedAgg.StampCol))).head()
            r.isNullAt(0) || r.getLong(0) < v0
          }
        }
        if (needsRebase) {
          graft.GraftLog.warn(
            s"view '$view': watermark lost with pre-v$v0 state in the " +
              "view — rebuilding from the earliest retained snapshot to avoid " +
              "double-counting")
          val vp = new Path(viewTgt.dirPath(view))
          vp.getFileSystem(viewTgt.spark.sparkContext.hadoopConfiguration)
            .delete(vp, true)
        }
        MaterializedAgg.refresh(viewTgt, view,
          project(VersionedTable.readVersion(src, table, v0)), groupBy, aggs,
          sourceVersion = Some(v0))
      },
      step = { (prev, v) =>
        val feed = project(
          VersionedTable.changes(src, table, prev, v, keys, includeOld = true))
        if (retractableOnly)
          MaterializedAgg.applyChanges(viewTgt, view, feed, groupBy, aggs,
            sourceVersion = Some(v))
        else
          MaterializedAgg.applyChanges(viewTgt, view, feed,
            project(VersionedTable.readVersion(src, table, v)), groupBy, aggs,
            sourceVersion = Some(v))
      })
  }
}
