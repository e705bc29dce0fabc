package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Manifest-based versioned tables: time travel, O(1) snapshots, and a
  * change-data-feed — the mini table-format layer the big systems (Delta,
  * Iceberg) put under mutable data lakes, rebuilt here on plain parquet +
  * JSON manifests because no table-format jar ships with this Spark.
  *
  * The reference has no versioning at all (every load mutates the target in
  * place, /root/reference/easy_etl/__init__.py:89-99); this is extension
  * scope for the 100 TB story: a pipeline that rewrites a 100 TB table per
  * load cannot keep yesterday's state for audit/rollback by copying it.
  * Manifests make versions METADATA:
  *
  *   - data files are append-only under `<table>.__vdata/batch-<uuid>/`;
  *     nothing ever rewrites a committed file;
  *   - each version is one small JSON manifest under `<table>.__vmeta/`
  *     listing the files visible at that version — an append's new manifest
  *     reuses every prior file (snapshot cost = O(new files), not O(table));
  *   - readers materialize a version by scanning exactly the manifest's
  *     files (Spark reads an explicit file list natively);
  *   - `vacuum` deletes files unreferenced by any retained manifest —
  *     storage reclamation is decoupled from logical deletion.
  *
  * LAYOUT COMPOSITION: a versioned table can carry the Loader's
  * hash-bucket layout ([[load]]'s `bucketBy`) — the layout is COMMIT
  * METADATA (recorded in every manifest), batch files land under
  * `batch-<uuid>/__gbucket=K/`, and an upsert whose keys cover the bucket
  * keys rewrites ONLY the touched buckets' files: the new manifest carries
  * every untouched bucket's files forward untouched. That merges snapshot
  * isolation with the O(touched-buckets) write path — a 1000-row upsert
  * into a 100 TB versioned table stages ≤ 1000 buckets' worth of rewrite
  * instead of the whole table. (Hash bucketing subsumes the
  * value-partitioned scoped upsert here: partition-dir layouts encode the
  * column in the PATH, which an explicit-file-list read cannot recover, so
  * versioned tables route scoped writes through buckets — any key column
  * hashes.) The file-level change-feed pruning and the delete's
  * file-match probe are layout-independent.
  *
  * Scale notes: the manifest holds file paths plus two metadata layers —
  * per-file BYTE SIZES (read planning, compaction and recluster sizing
  * pay zero per-file status RPCs) and per-file column ZONE MAPS
  * ([min,max] from parquet footers at commit; [[readWhere]] and the
  * [[readVersion]] scan's custom FileIndex skip whole files driver-side
  * before any task launches, [[recluster]] makes the layout skippable on
  * demand, and [[cloneTable]] branches a table as one manifest commit).
  * A 100 TB table at 1 GB files is a few-MB JSON — driver-trivial;
  * appends never touch old files. Commits go through a pluggable [[ManifestCommit]] protocol
  * (atomic create-or-fail on filesystems, the store's own conditional put
  * on object stores whose rename overwrites); a crash mid-write leaves a
  * `.tmp` manifest the next load ignores; the data files it references are
  * unreachable garbage removed by the next `vacuum`.
  */
object VersionedTable {

  private def dataDir(tgt: Catalog, table: String) = s"${tgt.dirPath(table)}.__vdata"

  /** The table's data directory — the scan planner's path-join base. */
  private[graft] def dataDirPath(tgt: Catalog, table: String): String =
    dataDir(tgt, table)

  /** Per-file recorded ROW COUNTS of version `v` (head when None), keyed
    * by ABSOLUTE path — the SPJ planner's zero-row stray-file check. */
  private[graft] def fileRowCounts(tgt: Catalog, table: String,
                                   v: Option[Long]): Map[String, Long] =
    v.orElse(currentVersion(tgt, table))
      .flatMap(readManifest(tgt, table, _))
      .fold(Map.empty[String, Long])(_.rows.map { case (rel, r) =>
        new Path(dataDir(tgt, table), rel).toString -> r
      })
  private def metaDir(tgt: Catalog, table: String) = s"${tgt.dirPath(table)}.__vmeta"

  private def fs(tgt: Catalog, p: String) =
    new Path(p).getFileSystem(tgt.spark.sparkContext.hadoopConfiguration)

  // ---------------------------------------------------------------- manifest

  /** Per-file, per-column `[min, max]` zone map recorded with a commit:
    * `relPath -> colName -> (tag, lo, hi)` in the comparison domains of
    * [[graft.sources.ParquetSource.footerColumnRanges]]. A file/column
    * pair may be absent (no usable footer stats, pre-stats manifest) —
    * absence only disables skipping, never correctness. */
  private[etl] type FileStats = Map[String, Map[String, (String, String, String)]]

  /** One committed version: the file list (paths relative to the data
    * dir), the committed id floor, the table's physical layout, and the
    * files' column zone maps plus row/null counts (`rows` and `nulls`
    * power IS NULL / IS NOT NULL skipping and whole-file delete
    * coverage; both optional per file — absence only disables the
    * optimization). `dvs` are the files' DELETION VECTORS (merge-on-read
    * row-level ops): relPath → (DV sidecar relPath, deleted-row count);
    * a file's live rows are the file minus its DV's positions, applied
    * at read time; compaction/rewrites materialize and drop the entry. */
  private[etl] final case class Manifest(version: Long, maxId: Option[Long],
                                         bucket: Option[(Seq[String], Int)],
                                         files: Seq[String],
                                         stats: FileStats = Map.empty,
                                         sizes: Map[String, Long] = Map.empty,
                                         nulls: Map[String, Map[String, Long]] = Map.empty,
                                         rows: Map[String, Long] = Map.empty,
                                         props: Map[String, String] = Map.empty,
                                         dvs: Map[String, (String, Long)] = Map.empty) {
    /** Live (post-DV) row count of `rel`, when recorded. */
    def liveRows(rel: String): Option[Long] =
      rows.get(rel).map(n => n - dvs.get(rel).fold(0L)(_._2))
  }

  // a plain databind mapper (tree model — no reflection/module setup);
  // jackson ships with Spark itself, so this adds no dependency
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Render a manifest as JSON — a REAL serializer, so file names
    * containing '[', quotes, or field-shaped substrings can never corrupt
    * the format (the previous hand-rolled writer relied on field order and
    * bracket-free paths; ManifestFormatSpec pins the round-trip). */
  private def renderManifest(m: Manifest): Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("version", m.version)
    m.maxId.foreach(x => root.put("max_id", x))
    m.bucket.foreach { case (keys, n) =>
      val arr = root.putArray("bucket_keys")
      keys.foreach(arr.add)
      root.put("bucket_n", n)
    }
    val files = root.putArray("files")
    m.files.sorted.foreach(files.add)
    if (m.sizes.nonEmpty) {
      val sz = root.putObject("sizes")
      m.sizes.toSeq.sortBy(_._1).foreach { case (rel, len) => sz.put(rel, len) }
    }
    if (m.stats.nonEmpty) {
      val st = root.putObject("stats")
      m.stats.toSeq.sortBy(_._1).foreach { case (rel, cols) =>
        val fo = st.putObject(rel)
        cols.toSeq.sortBy(_._1).foreach { case (c, (tag, lo, hi)) =>
          val co = fo.putObject(c)
          co.put("t", tag); co.put("lo", lo); co.put("hi", hi)
        }
      }
    }
    if (m.rows.nonEmpty) {
      val ro = root.putObject("rows")
      m.rows.toSeq.sortBy(_._1).foreach { case (rel, n) => ro.put(rel, n) }
    }
    if (m.nulls.nonEmpty) {
      val no = root.putObject("nulls")
      m.nulls.toSeq.sortBy(_._1).foreach { case (rel, cols) =>
        val fo = no.putObject(rel)
        cols.toSeq.sortBy(_._1).foreach { case (c, n) => fo.put(c, n) }
      }
    }
    if (m.props.nonEmpty) {
      val po = root.putObject("props")
      m.props.toSeq.sortBy(_._1).foreach { case (k, v) => po.put(k, v) }
    }
    if (m.dvs.nonEmpty) {
      val dv = root.putObject("dvs")
      m.dvs.toSeq.sortBy(_._1).foreach { case (rel, (p, n)) =>
        val o = dv.putObject(rel)
        o.put("p", p); o.put("n", n)
      }
    }
    mapper.writeValueAsBytes(root)
  }

  private def parseDvs(root: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, (String, Long)] =
    if (!root.hasNonNull("dvs")) Map.empty
    else {
      val b = Map.newBuilder[String, (String, Long)]
      val it = root.get("dvs").fields()
      while (it.hasNext) {
        val e = it.next()
        val n = e.getValue
        // LOUD on malformation: silently dropping a deletion-vector
        // entry would resurrect its deleted rows — corruption must be
        // an error, never a wrong answer
        require(n.hasNonNull("p") && n.hasNonNull("n"),
          s"corrupt deletion-vector entry for '${e.getKey}' (missing p/n)")
        b += e.getKey -> ((n.get("p").asText(), n.get("n").asLong()))
      }
      b.result()
    }

  private def parseManifest(txt: String): Manifest = {
    val root = mapper.readTree(txt)
    require(root.hasNonNull("version") && root.has("files"),
      "manifest lacks required fields (version, files)")
    val files = {
      val it = root.get("files").elements()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    }
    val bucket =
      if (root.hasNonNull("bucket_keys") && root.hasNonNull("bucket_n")) {
        val it = root.get("bucket_keys").elements()
        val ks = Seq.newBuilder[String]
        while (it.hasNext) ks += it.next().asText()
        Some((ks.result(), root.get("bucket_n").asInt()))
      } else None
    val stats: FileStats =
      if (!root.hasNonNull("stats")) Map.empty
      else {
        val b = Map.newBuilder[String, Map[String, (String, String, String)]]
        val fit = root.get("stats").fields()
        while (fit.hasNext) {
          val fe = fit.next()
          val cb = Map.newBuilder[String, (String, String, String)]
          val cit = fe.getValue.fields()
          while (cit.hasNext) {
            val ce = cit.next()
            val n = ce.getValue
            if (n.hasNonNull("t") && n.hasNonNull("lo") && n.hasNonNull("hi"))
              cb += ce.getKey -> ((n.get("t").asText(), n.get("lo").asText(),
                n.get("hi").asText()))
          }
          b += fe.getKey -> cb.result()
        }
        b.result()
      }
    def longMap(field: String): Map[String, Long] =
      if (!root.hasNonNull(field)) Map.empty
      else {
        val b = Map.newBuilder[String, Long]
        val it = root.get(field).fields()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNumber) b += e.getKey -> e.getValue.asLong()
        }
        b.result()
      }
    val nulls: Map[String, Map[String, Long]] =
      if (!root.hasNonNull("nulls")) Map.empty
      else {
        val b = Map.newBuilder[String, Map[String, Long]]
        val fit = root.get("nulls").fields()
        while (fit.hasNext) {
          val fe = fit.next()
          val cb = Map.newBuilder[String, Long]
          val cit = fe.getValue.fields()
          while (cit.hasNext) {
            val ce = cit.next()
            if (ce.getValue.isNumber) cb += ce.getKey -> ce.getValue.asLong()
          }
          b += fe.getKey -> cb.result()
        }
        b.result()
      }
    val props: Map[String, String] =
      if (!root.hasNonNull("props")) Map.empty
      else {
        val b = Map.newBuilder[String, String]
        val it = root.get("props").fields()
        while (it.hasNext) {
          val e = it.next()
          b += e.getKey -> e.getValue.asText()
        }
        b.result()
      }
    Manifest(root.get("version").asLong(),
      if (root.hasNonNull("max_id")) Some(root.get("max_id").asLong()) else None,
      bucket, files, stats, longMap("sizes"), nulls, longMap("rows"), props,
      parseDvs(root))
  }

  /** Manifest prop carrying the commit wall-clock (epoch millis), stamped
    * at CAS time — `TIMESTAMP AS OF` resolves against THIS, not file
    * mtime, so a backup/restore or directory copy (which scrambles
    * mtimes) cannot silently re-time history. Mtime remains the fallback
    * for manifests committed by older writers. */
  private[graft] val CommitTsProp = "commit_ts_ms"

  /** The commit's self-declared operation label (`load`, `delete`,
    * `compact`, `rollback`, `row-op`, ... — whatever the path called
    * itself) — stamped by every commit, surfaced as `DESCRIBE HISTORY`'s
    * operation column. Engine-owned. */
  private[graft] val OperationProp = "operation"

  /** Manifest prop recording the table's upsert/CDC key columns
    * (comma-separated) — written by every keyed load, so CDC consumers
    * (`graft-cdc`) can default their `keys` from the table itself
    * instead of every caller re-declaring (and possibly typo-ing) them. */
  private[graft] val UpsertKeysProp = "upsert_keys"

  /** Manifest prop recording the columns every write stamps parquet
    * BLOOM FILTERS for (comma-separated) — declared once via `load`'s
    * `bloomBy` (latest declaration wins, like [[UpsertKeysProp]]) and
    * carried forward so appends, upserts, compactions, reclusters and
    * DML rewrites all keep stamping without re-declaring. */
  private[graft] val BloomColsProp = "bloom_cols"

  /** Manifest prop holding the table's CHECK constraint (a SQL boolean
    * expression over the table's columns — Delta's constraint shape).
    * Declared at CREATE (`TBLPROPERTIES('check' = ...)`) or on any load
    * via `extraProps`; EVERY subsequent write validates its incoming
    * rows before committing (SQL semantics: NULL satisfies — only a row
    * where the expression is FALSE violates). Enforcement is O(batch),
    * one codegen'd filter + limit-1 probe, never O(table): existing
    * rows satisfied the constraint when they were written (induction). */
  private[graft] val CheckConstraintProp = "check_constraint"

  /** Manifest prop holding the table's NAMED CHECK constraints (JSON
    * object, name → boolean SQL) — the `ALTER TABLE ADD CONSTRAINT name
    * CHECK (...)` surface ([[addCheckConstraint]]/[[dropCheckConstraint]]).
    * Enforcement conjoins these with the legacy unnamed
    * [[CheckConstraintProp]] ([[effectiveCheck]]) at every write gate. */
  private[graft] val CheckConstraintsProp = "check_constraints_json"

  /** The named CHECK constraints recorded in `props` (empty when none). */
  private[graft] def namedChecks(props: Map[String, String]): Map[String, String] =
    props.get(CheckConstraintsProp).fold(Map.empty[String, String]) { j =>
      scala.util.Try {
        val o = mapper.readTree(j)
        val b = Map.newBuilder[String, String]
        o.fields().forEachRemaining(e => b += (e.getKey -> e.getValue.asText()))
        b.result()
      }.getOrElse(throw new IllegalStateException(
        s"unparseable $CheckConstraintsProp: $j"))
    }

  private def namedChecksJson(m: Map[String, String]): String = {
    val o = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (n, sql) => o.put(n, sql) }
    mapper.writeValueAsString(o)
  }

  /** The ONE boolean SQL every write gate enforces: the conjunction of
    * the unnamed TBLPROPERTIES check and every named constraint (each
    * parenthesized — precedence can't leak between them). None = no
    * gate. */
  private[graft] def effectiveCheck(props: Map[String, String]): Option[String] = {
    val parts = props.get(CheckConstraintProp).toSeq ++
      namedChecks(props).toSeq.sortBy(_._1).map(_._2)
    if (parts.isEmpty) None else Some(parts.map(p => s"($p)").mkString(" AND "))
  }

  /** Manifest prop recording the version's DATA schema (StructType JSON,
    * surrogate id column included) — the read path's source of truth, so
    * a version whose files predate a widening still reads the WIDENED
    * shape (absent columns null-fill in the parquet reader). Stamped by
    * every data-writing commit from the batch it actually wrote; absent
    * on legacy manifests, where the reader falls back to probing one
    * file's footer (the pre-prop behavior — correct there because every
    * legacy commit rewrote to a uniform schema). This is what makes
    * `ALTER TABLE ADD COLUMN` ([[widenSchema]]) a metadata-only commit
    * instead of an O(table) rewrite. */
  private[graft] val SchemaProp = "schema_json"

  /** Manifest prop holding the table's COLUMN MAPPING (JSON object,
    * logical name → PHYSICAL in-file name; identity entries absent) —
    * what makes `ALTER TABLE RENAME COLUMN` / `DROP COLUMN` metadata-only
    * commits ([[renameColumn]]/[[dropColumn]]): a column's physical name
    * is assigned at birth and never changes, so a rename re-labels only
    * the manifest and every file — old or new — keeps reading under the
    * stable physical name. Absent on tables that never renamed/dropped
    * (the identity mapping), where every translation helper is a no-op.
    * See [[org.apache.spark.sql.graft.ColumnMapping]]. */
  private[graft] val ColMapProp = "col_map_json"

  /** Manifest prop listing RETIRED physical names (JSON array) — the
    * in-file names of dropped columns (and of any column whose physical
    * diverged from its logical). A later ADD COLUMN whose name collides
    * with a retired physical gets a FRESH physical name instead
    * ([[extendMapping]]), so re-adding a dropped column can never
    * resurrect the old bytes still present in unrewritten files. */
  private[graft] val ColMapRetiredProp = "col_map_retired"

  /** Manifest prop selecting the table's ROW-LEVEL-OP strategy:
    * `copy-on-write` (default — rewrite the matched files' groups) or
    * `merge-on-read` (record deletion-vector sidecars, apply at read,
    * compaction materializes). Declared at CREATE
    * (`TBLPROPERTIES('write.mode'='merge-on-read')`) or on any load via
    * `extraProps`; the SQL surface routes UPDATE/MERGE/DELETE through
    * the delta-based operation when set ([[graft.sources.GraftBatchTable]]). */
  private[graft] val WriteModeProp = "write_mode"
  private[graft] val MergeOnRead = "merge-on-read"

  /** Manifest prop capping a file's deleted fraction before a row-level
    * statement stops growing its deletion vector and REWRITES the file
    * copy-on-write instead (`dv_max_fraction`, default
    * [[DefaultDvMaxFraction]]): a mostly-deleted file is cheaper
    * rewritten than vectored, and an uncapped DV would otherwise grow
    * toward the file's own row count — the Delta/Iceberg tuning knob. */
  private[graft] val DvMaxFractionProp = "dv_max_fraction"
  private[graft] val DefaultDvMaxFraction = 0.5

  /** AUTO-COMPACTION trigger props (all opt-in, unset = today's fully
    * manual `CALL compact`): after a successful load/DML commit the
    * writer inspects the NEW head and, when a threshold is crossed,
    * logs the recommendation and runs one compaction commit — Delta's
    * auto-compaction shape, bounding how far a year of MOR deletes or
    * micro-appends can silently accrete.
    *   - `compact.trigger.dv_bytes`: total deletion-vector size at head
    *     (estimated as one byte per position — the delta-varint rate)
    *     before DVs materialize away;
    *   - `compact.trigger.small_files`: how many sub-half-target files
    *     may accrete before they bin-pack;
    *   - `compact.target_bytes`: the auto-run's target file size
    *     (default [[DefaultCompactTargetBytes]]). */
  private[graft] val CompactDvBytesProp = "compact.trigger.dv_bytes"
  private[graft] val CompactSmallFilesProp = "compact.trigger.small_files"
  /** `compact.trigger.eq_tombstones`: how many LIVE equality tombstones
    * (write-without-read upsert statements — [[upsertEqualityDelete]])
    * may accrete before auto-compaction materializes them. Every live
    * tombstone costs each read an anti-join (and stands the manifest-
    * math shortcuts down), so continuous CDC ingest should bound them —
    * this is the knob. */
  private[graft] val CompactEqTombstonesProp = "compact.trigger.eq_tombstones"
  /** `eq.key_budget`: total KEYS across live equality tombstones
    * (manifest-recorded write-time counts) past which scan planning and
    * the post-commit check WARN. Each live key costs every executor one
    * hash-set entry on every scan of the table — bounded state, but an
    * operator should hear about a million-key backlog before it becomes
    * executor-memory pressure. A warning, not a refusal: the read stays
    * correct at any size; compaction clears it. */
  private[graft] val EqKeyBudgetProp = "eq.key_budget"
  private[graft] val DefaultEqKeyBudget = 4L * 1000 * 1000
  /** Default [[CompactEqTombstonesProp]] stamped at a table's FIRST
    * equality write when none is configured: a continuous
    * `upsertMode=equality-delete` sink that never sets the trigger
    * would accrete one live tombstone per epoch forever (every read
    * paying O(live tombstones) anti-join groups). 32 bounds the
    * read-side work while amortizing the compaction over ~32 epochs;
    * override with any value (or a huge one to effectively disable)
    * BEFORE or AFTER the first write — an explicitly-set prop is never
    * touched. */
  private[graft] val DefaultEqTombstoneTrigger = 32L
  private[graft] val CompactTargetBytesProp = "compact.target_bytes"
  private[graft] val DefaultCompactTargetBytes = 128L * 1024 * 1024

  /** Post-commit auto-compaction check — O(manifest) driver math, zero
    * file RPCs (sizes and DV position counts are manifest-recorded);
    * only a crossed threshold costs anything (the compaction itself,
    * which was the point). Runs AFTER the triggering commit, as its own
    * version — a CAS loss inside is compact's own retry to handle. */
  private def maybeAutoCompact(tgt: Catalog, table: String): Unit = {
    val head = currentVersion(tgt, table)
      .flatMap(readManifest(tgt, table, _)).getOrElse(return)
    // key-budget accretion check rides the same post-commit hook: the
    // writer hears about a runaway tombstone backlog even when no
    // compaction trigger is configured
    warnEqKeyBudget(table, head.props)
    def longProp(k: String): Option[Long] =
      head.props.get(k).flatMap(s => scala.util.Try(s.toLong).toOption)
    val dvT = longProp(CompactDvBytesProp)
    val sfT = longProp(CompactSmallFilesProp)
    val eqT = longProp(CompactEqTombstonesProp)
    if (dvT.isEmpty && sfT.isEmpty && eqT.isEmpty) return
    val target = longProp(CompactTargetBytesProp)
      .getOrElse(DefaultCompactTargetBytes)
    val dvBytes = head.dvs.valuesIterator.map(_._2).sum // ~1 byte/position
    val smallFiles = head.files.count(r =>
      head.sizes.get(r).exists(_ < target / 2))
    val liveTombs = eqTombstonesOf(head.props).size
    val eqHit = eqT.exists(t => liveTombs.toLong >= t)
    val dvHit = dvT.exists(t => dvBytes >= t)
    // the small-file floor compaction can actually reach: 1 flat file,
    // or one file PER BUCKET on a bucketed table — at or under the
    // floor, a compaction can never shrink the count, and triggering
    // would rewrite the same bytes on every commit forever
    val floor = head.bucket.map(_._2).getOrElse(1)
    val sfHit = sfT.exists(t => smallFiles.toLong >= t && smallFiles > floor)
    if (dvHit || sfHit || eqHit) {
      graft.GraftLog.warn(
        s"auto-compaction on '$table' v${head.version}: " +
          (if (dvHit) s"dv_bytes≈$dvBytes ≥ ${dvT.get} " else "") +
          (if (sfHit) s"small_files=$smallFiles ≥ ${sfT.get} " else "") +
          (if (eqHit) s"eq_tombstones=$liveTombs ≥ ${eqT.get} " else "") +
          s"— compacting to ~$target B files")
      // best-effort by contract: the TRIGGERING commit is already
      // durable, so a compaction failure (executor loss, exhausted CAS
      // under contention) must not make the committed statement LOOK
      // failed — a caller retrying the "failed" append would duplicate
      // its rows. Log and move on; the next commit re-triggers.
      try { compact(tgt, table, target); () }
      catch { case e: Exception =>
        graft.GraftLog.warn(
          s"auto-compaction on '$table' failed (the triggering commit " +
            s"IS durable; the next commit re-triggers): $e")
      }
    }
  }

  /** Manifest prop recording the table's PARTITION TRANSFORMS — the
    * Iceberg-style hidden-partitioning declaration (`PARTITIONED BY
    * (days(ts))` at CREATE): a JSON list of `{"fn": ..., "col": ...}`
    * with fn ∈ identity|years|months|days|hours. Spark-first, the
    * transform guides the FILE LAYOUT, not a directory tree: every
    * write range-clusters its rows on the derived value (and sorts by
    * the base column within), so each file covers a tight base-column
    * range and the EXISTING zone maps prune raw-predicate scans —
    * `WHERE ts >= '...'` skips files with no `days(ts)` literal in the
    * query. `bucket(n, col)` transforms translate to the hash-bucket
    * layout ([[Manifest.bucket]]) instead. The declared columns join
    * the rename/drop refusal matrix like bucket keys. */
  private[graft] val PartitionSpecProp = "partition_spec"

  /** CLUSTER BY marker: the user's `CLUSTER BY (a, b)` column list, kept
    * ALONGSIDE the identity [[PartitionSpecProp]] transforms it expands
    * to (the arrangement machinery is shared) so `partitioning()` can
    * report the declaration back in its original shape. */
  private[graft] val ClusterByProp = "cluster_by_cols"

  private[graft] def clusterByOf(props: Map[String, String]): Seq[String] =
    props.get(ClusterByProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** Clustered-layout selector (`TBLPROPERTIES('cluster.layout' =
    * 'zorder')`): `range` (default) range-clusters on the column
    * SEQUENCE — perfect pruning on the first clustered column, little on
    * the rest — while `zorder` arranges every write on the Morton
    * interleave of the clustered columns' normalized ranks
    * ([[graft.operators.ZOrder.zValue]]), so each file covers a tight
    * range in EVERY clustered dimension and zone maps prune predicates
    * on the second column too. Costs one bounds aggregation per write;
    * applies to CLUSTER BY tables (>= 2 identity-clustered columns of
    * numeric/string type). Compaction preserves the curve. */
  private[graft] val ClusterLayoutProp = "cluster.layout"

  private[graft] def zorderLayout(props: Map[String, String]): Boolean =
    props.get(ClusterLayoutProp).exists(_.equalsIgnoreCase("zorder"))

  /** Eager CREATE/ALTER validation of the zorder layout declaration:
    * needs >= 2 clustered columns, every one numeric or string (any
    * other type would z-rank as a constant — no locality, no error). */
  private[graft] def validateClusterLayout(props: Map[String, String],
      clusterCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    props.get(ClusterLayoutProp).foreach { v =>
      require(v.equalsIgnoreCase("range") || v.equalsIgnoreCase("zorder"),
        s"unknown $ClusterLayoutProp '$v' — use 'range' or 'zorder'")
      if (v.equalsIgnoreCase("zorder")) {
        require(clusterCols.size >= 2,
          s"$ClusterLayoutProp='zorder' needs CLUSTER BY with >= 2 " +
            "columns (one column z-orders to a plain range — declare " +
            "'range' or drop the property)")
        clusterCols.foreach { c =>
          val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"zorder cluster column '$c' is not a table column"))
          require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
            || f.dataType == org.apache.spark.sql.types.StringType,
            s"zorder cluster column '$c' must be numeric or string, " +
              s"got ${f.dataType.simpleString}")
        }
      }
    }
  }

  /** One declared transform: `fn` ∈ identity|years|months|days|hours|
    * truncate (`n` = truncate width, 0 otherwise). */
  private[graft] final case class PartTransform(fn: String, col: String,
                                                n: Int = 0)

  private[graft] val TemporalTransformFns =
    Set("years", "months", "days", "hours")

  private[graft] def partSpecJson(spec: Seq[PartTransform]): String = {
    val a = mapper.createArrayNode()
    spec.foreach { t =>
      val o = mapper.createObjectNode()
      o.put("fn", t.fn); o.put("col", t.col)
      if (t.n != 0) o.put("n", t.n)
      a.add(o)
    }
    mapper.writeValueAsString(a)
  }

  /** The recorded transforms of a manifest (empty when undeclared). */
  private[graft] def partSpecOf(props: Map[String, String]): Seq[PartTransform] =
    props.get(PartitionSpecProp).fold(Seq.empty[PartTransform]) { j =>
      scala.util.Try {
        val a = mapper.readTree(j)
        val b = Seq.newBuilder[PartTransform]
        a.elements().forEachRemaining(o =>
          b += PartTransform(o.get("fn").asText(), o.get("col").asText(),
            if (o.has("n")) o.get("n").asInt() else 0))
        b.result()
      }.getOrElse(throw new IllegalStateException(
        s"unparseable $PartitionSpecProp: $j"))
    }

  /** PARTITION-SPEC EVOLUTION — the Iceberg headline re-expressed
    * Spark-first, where it is genuinely FREE: one metadata commit
    * re-points [[PartitionSpecProp]] (empty = drop the declaration).
    * Old files are untouched and stay exactly as prunable as they were —
    * file skipping reads the ZONE MAPS, never the spec, so there is no
    * Iceberg-style per-spec partition lineage to reconcile; only writes
    * AFTER the change arrange by the new derivation. The new spec's
    * columns join the rename/drop refusal matrix from this version on
    * (and the old spec's columns leave it). */
  def setPartitionSpec(tgt: Catalog, table: String,
                       spec: Seq[PartTransform],
                       clusterBy: Option[Seq[String]] = None): Long = {
    commitWithRetry(tgt, table, "setPartitionSpec") { a =>
      val man = a.man
      val schema = org.apache.spark.sql.types.StructType(
        readVersion(tgt, table, a.cur).schema
          .fields.filterNot(_.name.equalsIgnoreCase(Loader.IdCol)))
      validatePartSpec(spec, schema)
      // re-pointing the spec also re-points (or clears) the CLUSTER BY
      // marker — the two record ONE declaration and must never disagree
      val base = man.props - PartitionSpecProp - ClusterByProp
      a.commit(man.copy(props = base ++
        (if (spec.isEmpty) Map.empty[String, String]
         else Map(PartitionSpecProp -> partSpecJson(spec))) ++
        clusterBy.filter(_.nonEmpty)
          .map(cs => ClusterByProp -> cs.mkString(",")).toMap))
    }
  }

  /** The text form the SQL procedure takes — `"days(ts), truncate(4,
    * host), src"` (a bare name = identity). */
  private[graft] def parsePartSpec(text: String): Seq[PartTransform] = {
    val fnPat = """^\s*([a-zA-Z_]+)\s*\(\s*([^()]*)\s*\)\s*$""".r
    // split on commas OUTSIDE parentheses (truncate's width argument)
    val parts = {
      val b = Seq.newBuilder[String]
      var depth = 0; val sb = new StringBuilder
      text.foreach {
        case '(' => depth += 1; sb.append('(')
        case ')' => depth -= 1; sb.append(')')
        case ',' if depth == 0 => b += sb.toString; sb.clear()
        case c => sb.append(c)
      }
      if (sb.toString.trim.nonEmpty) b += sb.toString
      b.result()
    }
    parts.map(_.trim).filter(_.nonEmpty).map {
      case fnPat(fn, args) =>
        val a = args.split(",").map(_.trim).filter(_.nonEmpty)
        fn.toLowerCase match {
          case f @ ("years" | "months" | "days" | "hours") =>
            require(a.length == 1, s"$f(...) takes one column")
            PartTransform(f, a.head)
          case "truncate" =>
            require(a.length == 2,
              "truncate takes (width, column)")
            PartTransform("truncate", a(1),
              scala.util.Try(a(0).toInt).getOrElse(
                throw new IllegalArgumentException(
                  s"truncate width must be an int, got '${a(0)}'")))
          case "identity" =>
            require(a.length == 1, "identity(...) takes one column")
            PartTransform("identity", a.head)
          case other => throw new IllegalArgumentException(
            s"unknown partition transform '$other' — use identity, " +
              "years, months, days, hours, or truncate(n, col)")
        }
      case bare => PartTransform("identity", bare)
    }
  }

  /** The derived clustering Column of one transform — every temporal fn
    * is MONOTONIC in the base column, so range-clustering on it keeps
    * each file's base-column zone map tight. */
  private[graft] def transformExpr(t: PartTransform): org.apache.spark.sql.Column =
    t.fn match {
      case "identity" => col(t.col)
      case "years" => date_trunc("year", col(t.col))
      case "months" => date_trunc("month", col(t.col))
      case "days" => date_trunc("day", col(t.col))
      case "hours" => date_trunc("hour", col(t.col))
      // string prefix / integer width-bucket — both monotonic in the
      // base column, so the zone maps stay tight like the temporal fns
      case "truncate" => substring(col(t.col), 1, t.n)
      case other => throw new IllegalArgumentException(
        s"unknown partition transform '$other' on '${t.col}'")
    }

  /** Eager CREATE-time validation of a transform list against `schema`:
    * columns must exist, temporal fns need a date/timestamp column. */
  private[graft] def validatePartSpec(spec: Seq[PartTransform],
                                      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    spec.foreach { t =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(t.col)).getOrElse(
        throw new IllegalArgumentException(
          s"partition transform ${t.fn}(${t.col}) names a missing column"))
      t.fn match {
        case "identity" =>
          // eager like every other invalid spec: range-clustering needs
          // an ORDERABLE column (a map would otherwise fail the CREATE's
          // empty write with Spark's generic ordering error)
          require(org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(f.dataType),
            s"partition transform (${t.col}) needs an orderable column, " +
              s"got ${f.dataType.simpleString}")
        case "truncate" =>
          require(f.dataType == StringType,
            s"truncate(${t.n}, ${t.col}) needs a string column, got " +
              f.dataType.simpleString)
          require(t.n > 0, s"truncate width must be positive, got ${t.n}")
        case _ => require(f.dataType match {
          case DateType | TimestampType | TimestampNTZType => true
          case _ => false
        }, s"partition transform ${t.fn}(${t.col}) needs a date/timestamp " +
          s"column, got ${f.dataType.simpleString}")
      }
      require(!f.name.equalsIgnoreCase(Loader.IdCol),
        "cannot partition by the surrogate id column")
    }
    require(spec.map(_.col.toLowerCase).distinct.size == spec.size,
      "each column may appear in at most one partition transform")
  }

  /** The fraction fallback only fires once a file's merged DV reaches
    * this many positions: rewriting a 10-row file saves nothing, and
    * tiny tables would otherwise flip to copy-on-write on their first
    * delete. Below the floor a DV always commits. */
  private[graft] val DvMinRewritePositions = 1024L

  /** Is version-head `table` in merge-on-read mode? */
  private[graft] def isMergeOnRead(tgt: Catalog, table: String): Boolean =
    currentVersion(tgt, table).flatMap(readManifest(tgt, table, _))
      .exists(_.props.get(WriteModeProp).contains(MergeOnRead))

  /** Does version `v` (head when None) carry any deletion vector?
    * Scan factories consult this to build the row-index reader twin —
    * DV'd scans stay vectorized, applying the vector per ColumnarBatch
    * ([[org.apache.spark.sql.graft.DvColumnar]]). */
  private[graft] def hasDvs(tgt: Catalog, table: String,
                            v: Option[Long]): Boolean =
    v.orElse(currentVersion(tgt, table))
      .flatMap(readManifest(tgt, table, _)).exists(_.dvs.nonEmpty)

  /** The deletion-vector map of version `v` — audit/spec surface:
    * relPath → (sidecar relPath, deleted-row count). */
  def deletionVectors(tgt: Catalog, table: String,
                      v: Long): Map[String, (String, Long)] =
    readManifest(tgt, table, v).fold(Map.empty[String, (String, Long)])(_.dvs)

  /** The schema a manifest advertises, when its writer recorded one. */
  private def recordedSchema(man: Manifest)
      : Option[org.apache.spark.sql.types.StructType] =
    man.props.get(SchemaProp).flatMap(j => scala.util.Try(
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)

  // ---------------------------------------------------- column mapping

  /** The manifest's logical → physical column mapping (identity entries
    * absent; empty = untranslated table). */
  private[graft] def physOfMan(man: Manifest): Map[String, String] =
    man.props.get(ColMapProp).fold(Map.empty[String, String]) { j =>
      scala.util.Try {
        val o = mapper.readTree(j)
        val b = Map.newBuilder[String, String]
        o.fields().forEachRemaining(e => b += (e.getKey -> e.getValue.asText()))
        b.result()
      }.getOrElse(throw new IllegalStateException(
        s"unparseable $ColMapProp in manifest v${man.version}: $j"))
    }

  /** The manifest's retired physical names (dropped columns' in-file
    * names — reserved forever, see [[ColMapRetiredProp]]). */
  private[graft] def retiredOf(man: Manifest): Set[String] =
    man.props.get(ColMapRetiredProp).fold(Set.empty[String]) { j =>
      scala.util.Try {
        val a = mapper.readTree(j)
        val b = Set.newBuilder[String]
        a.elements().forEachRemaining(e => b += e.asText())
        b.result()
      }.getOrElse(throw new IllegalStateException(
        s"unparseable $ColMapRetiredProp in manifest v${man.version}: $j"))
    }

  private def colMapJson(physOf: Map[String, String]): String = {
    val o = mapper.createObjectNode()
    physOf.toSeq.sortBy(_._1).foreach { case (l, p) => o.put(l, p) }
    mapper.writeValueAsString(o)
  }

  private def retiredJson(retired: Set[String]): String = {
    val a = mapper.createArrayNode()
    retired.toSeq.sorted.foreach(a.add)
    mapper.writeValueAsString(a)
  }

  /** `props` with the mapping props REPLACED canonically: identity
    * entries never stored, empty maps remove the prop outright (a
    * rename-back that restores full identity leaves no stale mapping
    * behind; unmapped tables' manifests stay byte-identical). */
  private def withMappingProps(props: Map[String, String],
                               physOf: Map[String, String],
                               retired: Set[String]): Map[String, String] = {
    val canonical = physOf.filter { case (l, p) => l != p }
    val base = props - ColMapProp - ColMapRetiredProp
    (if (canonical.isEmpty) base
     else base + (ColMapProp -> colMapJson(canonical))) ++
      (if (retired.isEmpty) Map.empty[String, String]
       else Map(ColMapRetiredProp -> retiredJson(retired)))
  }

  /** The CHILD mapping for a commit writing `schema`: the parent's
    * mapping restricted to surviving logical names, plus a FRESH
    * physical name for any new column whose name collides with a
    * reserved physical (a retired name, or another column's mapped
    * physical) — without this, a post-drop re-add of the same name
    * would read the dropped column's bytes out of old files.
    * Deterministic in (parent, schema); identity in, identity out. */
  private[graft] def extendMapping(parent: Option[Manifest],
                                   schema: org.apache.spark.sql.types.StructType)
      : Map[String, String] = {
    val physOf0 = parent.fold(Map.empty[String, String])(physOfMan)
    if (physOf0.isEmpty && parent.forall(retiredOf(_).isEmpty))
      return Map.empty
    val names = schema.fieldNames.toSet
    val physOf = physOf0.filter { case (l, _) => names(l) }
    val retired = parent.fold(Set.empty[String])(retiredOf)
    val reserved0 = retired ++ physOf.values
    val fresh = schema.fieldNames.filterNot(physOf.contains)
    val (out, _) = fresh.foldLeft((physOf, reserved0)) {
      case ((m, reserved), name) =>
        if (!reserved(name)) (m, reserved) // identity stays absent
        else {
          var i = parent.fold(1L)(_.version + 1)
          var cand = s"${name}__p$i"
          while (reserved(cand) || names(cand)) { i += 1; cand = s"${name}__p$i" }
          (m + (name -> cand), reserved + cand)
        }
    }
    out
  }

  /** The logical → physical mapping of version `v` (head when None) —
    * scan factories capture this at plan time so a rename committing
    * between planning and reading can't mistranslate. */
  private[graft] def columnMapping(tgt: Catalog, table: String,
                                   v: Option[Long] = None): Map[String, String] =
    v.orElse(currentVersion(tgt, table))
      .flatMap(readManifest(tgt, table, _)).fold(Map.empty[String, String])(physOfMan)

  /** The recorded schema of version `v`, when its writer recorded one —
    * the streams' type-drift guard reads this per batch. */
  private[graft] def recordedSchemaAt(tgt: Catalog, table: String, v: Long)
      : Option[org.apache.spark.sql.types.StructType] =
    readManifest(tgt, table, v).flatMap(recordedSchema)

  /** The head version's recorded schema (declarations included), when
    * one exists — the row-op paths' source of generated/identity
    * metadata (one LRU-cached manifest read, no data I/O). */
  private[graft] def recordedHeadSchema(tgt: Catalog, table: String)
      : Option[org.apache.spark.sql.types.StructType] =
    currentVersion(tgt, table).flatMap(recordedSchemaAt(tgt, table, _))

  /** Whether the head's recorded schema declares any IDENTITY column —
    * the merge-on-read row-op gate's cheap engine-side probe (generated
    * columns recompute in the delta writers and no longer gate). */
  private[graft] def hasIdentityColumns(tgt: Catalog, table: String): Boolean =
    recordedHeadSchema(tgt, table).exists(GeneratedCols.hasIdentity)

  /** Recorded schemas normalize to ALL-NULLABLE (deeply) before entering
    * the manifest — the parquet read contract the legacy footer probe
    * always surfaced. Recording an INSERT batch's literal non-nullability
    * would poison later reads: a widened column marked required makes
    * the vectorized reader REFUSE pre-widening files ("required column
    * missing") instead of null-filling, and `INSERT ... VALUES (NULL)`
    * would trip AssertNotNull against a column that is nullable on disk. */
  private def deepNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = deepNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = deepNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = deepNullable(m.keyType),
        valueType = deepNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private def schemaJson(s: org.apache.spark.sql.types.StructType): String =
    deepNullable(s).json

  /** Carry the parent schema's FIELD METADATA (column defaults,
    * comments) onto the child's same-named fields: computed write frames
    * (upsert merges, coalesce projections, user appends) routinely drop
    * metadata, and SchemaProp is the read contract — losing a column's
    * EXISTS_DEFAULT here would silently flip every pre-ADD row from the
    * frozen default to NULL on the table's next load. A field that
    * arrives WITH metadata keeps its own. */
  private def carryFieldMetadata(parent: Option[Manifest],
                                 schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructType}
    parent.flatMap(recordedSchema).fold(schema) { ps =>
      val byName = ps.fields.map(f => f.name -> f).toMap
      StructType(schema.fields.map { f =>
        byName.get(f.name) match {
          case Some(pf) if pf.metadata != Metadata.empty =>
            // PER-KEY merge, incoming wins: an incoming field carrying
            // unrelated metadata (a comment propagated from a source
            // plan) must not suppress the parent's EXISTS_DEFAULT —
            // that would flip pre-ADD rows from the frozen default to
            // NULL on this commit
            val merged = new MetadataBuilder()
              .withMetadata(pf.metadata).withMetadata(f.metadata).build()
            if (merged == f.metadata) f else f.copy(metadata = merged)
          case _ => f
        }
      })
    }
  }

  /** Eager CHECK-expression discipline, shared by EVERY constraint entry
    * point (CREATE/replace TBLPROPERTIES, SET TBLPROPERTIES, ADD
    * CONSTRAINT, and the library twins): must RESOLVE against `schema`
    * (a typo'd column fails the DDL, not the first insert), must be
    * DETERMINISTIC (a rand() gate would admit or refuse the same row
    * depending on evaluation time), and must be SUBQUERY-FREE (a
    * subquery would re-evaluate against another table's state at each
    * commit). */
  private[graft] def validateCheckSql(spark: org.apache.spark.sql.SparkSession,
                                      schema: org.apache.spark.sql.types.StructType,
                                      sql: String): Unit = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val analyzed = empty.where(expr(sql)).queryExecution.analyzed
    val cond = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"CHECK constraint did not analyze to a row predicate: $sql"))
    if (!cond.deterministic)
      throw new IllegalArgumentException(
        s"CHECK constraint must be deterministic — ($sql) would admit or " +
          "refuse the same row depending on evaluation time")
    if (cond.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
      throw new IllegalArgumentException(
        s"CHECK constraint must not contain a subquery — ($sql) would " +
          "re-evaluate against another table's state at each commit")
  }

  /** Eager `SET DEFAULT` validation — the same DDL discipline as
    * [[validateCheckSql]], delegated to Spark's own default-column
    * analysis (parse + resolve + constant-fold + cast, see
    * [[org.apache.spark.sql.graft.DefaultColumns.validateDefault]]) so
    * a `rand()` or column-referencing "default" refuses at ALTER time,
    * never at the next INSERT's analysis. */
  private[graft] def validateDefaultSql(
      spark: org.apache.spark.sql.SparkSession,
      field: org.apache.spark.sql.types.StructField, sql: String): Unit =
    org.apache.spark.sql.graft.DefaultColumns.validateDefault(field, sql)

  /** The commit-time CHECK gate over FRESHLY-STAGED batch files: staged
    * parquet carries PHYSICAL column names (the writeBatch boundary),
    * but the CHECK SQL references LOGICAL names — restore them before
    * evaluating, or a constraint added after a rename would fail every
    * insert (unresolvable column), and under chained renames could
    * silently validate the WRONG column's bytes. Name-based reverse
    * rename (not positional) because the staged groups may differ in
    * column order/width (id-carrying vs fresh batches). */
  private def enforceCheckStaged(tgt: Catalog, absFiles: Seq[String],
                                 physOf: Map[String, String],
                                 checkSql: String, table: String): Unit = {
    val raw = tgt.spark.read.parquet(absFiles: _*)
    val logical =
      if (physOf.isEmpty) raw
      else {
        val toLogical = org.apache.spark.sql.graft.ColumnMapping.reverse(physOf)
        raw.toDF(raw.columns.map(c => toLogical.getOrElse(c, c)).toSeq: _*)
      }
    enforceCheck(logical, checkSql, table)
  }

  /** Refuse `rows` if any violates `checkSql` — the commit-time gate.
    * Reports one offending row (truncated) so the failure is actionable. */
  private def enforceCheck(rows: DataFrame, checkSql: String,
                           table: String): Unit = {
    val bad = rows.where(!coalesce(expr(checkSql), lit(true))).limit(1)
      .collect()
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"CHECK constraint violated on table '$table': ($checkSql) is false " +
          s"for incoming row ${bad.head.toString.take(200)} — no version " +
          "was committed")
  }

  /** The recorded bloom columns of a manifest (empty when never declared). */
  private def bloomColsOf(man: Manifest): Seq[String] =
    man.props.get(BloomColsProp).toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty)

  /** Test seam: the wall clock commits stamp into [[CommitTsProp]] —
    * thread-locally scoped without inheritance (same discipline as
    * [[commitProtocol]]) so specs can pin deterministic commit times. */
  private[graft] val commitClock =
    new ThreadLocalDynamic[() => Long](() => System.currentTimeMillis())

  private def manifestPath(tgt: Catalog, table: String, v: Long): Path =
    new Path(metaDir(tgt, table), s"v$v.manifest.json")

  private def deltaPath(tgt: Catalog, table: String, v: Long): Path =
    new Path(metaDir(tgt, table), s"v$v.delta.json")

  // ------------------------------------------------------- delta manifests

  /** Commits write O(changed files), not O(table): when a parent version
    * exists, the CAS artifact is a DELTA (`vN.delta.json` — added file
    * entries with their zone maps, removed relPaths, plus the small
    * authoritative top-level fields), and a FULL manifest
    * (`vN.manifest.json`) is only written every [[CheckpointEvery]]
    * versions as an advisory read accelerator — the Delta-log pattern
    * (deltas are the commits, checkpoints are reconstructible caches).
    * Readers materialize a version by walking back to the nearest
    * checkpoint / cached version and folding deltas forward; a
    * stat-validated LRU cache ([[manCache]]) makes the walk O(1) manifest
    * parses in steady state. Deleting every checkpoint loses no data —
    * reconstruction replays the delta chain from the table's v1 full
    * manifest (ManifestDeltaSpec pins the replay). Without this, a
    * 1-row append on a 1M-file table would rewrite ~10⁷ stat entries of
    * JSON per commit and re-parse them on the driver per plan. */
  private[graft] val CheckpointEvery = 16L

  /** One commit's change set vs its parent. `add` carries the per-file
    * metadata of NEW (or metadata-changed) entries; top-level fields
    * (maxId, bucket, props) are small and authoritative-full. */
  private final case class ManifestDelta(
      version: Long, maxId: Option[Long],
      bucket: Option[(Seq[String], Int)], props: Map[String, String],
      remove: Seq[String],
      add: Seq[(String, Option[Long], Option[Long],
        Option[Map[String, Long]], Option[Map[String, (String, String, String)]])],
      // deletion-vector entries of the ADDed (or metadata-revised) rels —
      // a DV commit re-adds its file with the new sidecar ref here
      dvs: Map[String, (String, Long)] = Map.empty)

  /** The delta between `m` and its parent — lossless: applying the result
    * to `parent` reproduces `m` exactly (modulo canonical file-list sort).
    * Carried files are compared too (cheap in-memory map equality), so a
    * hypothetical future path that revised a kept file's metadata would
    * still round-trip rather than silently dropping the revision. */
  private def diffManifest(m: Manifest, parent: Manifest): ManifestDelta = {
    val mSet = m.files.toSet
    val pSet = parent.files.toSet
    val removed = parent.files.filterNot(mSet)
    def changed(r: String): Boolean =
      parent.stats.get(r) != m.stats.get(r) ||
        parent.sizes.get(r) != m.sizes.get(r) ||
        parent.nulls.get(r) != m.nulls.get(r) ||
        parent.rows.get(r) != m.rows.get(r) ||
        parent.dvs.get(r) != m.dvs.get(r)
    val addRels = m.files.filter(r => !pSet(r) || changed(r))
    val add = addRels.map(r =>
      (r, m.sizes.get(r), m.rows.get(r), m.nulls.get(r), m.stats.get(r)))
    ManifestDelta(m.version, m.maxId, m.bucket, m.props, removed, add,
      addRels.flatMap(r => m.dvs.get(r).map(r -> _)).toMap)
  }

  private def renderDelta(d: ManifestDelta): Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("version", d.version)
    d.maxId.foreach(x => root.put("max_id", x))
    d.bucket.foreach { case (keys, n) =>
      val arr = root.putArray("bucket_keys")
      keys.foreach(arr.add)
      root.put("bucket_n", n)
    }
    if (d.props.nonEmpty) {
      val po = root.putObject("props")
      d.props.toSeq.sortBy(_._1).foreach { case (k, v) => po.put(k, v) }
    }
    if (d.remove.nonEmpty) {
      val rm = root.putArray("remove")
      d.remove.sorted.foreach(rm.add)
    }
    if (d.add.nonEmpty) {
      val ad = root.putObject("add")
      d.add.sortBy(_._1).foreach { case (rel, sz, rows, nulls, stats) =>
        val fo = ad.putObject(rel)
        sz.foreach(x => fo.put("size", x))
        rows.foreach(x => fo.put("rows", x))
        d.dvs.get(rel).foreach { case (p, n) =>
          val o = fo.putObject("dv"); o.put("p", p); o.put("n", n)
        }
        nulls.foreach { nl =>
          val no = fo.putObject("nulls")
          nl.toSeq.sortBy(_._1).foreach { case (c, n) => no.put(c, n) }
        }
        stats.foreach { st =>
          val so = fo.putObject("stats")
          st.toSeq.sortBy(_._1).foreach { case (c, (tag, lo, hi)) =>
            val co = so.putObject(c)
            co.put("t", tag); co.put("lo", lo); co.put("hi", hi)
          }
        }
      }
    }
    mapper.writeValueAsBytes(root)
  }

  private def parseDelta(txt: String): ManifestDelta = {
    val root = mapper.readTree(txt)
    require(root.hasNonNull("version"), "delta manifest lacks version")
    val bucket =
      if (root.hasNonNull("bucket_keys") && root.hasNonNull("bucket_n")) {
        val it = root.get("bucket_keys").elements()
        val ks = Seq.newBuilder[String]
        while (it.hasNext) ks += it.next().asText()
        Some((ks.result(), root.get("bucket_n").asInt()))
      } else None
    val props: Map[String, String] =
      if (!root.hasNonNull("props")) Map.empty
      else {
        val b = Map.newBuilder[String, String]
        val it = root.get("props").fields()
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        b.result()
      }
    val remove: Seq[String] =
      if (!root.hasNonNull("remove")) Seq.empty
      else {
        val it = root.get("remove").elements()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText()
        b.result()
      }
    val (add, dvs) =
      if (!root.hasNonNull("add"))
        (Seq.empty[(String, Option[Long], Option[Long],
          Option[Map[String, Long]], Option[Map[String, (String, String, String)]])],
          Map.empty[String, (String, Long)])
      else {
        val b = Seq.newBuilder[(String, Option[Long], Option[Long],
          Option[Map[String, Long]], Option[Map[String, (String, String, String)]])]
        val dvb = Map.newBuilder[String, (String, Long)]
        val fit = root.get("add").fields()
        while (fit.hasNext) {
          val fe = fit.next()
          val n = fe.getValue
          if (n.hasNonNull("dv")) {
            val d = n.get("dv")
            // same loudness rule as parseDvs: a dropped entry would
            // silently resurrect deleted rows
            require(d.hasNonNull("p") && d.hasNonNull("n"),
              s"corrupt deletion-vector entry for '${fe.getKey}' (missing p/n)")
            dvb += fe.getKey -> ((d.get("p").asText(), d.get("n").asLong()))
          }
          val nulls =
            if (!n.has("nulls")) None
            else {
              val cb = Map.newBuilder[String, Long]
              val cit = n.get("nulls").fields()
              while (cit.hasNext) {
                val ce = cit.next()
                if (ce.getValue.isNumber) cb += ce.getKey -> ce.getValue.asLong()
              }
              Some(cb.result())
            }
          val stats =
            if (!n.has("stats")) None
            else {
              val cb = Map.newBuilder[String, (String, String, String)]
              val cit = n.get("stats").fields()
              while (cit.hasNext) {
                val ce = cit.next(); val cn = ce.getValue
                if (cn.hasNonNull("t") && cn.hasNonNull("lo") && cn.hasNonNull("hi"))
                  cb += ce.getKey -> ((cn.get("t").asText(), cn.get("lo").asText(),
                    cn.get("hi").asText()))
              }
              Some(cb.result())
            }
          b += ((fe.getKey,
            if (n.hasNonNull("size")) Some(n.get("size").asLong()) else None,
            if (n.hasNonNull("rows")) Some(n.get("rows").asLong()) else None,
            nulls, stats))
        }
        (b.result(), dvb.result())
      }
    ManifestDelta(root.get("version").asLong(),
      if (root.hasNonNull("max_id")) Some(root.get("max_id").asLong()) else None,
      bucket, remove = remove, add = add, props = props, dvs = dvs)
  }

  /** Fold one delta onto its parent's materialized state. Removes apply
    * first, then adds (an add of an existing relPath is a metadata
    * revision, not a duplicate); the file list re-sorts to the canonical
    * order [[renderManifest]] writes, so a delta-materialized manifest is
    * indistinguishable from a parsed checkpoint. */
  private def applyDelta(parent: Manifest, d: ManifestDelta): Manifest = {
    val rm = d.remove.toSet
    val addRels = d.add.map(_._1)
    val addSet = addRels.toSet
    val files = (parent.files.filterNot(r => rm(r) || addSet(r)) ++ addRels).sorted
    def strip[T](m: Map[String, T]): Map[String, T] = m -- rm -- addSet
    Manifest(d.version, d.maxId, d.bucket, files,
      strip(parent.stats) ++ d.add.collect { case (r, _, _, _, Some(st)) => r -> st },
      strip(parent.sizes) ++ d.add.collect { case (r, Some(sz), _, _, _) => r -> sz },
      strip(parent.nulls) ++ d.add.collect { case (r, _, _, Some(nl), _) => r -> nl },
      strip(parent.rows) ++ d.add.collect { case (r, _, Some(rw), _, _) => r -> rw },
      d.props,
      strip(parent.dvs) ++ d.dvs)
  }

  /** Count of manifest ARTIFACT reads (full parses + delta parses) on the
    * calling thread — the spec surface proving the parsed-manifest cache
    * works: re-planning against an unchanged version must not re-read
    * JSON (same discipline as [[metaListings]]). */
  private[etl] object manReads {
    private val tl = ThreadLocal.withInitial[Long](() => 0L)
    def get(): Long = tl.get()
    def increment(): Unit = tl.set(tl.get() + 1L)
  }

  /** Parsed-manifest LRU: materialized manifests keyed by
    * (meta dir, version), validated against the version's artifact file
    * status (length + mtime) on every hit — manifests are immutable once
    * CAS'd, but a DROP TABLE + re-CREATE at the same path, or a vacuum,
    * must never serve a stale state. Bounded (a 1M-file manifest is
    * ~100 MB in memory; 64 entries suffice — plans touch the head plus a
    * short CDC window). */
  private final case class CacheEntry(artifact: Path, len: Long, mtime: Long,
                                      m: Manifest)
  private val ManCacheMax = 64

  /** WEIGHT bound for the LRU — total cached FILE ENTRIES across every
    * manifest, not manifest count: 64 × 1M-file manifests under a flat
    * entry cap would pin ~6 GB of driver heap; weighing by file count
    * bounds the heap by data (~100 B/entry → ~50 MB worst case here).
    * The most-recent entry always survives even when it alone exceeds
    * the budget (a plan in flight must keep its own manifest). Test
    * seam: specs shrink it to force eviction with synthetic manifests. */
  @volatile private[graft] var manCacheMaxFiles: Long = 512L * 1024

  private val manCache =
    new java.util.LinkedHashMap[(String, Long), CacheEntry](128, 0.75f, true)
  private var manCacheWeight: Long = 0L

  private def entryWeight(e: CacheEntry): Long = math.max(1L, e.m.files.size.toLong)

  private def cacheRemoveLocked(key: (String, Long)): Unit = {
    val old = manCache.remove(key)
    if (old != null) manCacheWeight -= entryWeight(old)
  }

  private def cacheEvictLocked(): Unit = {
    val it = manCache.entrySet().iterator()
    while (manCache.size > 1 &&
      (manCache.size > ManCacheMax || manCacheWeight > manCacheMaxFiles) &&
      it.hasNext) {
      val e = it.next()
      it.remove()
      manCacheWeight -= entryWeight(e.getValue)
    }
  }

  /** Test seams: forget every cached materialization (checkpoint-replay
    * specs), and observe the cache's entry count / weight (weight-bound
    * specs). */
  private[graft] def invalidateManifestCache(): Unit = manCache.synchronized {
    manCache.clear(); manCacheWeight = 0L
  }
  private[graft] def manifestCacheStats: (Int, Long) = manCache.synchronized {
    (manCache.size, manCacheWeight)
  }

  /** Test seam: what version `v` WOULD cost as a full manifest — the
    * O(table) bytes the delta layout avoids per commit. */
  private[graft] def fullManifestBytes(tgt: Catalog, table: String, v: Long): Long =
    renderManifest(readManifest(tgt, table, v).getOrElse(
      throw new IllegalArgumentException(s"no version $v"))).length.toLong

  private def cacheGet(f: org.apache.hadoop.fs.FileSystem, key: (String, Long))
      : Option[Manifest] = {
    val e = manCache.synchronized(manCache.get(key))
    if (e == null) None
    else scala.util.Try(f.getFileStatus(e.artifact)).toOption match {
      case Some(st) if st.getLen == e.len && st.getModificationTime == e.mtime =>
        Some(e.m)
      case _ => manCache.synchronized(cacheRemoveLocked(key)); None
    }
  }

  private def cachePut(f: org.apache.hadoop.fs.FileSystem, key: (String, Long),
                       artifact: Path, m: Manifest): Unit =
    scala.util.Try(f.getFileStatus(artifact)).foreach { st =>
      val e = CacheEntry(artifact, st.getLen, st.getModificationTime, m)
      manCache.synchronized {
        cacheRemoveLocked(key)
        manCache.put(key, e)
        manCacheWeight += entryWeight(e)
        cacheEvictLocked()
      }
    }

  private def readBytes(f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Test seam: downgrade a table to the LEGACY layout — a full manifest
    * at every version, no deltas — so specs that simulate pre-delta
    * writers (hand-edited manifests, stripped stats fields, scrambled
    * mtimes) exercise exactly the files such a writer would have left. */
  private[graft] def forceFullManifests(tgt: Catalog, table: String): Unit = {
    val f = fs(tgt, metaDir(tgt, table))
    versions(tgt, table).foreach { v =>
      val m = readManifest(tgt, table, v).getOrElse(
        throw new IllegalStateException(s"version $v unreadable"))
      val mp = manifestPath(tgt, table, v)
      writeAdvisoryFile(f, mp, renderManifest(m))
      f.delete(deltaPath(tgt, table, v), false)
      // drop the checksum sidecar so specs may hand-edit the file raw —
      // the CAS path (hard link) never leaves one either
      f.delete(new Path(mp.getParent, "." + mp.getName + ".crc"), false)
      f.delete(new Path(mp.getParent, "." + deltaPath(tgt, table, v).getName + ".crc"), false)
    }
  }

  /** Test seam: strip the HEAD manifest's per-file metadata (stats,
    * sizes, nulls, rows) — emulating a legacy writer that recorded none,
    * so property suites can assert pushdowns VOID (rather than answer
    * wrong) when the metadata they reason over is absent. */
  private[graft] def stripFileMeta(tgt: Catalog, table: String): Unit = {
    val v = headVersion(tgt, table)
    val m = readManifest(tgt, table, v).get
    val f = fs(tgt, metaDir(tgt, table))
    val mp = manifestPath(tgt, table, v)
    writeAdvisoryFile(f, mp, renderManifest(m.copy(
      stats = Map.empty, sizes = Map.empty, nulls = Map.empty,
      rows = Map.empty)))
    f.delete(deltaPath(tgt, table, v), false)
    f.delete(new Path(mp.getParent, "." + mp.getName + ".crc"), false)
    f.delete(new Path(mp.getParent,
      "." + deltaPath(tgt, table, v).getName + ".crc"), false)
    invalidateManifestCache()
  }

  /** Does version `v` have a commit artifact (full checkpoint OR delta)?
    * Delta probed first — on a sharded table every non-checkpoint version
    * has only the delta. */
  private def versionExists(f: org.apache.hadoop.fs.FileSystem, tgt: Catalog,
                            table: String, v: Long): Boolean =
    f.exists(deltaPath(tgt, table, v)) || f.exists(manifestPath(tgt, table, v))

  /** Materialize version `v`: full checkpoint if present, else walk the
    * delta chain back to the nearest checkpoint / cached version and fold
    * forward (each intermediate lands in the cache, so a subsequent walk —
    * the next commit, a CDC step — starts one delta away). None when the
    * version has no artifact, or its chain was vacuumed away. */
  private[etl] def readManifest(tgt: Catalog, table: String, v: Long): Option[Manifest] = {
    val f = fs(tgt, metaDir(tgt, table))
    val dirKey = metaDir(tgt, table)
    cacheGet(f, (dirKey, v)) match {
      case hit @ Some(_) => return hit
      case None =>
    }
    // walk back: collect unapplied deltas newest-first until a base
    var base: Option[Manifest] = None
    var pending: List[(Long, ManifestDelta)] = Nil
    var cur = v
    var done = false
    while (!done) {
      cacheGet(f, (dirKey, cur)) match {
        case Some(m) => base = Some(m); done = true
        case None =>
          val mp = manifestPath(tgt, table, cur)
          val dp = deltaPath(tgt, table, cur)
          if (f.exists(mp)) {
            manReads.increment()
            val m = parseManifest(readBytes(f, mp))
            cachePut(f, (dirKey, cur), mp, m)
            base = Some(m); done = true
          } else if (f.exists(dp)) {
            manReads.increment()
            pending = (cur, parseDelta(readBytes(f, dp))) :: pending
            cur -= 1
            if (cur < 0) return None // corrupt chain: deltas with no root
          } else {
            // neither artifact: v itself absent, or a vacuumed/broken chain
            return None
          }
      }
    }
    // fold forward oldest-first, caching each step (stamped against its
    // own version's artifact so stat-validation keeps working)
    var acc = base.get
    pending.foreach { case (ver, d) =>
      acc = applyDelta(acc, d)
      val artifact = deltaPath(tgt, table, ver)
      cachePut(f, (dirKey, ver), artifact, acc)
    }
    if (acc.version == v) Some(acc)
    else base.filter(_.version == v) // v itself was the checkpoint base
  }

  // ---------------------------------------------------- version log pointer

  /** Count of full `__vmeta` directory LISTINGS on the CALLING THREAD
    * (spec/audit surface): a pointer-present table answers [[versions]]
    * with a handful of exists() probes, so this counter must stay flat
    * across reads — at one commit per minute for a year, a
    * listing-per-read would touch ~500k names on every query plan.
    * Thread-local so concurrently-running suites can't pollute each
    * other's observations. */
  private[etl] object metaListings {
    private val tl = ThreadLocal.withInitial[Long](() => 0L)
    def get(): Long = tl.get()
    def increment(): Unit = tl.set(tl.get() + 1L)
  }

  private def pointerPath(tgt: Catalog, table: String) =
    new Path(metaDir(tgt, table), "_vlast")

  /** Publish reconstructible-content bytes at `p` (checkpoint writes):
    * staged under a uuid tmp then renamed, so readers never observe a torn
    * file. NOT a CAS — every writer of a given checkpoint derives the same
    * bytes from the same immutable version, so whoever lands is right;
    * rename-refused (HDFS semantics, a racer landed first) is success.
    * Throws IOException only when nothing usable ended up at `p`. */
  private def writeAdvisoryFile(f: org.apache.hadoop.fs.FileSystem, p: Path,
                                bytes: Array[Byte]): Unit = {
    if (f.exists(p)) return
    val tmp = new Path(p.getParent, p.getName + s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!f.rename(tmp, p)) {
      f.delete(tmp, false)
      if (!f.exists(p))
        throw new java.io.IOException(s"checkpoint write failed: $p")
    }
  }

  /** The Delta-`_last_checkpoint` analog: a tiny advisory file recording
    * the retained version RANGE `[lo, hi]` (versions are contiguous by
    * construction — commits increment, vacuum drops a prefix). ADVISORY
    * means self-healing, never authoritative: readers probe exists()
    * forward from both ends, so a pointer stale from a crash between a
    * manifest CAS and the pointer write (or mid-vacuum) costs a few
    * probes, never a wrong answer — and the pointer write itself may fail
    * without failing the commit. */
  private def readPointer(tgt: Catalog, table: String): Option[(Long, Long)] = {
    val p = pointerPath(tgt, table)
    val f = fs(tgt, metaDir(tgt, table))
    if (!f.exists(p)) None
    else scala.util.Try {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val root = mapper.readTree(txt)
      (root.get("lo").asLong(), root.get("hi").asLong())
    }.toOption
  }

  private def writePointer(tgt: Catalog, table: String, lo: Long, hi: Long): Unit =
    try {
      val f = fs(tgt, metaDir(tgt, table))
      val tmp = new Path(metaDir(tgt, table),
        s"_vlast.tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, true)
      try out.write(s"""{"lo":$lo,"hi":$hi}""".getBytes("UTF-8"))
      finally out.close()
      f.delete(pointerPath(tgt, table), false)
      if (!f.rename(tmp, pointerPath(tgt, table))) f.delete(tmp, false)
    } catch {
      case _: java.io.IOException => () // advisory: next reader just lists
    }

  /** Versions present, ascending (empty if the table doesn't exist).
    * Pointer-first: `[lo, hi]` from `_vlast`, healed by exists() probes
    * (lo forward past a crashed vacuum's deletions, hi forward past
    * commits newer than the pointer) — O(1 + lag) FS ops instead of
    * listing the whole directory. Tables without a pointer (legacy, or an
    * unreadable pointer) fall back to one full listing. */
  def versions(tgt: Catalog, table: String): Seq[Long] = {
    val f = fs(tgt, metaDir(tgt, table))
    def listAll(): Seq[Long] = {
      metaListings.increment()
      val md = new Path(metaDir(tgt, table))
      val pat = "v(\\d+)\\.(manifest|delta)\\.json".r
      if (!f.exists(md)) Seq.empty
      else f.listStatus(md).toSeq.map(_.getPath.getName)
        .collect { case pat(v, _) => v.toLong }
        .distinct.sorted
    }
    readPointer(tgt, table) match {
      case None => listAll()
      case Some((lo0, hi0)) =>
        var lo = lo0
        while (lo <= hi0 && !versionExists(f, tgt, table, lo)) lo += 1
        var hi = math.max(hi0, lo)
        while (versionExists(f, tgt, table, hi + 1)) hi += 1
        if (lo > hi || !versionExists(f, tgt, table, hi))
          listAll() // pointer nonsense (manual surgery): list authoritatively
        else lo to hi
    }
  }

  def currentVersion(tgt: Catalog, table: String): Option[Long] =
    versions(tgt, table).lastOption

  /** When version `v`'s manifest was committed: the manifest-recorded
    * wall clock ([[CommitTsProp]] — survives backup/restore and dir
    * copies), falling back to file mtime for manifests from older
    * writers. */
  /** Mtime of version `v`'s COMMIT artifact — the delta when present (a
    * checkpoint may be (re)written long after the commit, e.g. by vacuum),
    * the full manifest for legacy/root versions. Fallback only: every
    * writer since CommitTsProp stamps the wall clock into the manifest. */
  private def artifactMtime(tgt: Catalog, table: String, v: Long): Long = {
    val f = fs(tgt, metaDir(tgt, table))
    val dp = deltaPath(tgt, table, v)
    f.getFileStatus(if (f.exists(dp)) dp else manifestPath(tgt, table, v))
      .getModificationTime
  }

  private def committedAtMillis(tgt: Catalog, table: String, v: Long): Long =
    readManifest(tgt, table, v)
      .flatMap(_.props.get(CommitTsProp))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(artifactMtime(tgt, table, v))

  /** TIMESTAMP time travel: the newest version committed at or before
    * `tsMillis` — resolved by the manifest-RECORDED commit time
    * ([[CommitTsProp]]; Delta keeps the analogous timestamp in the
    * commit itself), with file mtime as the legacy fallback. One
    * manifest read per probed version (vacuum-bounded); versions probe
    * newest-first so the common "recent timestamp" case stops after a
    * few. Throws when every retained commit is newer than the asked
    * instant (the state at that time was either empty or vacuumed away —
    * both unanswerable). */
  def versionAt(tgt: Catalog, table: String, tsMillis: Long): Long = {
    val vs = versions(tgt, table)
    if (vs.isEmpty) throw tableNotFound(table)
    vs.reverse.find(v => committedAtMillis(tgt, table, v) <= tsMillis)
      .getOrElse(throw new IllegalArgumentException(
        s"table '$table' has no version committed at or before $tsMillis " +
          "(state was empty, or vacuumed away)"))
  }

  /** (version, props, bucket spec) of the head manifest in ONE pointer
    * resolution + ONE manifest read — for callers (DESCRIBE's
    * `Table.properties()`) that would otherwise stack three. */
  private[graft] def headSummary(tgt: Catalog, table: String)
      : Option[(Long, Map[String, String], Option[(Seq[String], Int)])] =
    currentVersion(tgt, table).flatMap(v => readManifest(tgt, table, v))
      .map(m => (m.version, m.props, m.bucket))

  def tableProps(tgt: Catalog, table: String): Map[String, String] =
    currentVersion(tgt, table)
      .flatMap(v => readManifest(tgt, table, v))
      .map(_.props).getOrElse(Map.empty)

  /** The upsert/CDC key columns the table's head manifest records
    * ([[UpsertKeysProp]] — written by every keyed load, carried forward
    * by appends and clones). None for a table never keyed-loaded. */
  def recordedUpsertKeys(tgt: Catalog, table: String): Option[Seq[String]] =
    tableProps(tgt, table).get(UpsertKeysProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

  /** File list of a version's manifest (absolute paths). */
  private def manifestFiles(tgt: Catalog, table: String, v: Long): Seq[String] =
    readManifest(tgt, table, v)
      .getOrElse(throw new IllegalArgumentException(
        s"table '$table' has no version $v"))
      .files.map(rel => new Path(dataDir(tgt, table), rel).toString)

  /** The recorded hash-bucket layout of the table's head version, if any
    * (spec/audit surface). */
  def bucketSpec(tgt: Catalog, table: String): Option[(Seq[String], Int)] =
    currentVersion(tgt, table).flatMap(v =>
      readManifest(tgt, table, v).flatMap(_.bucket))

  /** Per-thread dynamic scope WITHOUT inheritance. `scala.util
    * .DynamicVariable` rides an InheritableThreadLocal: a POOL thread
    * created while a scope is active (e.g. the global ExecutionContext
    * lazily growing during a `withValue` block) keeps that scope as its
    * base value for the thread's whole life and later serves unrelated
    * work with it — a concurrency-suite race this repo actually hit (a
    * conditional-put protocol leaking into another suite's writers). A
    * plain ThreadLocal starts every thread at the default; code that
    * spawns workers inside a scope re-scopes inside each worker. */
  private[etl] final class ThreadLocalDynamic[T](default: T) {
    private val tl = ThreadLocal.withInitial[T](() => default)
    def value: T = tl.get()
    def withValue[S](v: T)(body: => S): S = {
      val old = tl.get(); tl.set(v)
      try body finally tl.set(old)
    }
  }

  /** Commit protocol in force — swap in a [[ConditionalPutCommit]] for
    * stores without atomic create-or-fail (see [[ManifestCommit]]).
    * Thread-locally scoped WITHOUT inheritance, so concurrently-running
    * suites (and pool threads born inside a scope) can never observe each
    * other's protocol. */
  val commitProtocol = new ThreadLocalDynamic[ManifestCommit](FsAtomicCommit)

  /** THE manifest CAS — the one place every versioned commit lands.
    * Fires [[preCommitHook]], then stamps the commit's wall clock
    * ([[CommitTsProp]]) and its operation label `op` ([[OperationProp]],
    * `DESCRIBE HISTORY`'s operation column) into `m0` and tries to create
    * version `m0.version`. False when ANOTHER writer committed that
    * version first: the caller removes what it staged and reports the
    * loss — None to [[commitWithRetry]], which re-reads the head and
    * retries. */
  private[etl] def tryCommitManifest(tgt: Catalog, table: String, m0: Manifest,
                                     op: String): Boolean = {
    preCommitHook.value()
    // the wall clock rides IN the manifest, so TIMESTAMP AS OF survives
    // mtime-scrambling copies. MONOTONE like Delta's in-commit
    // timestamps: clamped to parent's + 1, so two writers with skewed
    // clocks can never record history out of order (an inversion would
    // make TIMESTAMP AS OF resolve to a state containing later-recorded
    // data and strand the skewed version unreachable). One parent
    // manifest read per commit — the commit paths read the head anyway.
    val parent = readManifest(tgt, table, m0.version - 1)
    val parentTs = parent
      .flatMap(_.props.get(CommitTsProp))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    val ts = math.max(commitClock.value(), parentTs.fold(Long.MinValue)(_ + 1L))
    // stamped HERE so carried parent props can never leak a stale label
    val m = m0.copy(props = m0.props + (CommitTsProp -> ts.toString) +
      (OperationProp -> op))
    val f = fs(tgt, metaDir(tgt, table))
    f.mkdirs(new Path(metaDir(tgt, table)))
    // O(changed files) commit bytes: a delta vs the parent is the CAS
    // artifact whenever a parent exists; the table's FIRST version (no
    // parent — fresh table, or a clone's v1) is the full root the delta
    // chain replays from. The parent-vs-delta choice is a pure function of
    // the parent's existence, so two racing writers always CAS the SAME
    // path. Every CheckpointEvery-th version additionally gets a full
    // checkpoint AFTER winning — advisory (readers reconstruct from the
    // chain if it's missing), so its write is best-effort and non-CAS.
    val won = parent match {
      case None =>
        commitProtocol.value.putIfAbsent(f,
          manifestPath(tgt, table, m.version), renderManifest(m))
      case Some(pm) =>
        commitProtocol.value.putIfAbsent(f,
          deltaPath(tgt, table, m.version), renderDelta(diffManifest(m, pm)))
    }
    if (won) {
      if (parent.isDefined && m.version % CheckpointEvery == 0L)
        try writeAdvisoryFile(f, manifestPath(tgt, table, m.version),
          renderManifest(m.copy(files = m.files.sorted)))
        catch { case _: java.io.IOException => () } // accelerator only
      // advance the advisory pointer (see [[versions]]): lo from the
      // existing pointer when present; a legacy table adopting the
      // pointer pays ONE listing here, after which its reads are
      // listing-free. A concurrent writer racing this write is harmless —
      // whichever value lands, probing heals it.
      val cur = readPointer(tgt, table)
      val lo = cur.map(_._1).getOrElse(
        versions(tgt, table).headOption.getOrElse(m.version))
      val hi = math.max(cur.map(_._2).getOrElse(m.version), m.version)
      writePointer(tgt, table, math.min(lo, m.version), hi)
    }
    won
  }

  /** Test seam: invoked by [[tryCommitManifest]] before every manifest
    * CAS — lets a spec interleave a competing writer deterministically.
    * Same non-inheriting thread-local scope as [[commitProtocol]]: a
    * spec's hook can never leak into other suites, survive a failure
    * inside the block, or ride a pool thread born inside the scope. */
  private[etl] val preCommitHook =
    new ThreadLocalDynamic[() => Unit](() => ())

  private val MaxCommitRetries = 20

  /** The refusal every head-requiring entry point gives a missing table. */
  private def tableNotFound(table: String) =
    new IllegalArgumentException(s"versioned table '$table' not found")

  /** The head version of an existing table. */
  private[graft] def headVersion(tgt: Catalog, table: String): Long =
    currentVersion(tgt, table).getOrElse(throw tableNotFound(table))

  /** One commit attempt's view of the table, handed out by
    * [[commitWithRetry]]: the head as read at the start of the attempt
    * (None: the table does not exist yet) and the CAS under the loop's
    * operation label. */
  private final class CommitAttempt(tgt: Catalog, table: String,
                                    val op: String, val head: Option[Manifest]) {
    /** The head manifest; a missing table refuses here. */
    def man: Manifest = head.getOrElse(throw tableNotFound(table))
    def cur: Long = man.version
    /** The version this attempt commits: one past the head. */
    def next: Long = head.fold(0L)(_.version) + 1L
    /** CAS `m` as version [[next]]: Some(next), or None when another
      * writer committed first. */
    def commit(m: Manifest): Option[Long] =
      if (tryCommitManifest(tgt, table, m.copy(version = next), op)) Some(next)
      else None
  }

  /** The optimistic-retry loop every library commit runs through. Each
    * attempt reads the head once and gets it, with the operation label
    * `op`, as a [[CommitAttempt]]. The attempt stages its work and
    * commits through [[CommitAttempt.commit]] (or hands `op` to a
    * row-op path). It returns the committed version (the current one
    * for a no-op), or None when it lost the race, after removing what it
    * staged. A lost race retries against the new head; after
    * [[MaxCommitRetries]] losses the call fails with an IOException. */
  private def commitWithRetry(tgt: Catalog, table: String, op: String)
                             (attempt: CommitAttempt => Option[Long]): Long = {
    var i = 0
    while (i < MaxCommitRetries) {
      val head = currentVersion(tgt, table).map(v =>
        readManifest(tgt, table, v).getOrElse(throw new IllegalArgumentException(
          s"table '$table' has no version $v")))
      attempt(new CommitAttempt(tgt, table, op, head)).foreach(v => return v)
      i += 1
    }
    throw new java.io.IOException(
      s"versioned $op on '$table' lost the commit race $MaxCommitRetries times")
  }

  /** Max of the id column across `absFiles`, from parquet FOOTER column
    * statistics — metadata-only (no row I/O), driver cost O(new files per
    * commit). None (manifest omits max_id; the next load scans) when any
    * populated file lacks usable id stats OR the set holds no rows at all
    * — a fabricated floor of 0 on a bail would reissue ids. Delegates to
    * the shared strict core in
    * [[graft.sources.ParquetSource.footerMaxLongInFiles]]. */
  private def footerMaxId(tgt: Catalog, absFiles: Seq[String]): Option[Long] =
    graft.sources.ParquetSource
      .footerMaxLongInFiles(tgt.spark, absFiles, Loader.IdCol)

  /** Max of the id column across a commit's new files `newRel`, from the
    * `id` ranges [[manifestMeta]] already read into `fm` — one footer
    * pass per new file per commit. The ranges answer when every
    * populated new file has a `long` id range and records zero null ids:
    * then every populated row group carries the non-null id statistics
    * [[footerMaxId]] reads, and the two agree exactly. Otherwise (no
    * range — stats missing, id outside the stats columns, a null or
    * absent id column) the strict footer pass decides, so the answer is
    * [[footerMaxId]]'s in every case. */
  private def newFilesMaxId(tgt: Catalog, table: String, fm: FileMeta,
                            newRel: Seq[String]): Option[Long] = {
    val maxes = newRel.filter(r => fm.rows.get(r).forall(_ > 0)).map { r =>
      fm.stats.get(r).flatMap(_.get(Loader.IdCol)).collect {
        case ("long", _, hi)
          if fm.nulls.get(r).flatMap(_.get(Loader.IdCol)).contains(0L) =>
          hi.toLong
      }
    }
    if (maxes.forall(_.isDefined)) maxes.flatten.maxOption
    else footerMaxId(tgt,
      newRel.map(r => new Path(dataDir(tgt, table), r).toString))
  }

  // --------------------------------------------------------------- zone maps

  /** Manifest zone maps cover at most this many columns (schema order) —
    * bounds manifest growth to O(files × MaxStatsCols) entries; a 100k-file
    * table stays a few-MB manifest. */
  private val MaxStatsCols = 16

  /** Columns whose footer ranges enter the manifest: the types with an
    * exact, total comparison domain in parquet statistics. */
  private def statColNames(schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    schema.fields.toSeq.collect {
      case f if Set[DataType](ByteType, ShortType, IntegerType, LongType,
        FloatType, DoubleType, StringType, DateType, TimestampType,
        TimestampNTZType).contains(f.dataType) => f.name
      // decimals of ANY precision record unscaled ranges: INT32/INT64
      // bounds up to p = 18, FIXED_LEN_BYTE_ARRAY big-endian
      // two's-complement beyond — both decode to the same `dec:<scale>`
      // domain (wide bounds just carry BigInteger strings)
      case f if f.dataType.isInstanceOf[DecimalType] => f.name
    }.take(MaxStatsCols)
  }

  /** Per-file metadata (zone maps, byte sizes, null counts, row counts)
    * for a new manifest: parent-carried entries for `carryRel` plus
    * freshly-footer-read entries for the new files — ONE footer pass per
    * new file at commit time (metadata-only, O(new files)); the commit's
    * max id comes from the same pass ([[newFilesMaxId]]). */
  private[etl] final case class FileMeta(stats: FileStats,
                                         sizes: Map[String, Long],
                                         nulls: Map[String, Map[String, Long]],
                                         rows: Map[String, Long])

  private def manifestMeta(tgt: Catalog, table: String,
                           parent: Option[Manifest], carryRel: Seq[String],
                           newParts: Seq[(String, Long)],
                           schema: org.apache.spark.sql.types.StructType): FileMeta = {
    val keep = carryRel.toSet
    val cStats = parent.fold(Map.empty: FileStats)(_.stats.filter(kv => keep(kv._1)))
    val cSizes = parent.fold(Map.empty[String, Long])(_.sizes.filter(kv => keep(kv._1)))
    val cNulls = parent.fold(Map.empty[String, Map[String, Long]])(
      _.nulls.filter(kv => keep(kv._1)))
    val cRows = parent.fold(Map.empty[String, Long])(_.rows.filter(kv => keep(kv._1)))
    val cols = statColNames(schema)
    val newRel = newParts.map(_._1)
    if (cols.isEmpty || newRel.isEmpty)
      FileMeta(cStats, cSizes ++ newParts.toMap, cNulls, cRows)
    else {
      val absToRel = newRel.map(r =>
        new Path(dataDir(tgt, table), r).toString -> r).toMap
      // the files carry PHYSICAL names (the writeBatch boundary); the
      // manifest records stats under LOGICAL names — request physical,
      // re-key back, and the whole stat/pruning layer stays logical
      val physOf = extendMapping(parent, schema)
      val toLogical = org.apache.spark.sql.graft.ColumnMapping.reverse(physOf)
      def rekey[A](m: Map[String, A]): Map[String, A] =
        if (toLogical.isEmpty) m
        else m.map { case (c, v) => toLogical.getOrElse(c, c) -> v }
      val meta = graft.sources.ParquetSource
        .footerFileMeta(tgt.spark, absToRel.keys.toSeq,
          cols.map(org.apache.spark.sql.graft.ColumnMapping.phys(physOf, _)))
      val fStats = meta.collect { case (abs, (_, m, _)) if m.nonEmpty =>
        absToRel(abs) -> clampStringBounds(rekey(m)) }
      val fNulls = meta.collect { case (abs, (_, _, n)) if n.nonEmpty =>
        absToRel(abs) -> rekey(n) }
      val fRows = meta.map { case (abs, (r, _, _)) => absToRel(abs) -> r }
      FileMeta(cStats ++ fStats, cSizes ++ newParts.toMap,
        cNulls ++ fNulls, cRows ++ fRows)
    }
  }

  /** String bounds longer than this truncate before entering the manifest
    * — a document table's multi-KB `text` min/max must not multiply into
    * the manifest's O(files × cols) footprint. */
  private val MaxStringBound = 64

  /** Truncate long string ranges the way the big table formats do: the
    * MIN truncates to a prefix (a prefix is ≤ the full string — still a
    * valid lower bound); the MAX truncates to a prefix with its last
    * bumpable ASCII char incremented (every string starting with the
    * original prefix sorts below the bumped one — still a valid upper
    * bound). A max with no bumpable char in the prefix drops the column's
    * range (no valid short bound exists). */
  private def clampStringBounds(m: Map[String, (String, String, String)])
      : Map[String, (String, String, String)] =
    m.flatMap {
      case (c, ("string", lo, hi))
        if lo.length > MaxStringBound || hi.length > MaxStringBound =>
        val lo2 = lo.take(MaxStringBound)
        val p = hi.take(MaxStringBound)
        val i = if (hi.length <= MaxStringBound) -2
                else p.lastIndexWhere(ch => ch < 0x7e.toChar)
        if (i == -2) Some(c -> ("string", lo2, hi))
        else if (i < 0) None // nothing bumpable: no safe short upper bound
        else Some(c -> ("string", lo2,
          p.substring(0, i) + (p(i) + 1).toChar))
      case kv => Some(kv)
    }

  // ------------------------------------------------- zone-map file skipping

  /** Resolve a predicate's column name against a metadata map's
    * writer-schema keys: EXACT first; case-insensitive fallback only when
    * unambiguous (exactly one key matches) — under
    * spark.sql.caseSensitive=true two columns may differ only in case,
    * and binding to the wrong one would skip files unsoundly. */
  private def resolveKey[V](m: Map[String, V], colName: String): Option[V] =
    m.get(colName).orElse {
      m.collect { case (n, v) if n.equalsIgnoreCase(colName) => v }.toList match {
        case one :: Nil => Some(one)
        case _ => None // absent or ambiguous: cannot reason
      }
    }

  /** Canonicalize a literal into the zone map's comparison domain for
    * `tag` — None when the combination is not provably comparable IN THE
    * DOMAIN SPARK ITSELF COMPARES IN (the conjunct then can't prune THIS
    * column). The subtlety is type coercion: Spark widens a LONG column
    * compared against a Float/Double/numeric-string literal to DOUBLE
    * (rounding values above 2^53), so an exact integer comparison here
    * could skip a file whose widened rows actually match — those mixed
    * shapes are REJECTED for integral tags. For `double` tags every
    * numeric literal is first rounded THROUGH a double, exactly mirroring
    * Spark's coercion (double-vs-long, double-vs-decimal, double-vs-string
    * all compare as doubles), so pruning stays available and agrees with
    * the scan bit-for-bit. Strings compare as Java strings, restricted to
    * ASCII where Java order and parquet's UTF-8 byte order agree.
    * Temporal conversions assume UTC sessions — the project-wide contract
    * (Verify/Bench/specs all pin spark.sql.session.timeZone=UTC). */
  private def canonLiteral(tag: String, v: Any): Option[Any] = {
    // exact-integer domain: only literal types Spark compares with a long
    // column WITHOUT double widening (integral families and decimals —
    // long-vs-decimal compares in exact decimal)
    def num: Option[BigDecimal] = v match {
      case b: Byte => Some(BigDecimal(b.toInt))
      case s: Short => Some(BigDecimal(s.toInt))
      case i: Int => Some(BigDecimal(i))
      case l: Long => Some(BigDecimal(l))
      case d: BigDecimal => Some(d)
      case d: java.math.BigDecimal => Some(BigDecimal(d))
      case b: BigInt => Some(BigDecimal(b))
      case _ => None // Float/Double/String: Spark widens the COLUMN to
                     // double — exact comparison here would be unsound
    }
    // Spark's widened-double domain: round ANY numeric (or numeric-string)
    // literal through a double first — the exact coercion the scan applies
    def dbl: Option[BigDecimal] = {
      val d: Option[Double] = v match {
        case b: Byte => Some(b.toDouble)
        case s: Short => Some(s.toDouble)
        case i: Int => Some(i.toDouble)
        case l: Long => Some(l.toDouble)
        case f: Float => Some(f.toDouble)
        case x: Double => Some(x)
        case x: BigDecimal => Some(x.toDouble)
        case x: java.math.BigDecimal => Some(x.doubleValue)
        case b: BigInt => Some(b.toDouble)
        case s: String => scala.util.Try(s.trim.toDouble).toOption
        case _ => None
      }
      d.filterNot(_.isNaN).map(x => BigDecimal(new java.math.BigDecimal(x)))
    }
    def days: Option[Long] = v match {
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case s: String => scala.util.Try(
        java.time.LocalDate.parse(s.trim).toEpochDay).toOption
      case _ => None
    }
    def micros: Option[BigDecimal] = v match {
      case t: java.sql.Timestamp =>
        val i = t.toInstant
        Some(BigDecimal(i.getEpochSecond) * 1000000L + i.getNano / 1000L)
      case i: java.time.Instant =>
        Some(BigDecimal(i.getEpochSecond) * 1000000L + i.getNano / 1000L)
      case l: java.time.LocalDateTime =>
        val i = l.toInstant(java.time.ZoneOffset.UTC)
        Some(BigDecimal(i.getEpochSecond) * 1000000L + i.getNano / 1000L)
      case s: String =>
        val t = s.trim
        scala.util.Try {
          val ldt =
            if (t.length <= 10) java.time.LocalDate.parse(t).atStartOfDay()
            else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          val i = ldt.toInstant(java.time.ZoneOffset.UTC)
          BigDecimal(i.getEpochSecond) * 1000000L + i.getNano / 1000L
        }.toOption
      case _ => days.map(d => BigDecimal(d) * 86400000000L) // date → midnight UTC
    }
    tag match {
      case "long" => num
      case "double" => dbl
      case "date" => days.map(BigDecimal(_))
      case "ts" => micros
      case "string" => v match {
        case s: String if s.forall(_ < 128.toChar) => Some(s)
        case _ => None
      }
      // int-backed decimal: bounds are UNSCALED at the file's recorded
      // scale — rescale the literal into that domain. EXACT literals
      // only (integral/decimal — Spark compares those with a decimal
      // column exactly); a float/double literal makes Spark widen the
      // COLUMN to double, where an exact-domain prune could wrongly
      // skip a value whose double rounding matches — so it canonicalizes
      // to None and the file is kept.
      case t if t.startsWith("dec:") =>
        scala.util.Try(t.stripPrefix("dec:").toInt).toOption.flatMap(s =>
          num.map(_ * BigDecimal(10).pow(s)))
      case _ => None
    }
  }

  /** Parse a recorded `[lo, hi]` bound pair into its comparison domain —
    * None when not safely comparable (non-ASCII string bounds: Java order
    * may disagree with UTF-8). */
  private def parseBounds(tag: String, loS: String, hiS: String): Option[(Any, Any)] =
    tag match {
      case "string" =>
        if (loS.forall(_ < 128.toChar) && hiS.forall(_ < 128.toChar))
          Some((loS, hiS))
        else None
      case "double" => scala.util.Try(
        (BigDecimal(new java.math.BigDecimal(loS.toDouble)): Any,
         BigDecimal(new java.math.BigDecimal(hiS.toDouble)): Any)).toOption
      // integral domains, incl. UNSCALED decimal bounds — parse as
      // BigInt, not Long: an FLBA-backed decimal(25, 2)'s unscaled
      // range exceeds 64 bits
      case _ => scala.util.Try(
        (BigDecimal(BigInt(loS)): Any, BigDecimal(BigInt(hiS)): Any)).toOption
    }

  private def leOrd(a: Any, b: Any): Boolean = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => x <= y
    case (x: String, y: String) => x.compareTo(y) <= 0
    case _ => true
  }
  private def ltOrd(a: Any, b: Any): Boolean = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => x < y
    case (x: String, y: String) => x.compareTo(y) < 0
    case _ => true
  }

  /** Does a file whose column ranges are `st` possibly satisfy the
    * comparison `(colName, cmp, values)`? True (keep the file) on any
    * uncertainty. */
  private def rangeAdmits(st: Map[String, (String, String, String)],
                          colName: String, cmp: String,
                          values: Seq[Any]): Boolean =
    resolveKey(st, colName) match {
      case None => true // no range recorded: cannot exclude
      case Some((tag, loS, hiS)) =>
        parseBounds(tag, loS, hiS) match {
          case None => true
          case Some((lo, hi)) =>
            // canonicalize each literal; an uncanonicalizable literal
            // makes the conjunct unprunable for this file
            val lits = values.map(canonLiteral(tag, _))
            if (lits.exists(_.isEmpty)) true
            else {
              val vs = lits.flatten
              cmp match {
                case "eq" | "in" => vs.exists(x => leOrd(lo, x) && leOrd(x, hi))
                case "lt" => ltOrd(lo, vs.head) // some row < x possible iff min < x
                case "le" => leOrd(lo, vs.head)
                case "gt" => ltOrd(vs.head, hi) // some row > x possible iff max > x
                case "ge" => leOrd(vs.head, hi)
                case _ => true
              }
            }
        }
    }

  import org.apache.spark.sql.graft.ZonePred

  /** Null count of `colName` in one file's recorded counts (same
    * exact-then-unique-ci name resolution as ranges). */
  private def nullCountOf(nulls: Map[String, Long], colName: String): Option[Long] =
    resolveKey(nulls, colName)

  /** MAY file `rel` hold a row satisfying `p`? One-sided: true on any
    * uncertainty. AND = all branches possible; OR = some branch possible;
    * comparisons consult ranges, null checks consult the recorded
    * null/row counts. */
  private[etl] def fileAdmits(man: Manifest, rel: String, p: ZonePred.P): Boolean = {
    val st = man.stats.getOrElse(rel, Map.empty)
    val nulls = man.nulls.getOrElse(rel, Map.empty)
    val rows = man.rows.get(rel)
    def go(q: ZonePred.P): Boolean = q match {
      case ZonePred.And(ps) => ps.forall(go)
      case ZonePred.Or(ps) => ps.isEmpty || ps.exists(go)
      case ZonePred.Unknown => true
      case ZonePred.Leaf(c, op, vs) => rangeAdmits(st, c, op, vs)
      case ZonePred.NullCheck(c, isNot) => nullCountOf(nulls, c) match {
        case None => true // no count recorded: cannot exclude
        case Some(n) =>
          if (!isNot) n > 0 // a null exists iff the count is positive
          else rows.forall(r => n < r) // a non-null exists iff n < rowCount
      }
    }
    go(p)
  }

  /** Does the metadata PROVE every row of file `rel` satisfies `p`?
    * One-sided the OTHER way: false on any uncertainty — the whole-file
    * drop test behind [[delete]]'s metadata-only path. A comparison
    * covers only when the column additionally has a recorded null count
    * of ZERO (null rows satisfy no comparison). Truncated string bounds
    * stay sound: they only WIDEN `[lo, hi]`, and coverage asks that the
    * whole widened interval satisfies the comparison. */
  private[etl] def fileCovered(man: Manifest, rel: String, p: ZonePred.P): Boolean = {
    val st = man.stats.getOrElse(rel, Map.empty)
    val nulls = man.nulls.getOrElse(rel, Map.empty)
    val rows = man.rows.get(rel)
    def eqOrd(a: Any, b: Any): Boolean = leOrd(a, b) && leOrd(b, a)
    def go(q: ZonePred.P): Boolean = q match {
      case ZonePred.And(ps) => ps.nonEmpty && ps.forall(go)
      case ZonePred.Or(ps) => ps.exists(go)
      case ZonePred.Unknown => false
      case ZonePred.NullCheck(c, isNot) => nullCountOf(nulls, c) match {
        case None => false
        case Some(n) =>
          if (!isNot) rows.contains(n) // ALL rows null
          else n == 0L                 // NO row null
      }
      case ZonePred.Leaf(c, cmp, values) =>
        if (!nullCountOf(nulls, c).contains(0L)) false
        else resolveKey(st, c) match {
          case None => false
          case Some((tag, loS, hiS)) => parseBounds(tag, loS, hiS) match {
            case None => false
            case Some((lo, hi)) =>
              val lits = values.map(canonLiteral(tag, _))
              if (lits.exists(_.isEmpty)) false
              else {
                val vs = lits.flatten
                // ordering helpers default TRUE on foreign types — for
                // coverage both sides must be same-domain, re-check
                val sameDomain = (lo, vs.head) match {
                  case (_: BigDecimal, _: BigDecimal) => true
                  case (_: String, _: String) => true
                  case _ => false
                }
                sameDomain && (cmp match {
                  case "eq" => eqOrd(lo, hi) && eqOrd(lo, vs.head)
                  case "in" => eqOrd(lo, hi) && vs.exists(eqOrd(_, lo))
                  case "lt" => ltOrd(hi, vs.head) // max < x ⇒ all rows < x
                  case "le" => leOrd(hi, vs.head)
                  case "gt" => ltOrd(vs.head, lo)
                  case "ge" => leOrd(vs.head, lo)
                  case _ => false
                })
              }
          }
        }
    }
    go(p)
  }

  /** Partition a manifest's files into (kept, skipped) under `pred` using
    * the recorded zone maps — pure driver-side metadata, no I/O. */
  private[etl] def pruneByStats(man: Manifest,
                                pred: org.apache.spark.sql.Column)
      : (Seq[String], Seq[String]) =
    pruneByPred(man,
      org.apache.spark.sql.graft.ColumnExprBridge.predTree(pred))

  private[etl] def pruneByPred(man: Manifest, p: ZonePred.P)
      : (Seq[String], Seq[String]) = {
    val keepB = bucketsFor(man, p)
    if ((p == ZonePred.Unknown || (man.stats.isEmpty && man.nulls.isEmpty))
        && keepB.isEmpty)
      (man.files, Nil)
    else man.files.partition(rel =>
      keepB.forall(ks => bucketOfRel(rel).forall(ks.contains)) &&
        fileAdmits(man, rel, p))
  }

  /** Bucket ids that provably contain EVERY row matching `pred` on a
    * hash-bucketed layout — the file-level point-lookup index the bucket
    * layout already is, applied to arbitrary predicate trees: an eq
    * constraint on every bucket key (or a small IN on a single-key
    * layout) hashes driver-side to its bucket set, and all other
    * buckets' files skip with zero I/O and no job. None = the predicate
    * doesn't pin the keys (or a value has no exact key string, see
    * [[bucketKeyString]]) — no restriction, never a wrong skip. The hash
    * is [[graft.functions.PortableHash.hmodJvm]], the bit-identical JVM
    * twin of the writer's [[Loader.bucketIdExpr]]. */
  private[etl] def bucketsFor(man: Manifest,
                              p: ZonePred.P): Option[Set[Int]] =
    man.bucket.flatMap { case (keys, n) =>
      def conj(q: ZonePred.P): Seq[ZonePred.P] = q match {
        case ZonePred.And(ps) => ps.flatMap(conj)
        case leaf => Seq(leaf)
      }
      lazy val types = recordedSchema(man).fold(
        Map.empty[String, org.apache.spark.sql.types.DataType])(
        _.fields.map(f => f.name -> f.dataType).toMap)
      def str(c: String, v: Any): Option[String] =
        bucketKeyString(v, resolveKey(types, c))
      val leaves = conj(p)
      def eqOf(c: String): Option[String] = leaves.collectFirst {
        case ZonePred.Leaf(lc, "eq", Seq(v)) if lc == c => str(c, v)
      }.flatten
      def bucketOf(parts: Seq[String]): Int =
        (graft.functions.PortableHash.hmodJvm(parts.mkString("\u0001")) % n)
          .toInt
      if (keys.sizeIs == 1) {
        val k = keys.head
        eqOf(k).map(s => Set(bucketOf(Seq(s)))).orElse(
          leaves.collectFirst {
            case ZonePred.Leaf(lc, "in", vs) if lc == k && vs.sizeIs <= 256 =>
              val ss = vs.map(str(k, _))
              if (ss.forall(_.isDefined))
                Some(ss.flatten.map(s => bucketOf(Seq(s))).toSet)
              else None
          }.flatten)
      } else {
        val parts = keys.map(eqOf)
        if (parts.forall(_.isDefined)) Some(Set(bucketOf(parts.flatten)))
        else None
      }
    }

  /** `v` stringified exactly as the writer's [[Loader.bucketIdExpr]]
    * stringifies a key column of type `colType`: Spark's own `Cast` to
    * the column's type, then to string, evaluated on the driver in the
    * session's time zone and eval mode — so date, timestamp, double and
    * decimal keys hash like the written rows, with no second formatting
    * rule to drift. None when an eq match would not imply equal key
    * strings: Spark compares a string column with a non-string value in
    * the value's domain ('05' = 5), and a value that does not up-cast to
    * the column's type makes Spark compare in a wider domain (a long
    * column against 2^53 as a double matches 2^53 + 1); also when the
    * cast fails or yields null, and for a floating zero (0.0 = -0.0,
    * but the two stringify apart). A manifest with no recorded schema
    * (legacy) takes the value's own type, for strings, integrals and
    * booleans only. */
  private[etl] def bucketKeyString(
      v: Any, colType: Option[org.apache.spark.sql.types.DataType])
      : Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types._
    scala.util.Try(Literal(v)).toOption.flatMap { l =>
      val from = l.dataType
      val to = colType.getOrElse(from)
      val exact = (from, to) match {
        case _ if colType.isEmpty => from match {
          case StringType | BooleanType | ByteType | ShortType | IntegerType |
               LongType => true
          case _ => false
        }
        case _ if from == to => true
        case (_, _: StringType) => false
        case (StringType, _) => true
        case _ => Cast.canUpCast(from, to)
      }
      val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      if (!exact) None
      else scala.util.Try(Cast(l, to, tz).eval() match {
        case null => None
        // 0.0 = -0.0 in Spark's comparison, but the two stringify apart
        case d: Double if d == 0.0 => None
        case f: Float if f == 0.0f => None
        case typed => Some(Cast(Literal(typed, to), StringType, tz).eval().toString)
      }).toOption.flatten
    }
  }

  /** Hidden-path rule for walking batch dirs: Spark's own convention —
    * `_`/`.`-prefixed names are metadata EXCEPT partition-style `name=val`
    * dirs (which is exactly what bucket dirs `__gbucket=K` are). */
  private def hiddenName(n: String): Boolean =
    (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")

  /** Parquet part-files under `dir` (recursing through bucket subdirs), as
    * paths relative to the data dir. */
  private def partFiles(tgt: Catalog, table: String, batchDir: Path): Seq[(String, Long)] = {
    val f = fs(tgt, dataDir(tgt, table))
    val base = new Path(dataDir(tgt, table)).toUri.getPath.stripSuffix("/")
    def walk(p: Path): Seq[(Path, Long)] =
      f.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (hiddenName(n)) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (st.isFile && n.endsWith(".parquet")) Seq((st.getPath, st.getLen))
        else Nil
      }
    walk(batchDir).map { case (fp, len) =>
      val p = fp.toUri.getPath
      require(p.startsWith(base + "/"), s"$p not under $base")
      (p.substring(base.length + 1), len)
    }
  }

  /** Bucket id a relative file path encodes (`__gbucket=K` segment), None
    * for a file written before the table was bucketed. */
  private def bucketOfRel(rel: String): Option[Int] =
    rel.split('/').collectFirst {
      case seg if seg.startsWith(Loader.BucketCol + "=") =>
        seg.stripPrefix(Loader.BucketCol + "=").toInt
    }

  /** Write `out` as a fresh batch dir (bucketed when the layout says so,
    * so every file's path names its bucket) and return (batch dir,
    * relative part paths with byte sizes — recorded in the manifest so
    * readers and compaction never pay a per-file status RPC).
    * An empty result under a bucketed layout writes
    * a flat empty file instead — a partitioned write of zero rows emits no
    * files at all, and a version must keep at least one file so its schema
    * survives. */
  /** Parquet BLOOM FILTER write options for the table's recorded bloom
    * columns (restricted to columns present in this batch): row-group
    * point-lookup skipping on columns whose VALUE DISTRIBUTION defeats
    * min/max zone maps — a URL or document-id column is uniformly hashed
    * across every file, so its recorded [lo, hi] spans everything and
    * range pruning admits all; a bloom answers "definitely absent" per
    * row group instead. The filters live IN the parquet footers (parquet
    * 1.16 native), so Spark's own reader consults them for pushed eq/IN
    * with zero graft code on the read path and zero manifest bloat —
    * the deliberate contrast with manifest-inline blooms, whose ~100 KB
    * per file × col would multiply a 100 TB table's manifest into GBs. */
  private def bloomOptions(out: DataFrame, bloomCols: Seq[String]): Map[String, String] =
    bloomCols.filter(out.columns.contains).flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      // NDV sizes the filter (~120 KB per row group per column at the
      // parquet default 1% fpp); a row group holding more distinct keys
      // degrades fpp, never correctness
      s"parquet.bloom.filter.expected.ndv#$c" -> "100000")).toMap

  private def writeBatch(tgt: Catalog, table: String, out0: DataFrame,
                         bucket: Option[(Seq[String], Int)],
                         bloomCols: Seq[String] = Nil,
                         physOf: Map[String, String] = Map.empty,
                         partSpec: Seq[PartTransform] = Nil,
                         zorder: Boolean = false,
                         extraOpts: Map[String, String] = Map.empty)
      : (Path, Seq[(String, Long)]) = {
    // the WRITE boundary of column mapping: files always carry PHYSICAL
    // names (bucket keys, bloom columns, and partition-transform columns
    // are identity-mapped by the rename refusal matrix, so their
    // references below still resolve)
    val out1 = org.apache.spark.sql.graft.ColumnMapping.toPhysical(out0, physOf)
    // HIDDEN PARTITIONING layout: range-cluster on the monotonic derived
    // values, sort by the base columns within — each file covers a tight
    // base-column range, so the zone maps prune RAW predicates. Applied
    // only when every declared column is present (a narrow staged frame
    // skips the arrangement, never fails the write).
    val spec = partSpec.filter(t =>
      out1.columns.exists(_.equalsIgnoreCase(t.col)))
    val out = if (spec.isEmpty || spec.size != partSpec.size) out1 else {
      val n = tgt.spark.conf.get("spark.sql.shuffle.partitions").toInt
      val derived = spec.map(transformExpr)
      val bases = spec.map(t => col(t.col))
      // ZORDER layout: range on the Morton interleave of the clustered
      // columns instead of their lexicographic sequence — each file
      // covers a tight range in EVERY clustered dimension, so the zone
      // maps prune the second column too. One bounds aggregation per
      // write (ZOrder.zValue collects min/max as plan literals); ties
      // sort by the base columns for stable, tight files. Only the
      // all-identity CLUSTER BY shape z-orders (validated at declare
      // time); temporal-transform specs keep the monotonic range.
      val zCol =
        if (zorder && spec.size >= 2 && spec.forall(_.fn == "identity"))
          Some(graft.operators.ZOrder.zValue(out1, spec.map(_.col)))
        else None
      (bucket, zCol) match {
        case (Some((keys, bn)), Some(z)) =>
          out1.repartitionByRange(n, Loader.bucketIdExpr(keys, bn), z)
            .sortWithinPartitions((z +: bases): _*)
        case (None, Some(z)) =>
          out1.repartitionByRange(n, z)
            .sortWithinPartitions((z +: bases): _*)
        case (Some((keys, bn)), None) =>
          // co-range bucket ids WITH the derived values so a large
          // bucket's several files carry disjoint base ranges
          out1.repartitionByRange(n,
            (Loader.bucketIdExpr(keys, bn) +: derived): _*)
            .sortWithinPartitions((derived ++ bases): _*)
        case (None, None) =>
          out1.repartitionByRange(n, derived: _*)
            .sortWithinPartitions((derived ++ bases): _*)
      }
    }
    val uuid = java.util.UUID.randomUUID().toString
    val batch = new Path(dataDir(tgt, table), s"batch-$uuid")
    val opts = bloomOptions(out, bloomCols) ++ extraOpts
    bucket match {
      case Some((keys, n)) =>
        out.withColumn(Loader.BucketCol, Loader.bucketIdExpr(keys, n))
          .write.mode(SaveMode.Overwrite).options(opts)
          .partitionBy(Loader.BucketCol).parquet(batch.toString)
        val rel = partFiles(tgt, table, batch)
        if (rel.nonEmpty) (batch, rel)
        else {
          out.write.mode(SaveMode.Overwrite).options(opts).parquet(batch.toString)
          (batch, partFiles(tgt, table, batch))
        }
      case None =>
        out.write.mode(SaveMode.Overwrite).options(opts).parquet(batch.toString)
        (batch, partFiles(tgt, table, batch))
    }
  }

  /** GENERATED / IDENTITY materialization over a user-provided write
    * frame, driven by the parent manifest's RECORDED schema (the
    * declarations live there as field metadata) — the shared pre-write
    * hook of the load, overwrite, and copy-on-write row-op paths. A
    * table without declarations passes through untouched.
    *
    * IDENTITY assignment is WATERMARK-FREE: the next value derives from
    * the head's recorded zone maps over the identity column (manifest
    * math, zero file I/O — one scan fallback for stat gaps), so
    * rollback/compaction/clone need no bookkeeping and the direction
    * invariant holds against whatever state is actually committed.
    * Deleted rows' stats over-approximate the extreme — the safe
    * direction (values never reissue under a live head). */
  private def prepareDeclaredColumns(tgt: Catalog, table: String,
                                     headMan: Option[Manifest],
                                     df: DataFrame,
                                     verifyProvided: Boolean = true): DataFrame =
    headMan.flatMap(recordedSchema) match {
      case Some(s) =>
        // IDENTITY stamps FIRST: a generation expression may reference
        // an identity column (Spark's CREATE validation allows it — the
        // identity column is not itself "generated" in that check), and
        // computing it before assignment would freeze NULLs into the
        // derived column forever
        val d1 = GeneratedCols.identitySpecs(s).foldLeft(df) {
          case (d, (f, spec)) =>
            val asc = spec.getStep > 0
            val withCol =
              if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
              else d.withColumn(f.name, lit(null).cast(f.dataType))
            // GENERATED ALWAYS AS IDENTITY: explicit values refuse
            // IN-TASK (the stamp throws on a non-null slot — no probe
            // action, no extra plan execution, fails before any commit);
            // BY DEFAULT keeps provided values and fills the rest.
            // Row-op frames (verifyProvided = false) re-emit EXISTING
            // rows' values — never refused, never re-stamped. (An
            // explicit row-op SET on the identity column is therefore
            // the user overriding the assignment — the same contract as
            // BY DEFAULT explicit inserts: the engine guarantees
            // uniqueness and direction for values IT assigns.)
            val next = identityHighWater(tgt, table, headMan.get, f.name, asc)
              .map(_ + spec.getStep).getOrElse(spec.getStart)
            org.apache.spark.sql.graft.IdentityStamp.stamp(
              withCol, withCol.columns.find(_.equalsIgnoreCase(f.name)).get,
              next, spec.getStep,
              refuseExplicit = verifyProvided && !spec.isAllowExplicitInsert)
        }
        if (GeneratedCols.hasGenerated(s))
          GeneratedCols.materialize(tgt.spark, s, d1, verifyProvided)
        else d1
      case _ => df
    }

  /** The merge-on-read delta write's per-statement identity reservation:
    * `(column, firstValue, step)` for every identity column of `table`'s
    * head — firstValue one step beyond the committed high water (the
    * same watermark-free zone-map derivation the load path uses). The
    * tasks then stride the reservation disjointly
    * ([[org.apache.spark.sql.graft.IdentityStamp.TaskIdentityAssigner]]);
    * uniqueness against CONCURRENT writers holds because the delta
    * commit CASes against the pinned version and REFUSES on conflict —
    * values derived from a stale head never commit. */
  private[graft] def identityDeltaSpecs(tgt: Catalog, table: String)
      : Seq[(String, Long, Long)] =
    (for {
      v <- currentVersion(tgt, table).toSeq
      man <- readManifest(tgt, table, v).toSeq
      s <- recordedSchema(man).toSeq
      (f, spec) <- GeneratedCols.identitySpecs(s)
    } yield {
      val asc = spec.getStep > 0
      val base = identityHighWater(tgt, table, man, f.name, asc)
        .map(_ + spec.getStep).getOrElse(spec.getStart)
      (f.name, base, spec.getStep)
    })

  /** The committed extreme of identity column `colName` in `man`'s
    * state: the max (ascending) / min (descending) over the recorded
    * per-file zone maps — pure manifest math when every row-bearing
    * file records a usable range, ONE aggregation scan otherwise. None
    * on an empty table (the next value is the declared START). */
  private def identityHighWater(tgt: Catalog, table: String, man: Manifest,
                                colName: String, asc: Boolean): Option[Long] = {
    val bearing = man.files.filter(r => man.rows.get(r).forall(_ > 0))
    if (bearing.isEmpty) return None
    val perFile: Seq[Option[Long]] = bearing.map { r =>
      man.stats.get(r).flatMap(_.get(colName)).flatMap {
        case ("long", lo, hi) =>
          scala.util.Try((if (asc) hi else lo).toLong).toOption
        case _ => None
      }
    }
    if (perFile.forall(_.isDefined))
      Some(perFile.flatten.reduce((a, b) =>
        if (asc) math.max(a, b) else math.min(a, b)))
    else {
      val r = readVersion(tgt, table, man.version)
        .agg((if (asc) max(col(colName).cast("long"))
              else min(col(colName).cast("long"))).as("x")).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
  }

  // -------------------------------------------------------------------- load

  /** Load `incoming` as the next version. Append (no `upsertFields`) writes
    * only the new rows and the new manifest references every prior file —
    * O(batch) I/O, O(1) snapshot. With `upsertFields` the merge is
    * copy-on-write; on a table bucketed by keys the upsert covers, the
    * rewrite is BUCKET-SCOPED (only touched buckets' files are replaced —
    * see the class doc). Surrogate ids continue across versions. `bucketBy`
    * on the first load lays the table out hash-bucketed; on later loads it
    * must match the recorded layout (a flat table migrates to bucketed via
    * one full rewrite). Returns the committed version number.
    */
  def load(tgt: Catalog, table: String, incoming0: DataFrame,
           upsertFields: Seq[String] = Nil, idOrder: Seq[String] = Nil,
           ensure: Boolean = true, safe: Boolean = false,
           bucketBy: Option[(Seq[String], Int)] = None,
           extraProps: Map[String, String] = Map.empty,
           bloomBy: Seq[String] = Nil,
           dropProps: Seq[String] = Nil): Long = {
    val incoming = if (incoming0.columns.contains(Loader.IdCol))
      incoming0.drop(Loader.IdCol) else incoming0
    // optimistic concurrency: merge against the observed head, stage the
    // batch, CAS the manifest. A lost CAS means another writer committed
    // first — discard the staged files (their ids and merge inputs are
    // stale) and re-merge against the NEW head, so both writers' rows
    // survive as consecutive versions.
    val v = commitWithRetry(tgt, table, "load")(a =>
      loadAttempt(tgt, table, a, incoming, upsertFields, idOrder, ensure, safe,
        bucketBy, extraProps, bloomBy, dropProps))
    maybeAutoCompact(tgt, table)
    v
  }

  /** One optimistic attempt; None = lost the manifest CAS. `extraProps`
    * ride the committed manifest's props map ATOMICALLY with the data —
    * the hook idempotent writers (the streaming sink's epoch stamp) hang
    * their dedup state on. */
  private def loadAttempt(tgt: Catalog, table: String, a: CommitAttempt,
                          incoming0: DataFrame,
                          upsertFields: Seq[String], idOrder: Seq[String],
                          ensure: Boolean, safe: Boolean,
                          bucketBy: Option[(Seq[String], Int)],
                          extraProps: Map[String, String],
                          bloomBy: Seq[String],
                          dropProps: Seq[String] = Nil): Option[Long] = {
    Loader.ensureParquetWriteConf(tgt.spark)
    val headMan = a.head
    // GENERATED / IDENTITY columns materialize on the INCOMING frame
    // before any merge or staging: computed values land in the written
    // bytes, provided mismatches refuse in-flight (GeneratedCols)
    val incoming = prepareDeclaredColumns(tgt, table, headMan, incoming0)
    // CHECK constraint to enforce on this commit: this load's own
    // declaration wins over the recorded one. A NEWLY-declared (or
    // changed) constraint on a non-empty table additionally validates
    // the EXISTING rows — Delta's ADD CONSTRAINT scan — because the
    // manifest must never advertise a CHECK its committed data violates
    // (the per-commit induction starts from a verified base).
    val checkSql = effectiveCheck(
      headMan.fold(Map.empty[String, String])(_.props) ++ extraProps)
    for {
      c <- extraProps.get(CheckConstraintProp)
      man <- headMan
      if !man.props.get(CheckConstraintProp).contains(c)
    } enforceCheck(readVersion(tgt, table, man.version), c, table)
    // the recorded layout wins; a conflicting request is an error, not a
    // silent re-layout. A flat table CAN migrate to bucketed (full
    // rewrite, layout recorded with the commit).
    val recorded = headMan.flatMap(_.bucket)
    val bucket: Option[(Seq[String], Int)] = recorded match {
      case Some(spec) =>
        require(bucketBy.isEmpty || bucketBy.contains(spec),
          s"versioned table '$table' is bucketed by ${spec._1.mkString(",")} " +
            s"x ${spec._2}; cannot load with bucketBy=$bucketBy")
        Some(spec)
      case None => bucketBy
    }
    bucket.foreach { case (keys, n) =>
      require(n >= 1, s"bucket count must be >= 1: $n")
      require(keys.forall(incoming.columns.contains),
        s"bucketBy key(s) absent from incoming: " +
          keys.filterNot(incoming.columns.contains).mkString(", "))
    }
    val existing = headMan.map(m => readVersion(tgt, table, m.version))
    val order = if (idOrder.nonEmpty) idOrder else incoming.columns.toSeq
    val maxId: Long = existing match {
      case Some(ex) if ex.columns.contains(Loader.IdCol) =>
        // manifest-recorded id floor first (O(1) metadata); the id-column
        // scan only for pre-max_id manifests
        headMan.flatMap(_.maxId).getOrElse {
          val r = ex.agg(max(col(Loader.IdCol))).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
      case _ => 0L
    }

    // MERGE-ON-READ upsert: matched rows' old versions become deletion
    // vectors and the statement appends only the merged + fresh rows —
    // no table or bucket rewrite (schema evolution, flat→bucketed
    // migration, partial-field incoming, and new bloom declarations fall
    // back to the copy-on-write paths below)
    if (upsertFields.nonEmpty && existing.isDefined &&
        headMan.exists(_.props.get(WriteModeProp).contains(MergeOnRead)) &&
        Loader.sameColumnSet(existing.get, incoming) &&
        !(bucket.isDefined && recorded.isEmpty) && bloomBy.isEmpty)
      return morUpsertAttempt(tgt, table, a, incoming,
        upsertFields, order, maxId, extraProps, dropProps)

    // bucket-scoped upsert: recorded bucket layout + keys covered by the
    // upsert key (a matched row can never change buckets) + unchanged
    // column set (a partial rewrite must not evolve the table out from
    // under the untouched buckets' files)
    val scopedSpec: Option[(Seq[String], Int)] = (existing, recorded) match {
      case (Some(ex), Some((keys, n)))
        if upsertFields.nonEmpty && keys.forall(upsertFields.contains) &&
          Loader.sameColumnSet(ex, incoming) => Some((keys, n))
      case _ => None
    }

    val (out, carryRel): (DataFrame, Seq[String]) = (existing, scopedSpec) match {
      case (None, _) =>
        (Loader.withSurrogateIds(incoming, maxId, order), Nil)

      case (Some(ex), Some((keys, n))) =>
        // touched buckets: one small distinct over the batch, ≤ n values
        val touched = incoming
          .select(Loader.bucketIdExpr(keys, n).as("__b"))
          .distinct().collect().map(_.getInt(0)).toSet
        val headRel = headMan.get.files
        // a file with no bucket segment (pre-migration) has unknown keys —
        // conservatively rewrite it
        val (touchedRel, keepRel) = headRel.partition(r =>
          bucketOfRel(r).map(touched.contains).getOrElse(true))
        val slice =
          if (touchedRel.nonEmpty)
            // explicit schema: a metadata-widened table's pre-widening
            // files null-fill instead of narrowing the merge input;
            // DV-aware: a rewrite must not resurrect deleted positions
            readRelsWithDv(tgt, table, headMan.get, touchedRel, Some(ex.schema))
          else tgt.spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), ex.schema)
        (Loader.upsertMerged(slice, incoming, upsertFields, maxId, order,
          ensure, safe), keepRel)

      case (Some(ex), None) if upsertFields.nonEmpty =>
        (Loader.upsertMerged(ex, incoming, upsertFields, maxId, order,
          ensure, safe), Nil)

      case (Some(ex), None) =>
        val withIds = Loader.withSurrogateIds(incoming, maxId, order)
        val sameSchema =
          Loader.sameShape(Loader.finalSchema(ex, withIds, ensure, safe), ex.schema) &&
            Loader.sameShape(withIds.schema, ex.schema)
        // a flat→bucketed migration must rewrite everything (old files
        // carry no bucket paths); a like-for-like append carries the
        // parent's files forward untouched
        val migrating = bucket.isDefined && recorded.isEmpty
        if (sameSchema && !migrating) (withIds, headMan.get.files)
        else
          // schema evolution: rewrite so every file carries the new schema
          (Loader.unionAligned(Seq(ex, withIds),
            Loader.finalSchema(ex, withIds, ensure, safe)), Nil)
    }

    // the commit's column mapping: the parent's, extended with fresh
    // physical names for any new column colliding with a retired one
    val physOf = extendMapping(headMan, out.schema)
    val (batch, newParts) = writeBatch(tgt, table, out, bucket,
      (headMan.toSeq.flatMap(bloomColsOf) ++ bloomBy).distinct, physOf,
      partSpecOf(headMan.fold(Map.empty[String, String])(_.props) ++ extraProps),
      zorderLayout(headMan.fold(Map.empty[String, String])(_.props) ++ extraProps))
    // CHECK constraint gates the STAGED files — the bytes that would
    // commit — not the incoming plan: a non-deterministic source
    // (rand(), current_timestamp()) re-executes between a plan-side
    // probe and the write, so only the staged batch is atomic with the
    // manifest. Also NULL-satisfies narrow appends for free (the staged
    // schema is the final one, absent columns already null-filled).
    // On violation the staged batch is removed and nothing committed.
    checkSql.filter(_ => newParts.nonEmpty).foreach { c =>
      try enforceCheckStaged(tgt, newParts.map(p =>
        new Path(dataDir(tgt, table), p._1).toString), physOf, c, table)
      catch { case e: Throwable =>
        fs(tgt, dataDir(tgt, table)).delete(batch, true)
        throw e
      }
    }
    val newRel = newParts.map(_._1)
    val newAbs = newRel.map(r => new Path(dataDir(tgt, table), r).toString)
    val fm = manifestMeta(tgt, table, headMan, carryRel, newParts, out.schema)
    // the committed version's max id, from the new files' footer stats
    // (metadata-only), combined with the prior floor whenever prior files
    // carry forward (their ids are ≤ the floor by construction).
    // MONOTONE floor: always at least the parent's — a rewrite that drops
    // the max-id row must not lower the floor (its id may be referenced
    // by retained older versions; reissuing it would corrupt audit joins)
    val committedMax = newFilesMaxId(tgt, table, fm, newRel)
      .map(m => math.max(m, maxId))
    a.commit(
      { // a keyed load RECORDS its keys ([[UpsertKeysProp]]); appends
        // carry the recorded keys forward untouched, a keyed load with
        // different keys overwrites (latest declaration wins)
        val props0 = headMan.fold(Map.empty[String, String])(_.props)
        val props1 = if (upsertFields.nonEmpty)
          props0 + (UpsertKeysProp -> upsertFields.mkString(","))
        else props0
        // [[EqLiveUniqueProp]] base case / conservative clear: a KEYED
        // FIRST load verifies the staged batch is key-distinct (one
        // column-pruned O(batch) job, once per table — the whole table
        // IS the batch here) and records the invariant; every other load
        // shape (appends, CoW merges, bucket-scoped rewrites) may land
        // duplicate keys, so the flag drops and the truncation pad
        // stands down until an eq-upsert chain re-establishes it
        val liveUniqueAdj: Map[String, String] =
          if (upsertFields.nonEmpty && existing.isEmpty &&
              newRel.nonEmpty && {
                val staged = newRel.flatMap(fm.rows.get)
                staged.size == newRel.size &&
                  staged.sum == readFileList(tgt, newAbs, Some(out.schema),
                    physOf).select(upsertFields.map(col): _*)
                    .distinct().count()
              })
            Map(EqLiveUniqueProp -> eqUniqueKeyCsv(upsertFields))
          else Map.empty
        val props2 = (props1 - EqLiveUniqueProp) ++ liveUniqueAdj
        val props = withMappingProps(
          (((if (bloomBy.nonEmpty)
            props2 + (BloomColsProp -> bloomBy.mkString(","))
          else props2) ++ extraProps) -- dropProps) +
            // the committed batch's schema is the version's schema — the
            // read-path source of truth (see SchemaProp)
            (SchemaProp -> schemaJson(carryFieldMetadata(headMan, out.schema))),
          physOf, headMan.fold(Set.empty[String])(retiredOf))
        // tombstone hygiene: a CoW rewrite (full or bucket-scoped)
        // replaces stamped files — stamps survive only for carried
        // files, and a tombstone no surviving file is stamped below is
        // fully materialized by the rewrite (the read applied it) and
        // must NOT ride forward as live-looking props (it would keep
        // CDC/clone/rename refusing forever over nothing)
        Manifest(a.next, committedMax, bucket, carryRel ++ newRel,
          fm.stats, fm.sizes, fm.nulls, fm.rows,
          pruneEqProps(props, carryRel ++ newRel),
          dvCarry(headMan, carryRel)) }).orElse {
      // lost the race: the staged batch references a superseded head —
      // remove it (a crash before this delete leaves unreachable files for
      // vacuum, same as any crashed commit)
      fs(tgt, dataDir(tgt, table)).delete(batch, true)
      None
    }
  }

  /** METADATA-ONLY SCHEMA WIDENING — the commit under SQL `ALTER TABLE
    * ADD COLUMN(S)`: the new version carries the parent's files VERBATIM
    * and records the widened schema in [[SchemaProp]]; no file is read,
    * written, or rewritten, so widening a 100 TB table costs one small
    * JSON commit. Every pre-widening file reads the added columns as
    * null (the parquet reader null-fills requested-but-absent columns);
    * later writes carry them physically. Added columns must be nullable
    * (pre-widening rows ARE null in them) and fresh (case-insensitive).
    * Same optimistic CAS as [[load]]. Returns the new version. */
  def widenSchema(tgt: Catalog, table: String,
                  newFields: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(newFields.nonEmpty, "widenSchema needs at least one new column")
    require(newFields.map(_.name.toLowerCase).distinct.size == newFields.size,
      "widenSchema: duplicate names among the added columns")
    commitWithRetry(tgt, table, "widenSchema") { a =>
      val man = a.man
      val current = readVersion(tgt, table, a.cur).schema
      val names = current.fieldNames.map(_.toLowerCase).toSet
      newFields.foreach { f =>
        require(!f.name.equalsIgnoreCase(Loader.IdCol),
          s"column name '${f.name}' is reserved for the surrogate id")
        require(!names.contains(f.name.toLowerCase),
          s"column '${f.name}' already exists on '$table'")
        require(f.nullable,
          s"added column '${f.name}' must be nullable — every pre-widening " +
            "row reads it as null, which a NOT NULL column would contradict")
      }
      val widened = org.apache.spark.sql.types.StructType(
        current.fields ++ newFields)
      // a new column whose name collides with a RETIRED physical (or a
      // mapped physical) gets a fresh in-file name — the metadata-only
      // widen must not alias old bytes back to life
      val physOf = extendMapping(Some(man), widened)
      a.commit(man.copy(props = withMappingProps(
        man.props + (SchemaProp -> schemaJson(widened)),
        physOf, retiredOf(man))))
    }
  }

  /** Columns a RENAME/DROP must refuse: the surrogate id, recorded
    * upsert/CDC keys, the bucket layout's keys, bloom-declared columns,
    * and any column the table's CHECK constraint references — each is
    * load-bearing table METADATA keyed by logical name; silently
    * re-labeling underneath would corrupt upserts, pruning, or
    * enforcement. (Delta similarly refuses renames of partition and
    * constraint columns.) */
  private def mappingRefusals(tgt: Catalog, man: Manifest,
                              name: String, verb: String): Unit = {
    require(!name.equalsIgnoreCase(Loader.IdCol),
      s"cannot $verb the surrogate id column '$name'")
    val keys = man.props.get(UpsertKeysProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    require(!keys.exists(_.equalsIgnoreCase(name)),
      s"cannot $verb '$name': it is a recorded upsert/CDC key " +
        s"(${keys.mkString(",")})")
    man.bucket.foreach { case (bKeys, _) =>
      require(!bKeys.exists(_.equalsIgnoreCase(name)),
        s"cannot $verb '$name': it is a bucket-layout key " +
          s"(${bKeys.mkString(",")})")
    }
    val bloom = man.props.get(BloomColsProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    require(!bloom.exists(_.equalsIgnoreCase(name)),
      s"cannot $verb '$name': bloom filters are declared on it " +
        s"(${bloom.mkString(",")})")
    val pSpec = partSpecOf(man.props)
    pSpec.find(_.col.equalsIgnoreCase(name)).foreach(t =>
      throw new IllegalArgumentException(
        s"cannot $verb '$name': the table is partitioned by " +
          s"${t.fn}(${t.col})"))
    effectiveCheck(man.props).foreach { c =>
      val refs = scala.util.Try(
        tgt.spark.sessionState.sqlParser.parseExpression(c)
          .references.map(_.name).toSet).getOrElse(Set.empty[String])
      require(!refs.exists(_.equalsIgnoreCase(name)),
        s"cannot $verb '$name': the table's CHECK constraint references " +
          s"it ($c)")
    }
    // a base column a GENERATED column is computed from: renaming or
    // dropping it would dangle the recorded expression text
    recordedSchema(man).foreach { s =>
      GeneratedCols.generationExprs(s).foreach { case (f, sql) =>
        if (!f.name.equalsIgnoreCase(name))
          require(!GeneratedCols.referencedCols(tgt.spark, sql)
            .exists(_.equalsIgnoreCase(name)),
            s"cannot $verb '$name': generated column '${f.name}' is " +
              s"computed from it ($sql)")
      }
    }
  }

  /** METADATA-ONLY COLUMN RENAME — the commit under SQL `ALTER TABLE
    * RENAME COLUMN`: the new version carries the parent's files VERBATIM
    * and re-labels only the manifest — the column keeps its PHYSICAL
    * in-file name ([[ColMapProp]]), so no file is read or rewritten and
    * old and new files stay interchangeable. Zone maps / null counts
    * re-key to the new logical name (same bytes, same bounds — the
    * stats stay valid and pruning on the renamed column keeps working).
    * Refused for id/key/bucket/bloom/CHECK columns
    * ([[mappingRefusals]]). Time travel is era-consistent: older
    * versions keep reading under their own recorded names. */
  def renameColumn(tgt: Catalog, table: String, from: String,
                   to: String): Long = {
    require(from != to, s"rename to the same name: '$from'")
    commitWithRetry(tgt, table, "renameColumn") { a =>
      val man = a.man
      val current = readVersion(tgt, table, a.cur).schema
      require(current.fieldNames.exists(_.equalsIgnoreCase(from)),
        s"no column '$from' on '$table'")
      require(!current.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column '$to' already exists on '$table'")
      require(!to.equalsIgnoreCase(Loader.IdCol),
        s"'$to' is reserved for the surrogate id")
      // live equality tombstones anti-join on their KEY columns only —
      // renaming a VALUE column never touches a key file, so it stays a
      // metadata-only commit; a key column would silently detach every
      // live tombstone from the rows it must kill, so it refuses
      val eqKeys = eqTombstonesOf(man.props).flatMap(_.keys).distinct
      require(!eqKeys.exists(_.equalsIgnoreCase(from)),
        s"cannot rename '$from': live equality tombstones on '$table' " +
          s"are keyed by it (${eqKeys.mkString(",")}) — compact to " +
          "materialize them first")
      mappingRefusals(tgt, man, from, "rename")
      val exact = current.fieldNames.find(_.equalsIgnoreCase(from)).get
      val physOf0 = physOfMan(man)
      val physical = physOf0.getOrElse(exact, exact)
      val physOf = (physOf0 - exact) + (to -> physical)
      val renamed = org.apache.spark.sql.types.StructType(current.fields.map(
        f => if (f.name == exact) f.copy(name = to) else f))
      // stats/null counts re-key: same bytes, same bounds
      def rekey[A](m: Map[String, Map[String, A]]) = m.map { case (rel, cols) =>
        rel -> cols.map { case (c, v) => (if (c == exact) to else c) -> v }
      }
      a.commit(man.copy(
        stats = rekey(man.stats), nulls = rekey(man.nulls),
        props = withMappingProps(
          man.props + (SchemaProp -> schemaJson(renamed)),
          physOf, retiredOf(man))))
    }
  }

  /** The prop keys `ALTER TABLE SET/UNSET TBLPROPERTIES` must not touch:
    * engine-owned metadata whose corruption breaks reads (the recorded
    * schema, the column mapping), audit (commit times), write semantics
    * that only a data commit may change (upsert keys — recorded by keyed
    * loads, consumed by CDC), and the streaming sinks' exactly-once
    * epoch stamps. */
  private[graft] def isReservedProp(k: String): Boolean =
    Set(SchemaProp, ColMapProp, ColMapRetiredProp, CommitTsProp,
      UpsertKeysProp, CheckConstraintsProp, PartitionSpecProp,
      ClusterByProp, OperationProp, EqLiveUniqueProp).contains(k) ||
      k.startsWith(org.apache.spark.sql.graft.GraftStreamWrite.EpochPropPrefix)

  /** METADATA-ONLY `ALTER TABLE SET/UNSET TBLPROPERTIES` — ONE manifest
    * commit updating the table's recorded props, with the engine-known
    * keys VALIDATED rather than stored blind:
    *
    *   - `check_constraint` / `check`: the commit-time row gate. A new
    *     or changed constraint on a non-empty table VALIDATES THE
    *     EXISTING ROWS first (one scan — Delta's ADD CONSTRAINT
    *     discipline: the manifest must never advertise a CHECK its
    *     committed data violates);
    *   - `write_mode` / `write.mode`: `copy-on-write` ↔ `merge-on-read`,
    *     flippable at any time (existing deletion vectors keep applying
    *     either way — the mode only routes FUTURE row-level ops);
    *   - `dv_max_fraction`: a double in (0, 1];
    *   - `bloom_cols`: must name existing columns (future writes stamp
    *     the filters);
    *   - [[reservedProp]] keys refuse loudly; anything else stores
    *     verbatim (the user's namespace).
    *
    * Free-form props surface through `SHOW TBLPROPERTIES` (the table's
    * `properties()` reads the head manifest). */
  def setTableProps(tgt: Catalog, table: String, set: Map[String, String],
                    unset: Seq[String]): Long = {
    (set.keys ++ unset).foreach(k => require(!isReservedProp(k),
      s"table property '$k' is engine-owned and cannot be set/unset " +
        "directly — it is maintained by data commits"))
    // SQL-surface aliases normalize onto the manifest's internal keys
    def norm(k: String): String = k match {
      case "check" => CheckConstraintProp
      case "write.mode" => WriteModeProp
      case other => other
    }
    val sets = set.map { case (k, v) => norm(k) -> v }
    val unsets = unset.map(norm)
    sets.get(WriteModeProp).foreach(m => require(
      m == "copy-on-write" || m == MergeOnRead,
      s"unknown write mode '$m' — use 'copy-on-write' or 'merge-on-read'"))
    sets.get(DvMaxFractionProp).foreach(s => require(
      scala.util.Try(s.toDouble).toOption.exists(d => d > 0 && d <= 1),
      s"$DvMaxFractionProp must be a double in (0, 1], got '$s'"))
    Seq(CompactDvBytesProp, CompactSmallFilesProp, CompactTargetBytesProp,
      CompactEqTombstonesProp)
      .foreach(k => sets.get(k).foreach(s => require(
        scala.util.Try(s.toLong).toOption.exists(_ > 0),
        s"$k must be a positive long, got '$s'")))
    commitWithRetry(tgt, table, "setTableProps") { a =>
      val man = a.man
      sets.get(BloomColsProp).foreach { cs =>
        val have = readVersion(tgt, table, a.cur).columns.toSet
        val missing = cs.split(",").map(_.trim).filter(_.nonEmpty)
          .filterNot(have.contains)
        require(missing.isEmpty,
          s"bloom_cols names missing columns: ${missing.mkString(",")}")
      }
      // layout re-point validates against the CURRENT declaration —
      // zorder without a >= 2-column CLUSTER BY (or on unsupported
      // types) refuses here, not silently at the next write
      sets.get(ClusterLayoutProp).foreach { _ =>
        validateClusterLayout(sets, clusterByOf(man.props),
          org.apache.spark.sql.types.StructType(
            readVersion(tgt, table, a.cur).schema.fields
              .filterNot(_.name.equalsIgnoreCase(Loader.IdCol))))
      }
      // a NEW or CHANGED check gets the full eager discipline
      // (resolution/determinism/subquery-free) and then validates the
      // existing rows before the manifest may advertise it (same
      // induction base as loadAttempt)
      sets.get(CheckConstraintProp)
        .filterNot(c => man.props.get(CheckConstraintProp).contains(c))
        .foreach { c =>
          // validate WITHOUT the surrogate id column — CREATE-time
          // validation runs against the declared schema (no id), so a
          // check referencing the engine column must refuse identically
          // from every entry point
          val frame = readVersion(tgt, table, a.cur).drop(Loader.IdCol)
          validateCheckSql(tgt.spark, frame.schema, c)
          enforceCheck(frame, c, table)
        }
      a.commit(man.copy(props = (man.props ++ sets) -- unsets))
    }
  }

  /** `ALTER TABLE ADD CONSTRAINT name CHECK (sql)` — the named twin of
    * the TBLPROPERTIES check: validated against the EXISTING rows first
    * (one scan — the manifest must never advertise a CHECK its committed
    * data violates), then ONE metadata commit records it; every later
    * write gate enforces the conjunction of all recorded constraints
    * ([[effectiveCheck]]). */
  def addCheckConstraint(tgt: Catalog, table: String, name: String,
                         sql: String): Long = {
    require(name.trim.nonEmpty && sql.trim.nonEmpty,
      "constraint name and CHECK expression must be non-empty")
    // 'check' is the name constraints() already reports the legacy
    // TBLPROPERTIES check under — accepting it would surface two
    // distinct constraints to Spark under one name
    require(!name.equalsIgnoreCase("check"),
      "constraint name 'check' is reserved for the legacy TBLPROPERTIES " +
        "check — pick another name (or use SET TBLPROPERTIES('check'=...))")
    commitWithRetry(tgt, table, "addCheckConstraint") { a =>
      val man = a.man
      val existing = namedChecks(man.props)
      require(!existing.contains(name),
        s"constraint '$name' already exists on '$table' " +
          s"(${existing(name)}) — DROP it first")
      // same no-surrogate-id discipline as CREATE and SET TBLPROPERTIES
      val frame = readVersion(tgt, table, a.cur).drop(Loader.IdCol)
      validateCheckSql(tgt.spark, frame.schema, sql)
      enforceCheck(frame, sql, table)
      a.commit(man.copy(props = man.props +
        (CheckConstraintsProp -> namedChecksJson(existing + (name -> sql)))))
    }
  }

  /** `ALTER TABLE DROP CONSTRAINT name` — one metadata commit removing
    * the named CHECK; unknown names refuse unless `ifExists`. */
  def dropCheckConstraint(tgt: Catalog, table: String, name: String,
                          ifExists: Boolean = false): Long = {
    commitWithRetry(tgt, table, "dropCheckConstraint") { a =>
      val man = a.man
      val existing = namedChecks(man.props)
      if (!existing.contains(name)) {
        if (!ifExists) throw new IllegalArgumentException(
          s"no constraint '$name' on '$table' " +
            s"(have: ${existing.keys.toSeq.sorted.mkString(", ")})")
        Some(a.cur) // IF EXISTS no-op: nothing to commit
      } else {
        val remaining = existing - name
        a.commit(man.copy(props =
          if (remaining.isEmpty) man.props - CheckConstraintsProp
          else man.props +
            (CheckConstraintsProp -> namedChecksJson(remaining))))
      }
    }
  }

  /** METADATA-ONLY `ALTER COLUMN ... SET/DROP DEFAULT`: re-points the
    * column's CURRENT_DEFAULT (what future INSERTs omit to) in the
    * recorded schema. The frozen EXISTS_DEFAULT — what pre-ADD rows read
    * — never changes here: those rows' values are committed history.
    * `sqlOrNull = null` (or empty) drops the default. */
  def setColumnDefault(tgt: Catalog, table: String, name: String,
                       sqlOrNull: String): Long = {
    val normalized = Option(sqlOrNull).map(_.trim).filter(_.nonEmpty).orNull
    commitWithRetry(tgt, table, "setColumnDefault") { a =>
      val man = a.man
      val current = readVersion(tgt, table, a.cur).schema
      require(current.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"no column '$name' on '$table'")
      require(!name.equalsIgnoreCase(Loader.IdCol),
        s"cannot default the surrogate id column '$name'")
      val exact = current.fieldNames.find(_.equalsIgnoreCase(name)).get
      if (normalized != null)
        validateDefaultSql(tgt.spark, current(exact), normalized)
      val updated = org.apache.spark.sql.types.StructType(current.fields.map(f =>
        if (f.name == exact)
          org.apache.spark.sql.graft.DefaultColumns
            .fieldWithCurrentDefault(f, normalized)
        else f))
      a.commit(man.copy(props = man.props + (SchemaProp -> schemaJson(updated))))
    }
  }

  /** METADATA-ONLY `ALTER COLUMN ... COMMENT '...'`: records the comment
    * in the recorded schema's field metadata (one manifest commit);
    * surfaces through DESCRIBE. */
  def setColumnComment(tgt: Catalog, table: String, name: String,
                       comment: String): Long = {
    commitWithRetry(tgt, table, "setColumnComment") { a =>
      val man = a.man
      val current = readVersion(tgt, table, a.cur).schema
      require(current.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"no column '$name' on '$table'")
      val exact = current.fieldNames.find(_.equalsIgnoreCase(name)).get
      val updated = org.apache.spark.sql.types.StructType(current.fields.map(f =>
        if (f.name == exact) f.withComment(comment) else f))
      a.commit(man.copy(props = man.props + (SchemaProp -> schemaJson(updated))))
    }
  }

  /** The LOSSLESS type-widening matrix (`ALTER COLUMN ... TYPE`):
    * parquet's readers upcast these natively (Spark 4 type widening), so
    * the change is METADATA-ONLY — old files keep their narrow physical
    * type and read back wide. Integral→double stops at int (a long
    * doesn't fit a double losslessly). */
  private val widenable: Set[(org.apache.spark.sql.types.DataType,
    org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    val chain = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    val ints = for {
      (a, i) <- chain.zipWithIndex; b <- chain.drop(i + 1)
    } yield (a, b)
    val toDouble = Seq[DataType](ByteType, ShortType, IntegerType, FloatType)
      .map(t => (t, DoubleType: DataType))
    (ints ++ toDouble).toSet
  }

  /** The full lossless matrix: the fixed pairs above plus the DECIMAL
    * widenings Spark's parquet readers upcast natively (probed:
    * decimal(p,s)→decimal(p+k,s+j) with k ≥ j, and the int family into
    * any decimal with enough integral digits — the readers' own rule is
    * "scale may grow, precision-minus-scale may not shrink"). */
  private[graft] def isWidenable(from: org.apache.spark.sql.types.DataType,
                                 to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigits(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(3)
      case ShortType => Some(5)
      case IntegerType => Some(10)
      case LongType => Some(20)
      case _ => None
    }
    widenable.contains((from, to)) || ((from, to) match {
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case (f, t: DecimalType) =>
        intDigits(f).exists(d => t.precision - t.scale >= d && t.scale >= 0)
      case _ => false
    })
  }

  /** The zone-map comparison domain a type's footer stats live in —
    * widenings INSIDE one domain (int→long, float→double) keep every
    * recorded range valid; a domain CROSSING (int→double) strips the
    * column's carried stats instead (long-tagged bounds must never be
    * compared against double-typed predicates). */
  private def statDomain(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => "long"
      case FloatType | DoubleType => "double"
      // decimals compare in the UNSCALED domain of their scale: a
      // precision-only widening (10,2)→(16,2) keeps every recorded
      // range valid (same scale, same unscaled values); a scale change
      // crosses domains and strips (conservative — the per-file scale
      // tags would stay individually sound, but new-era predicates stop
      // consulting old-era bounds)
      case d: DecimalType => s"dec:${d.scale}"
      case other => other.typeName
    }
  }

  /** METADATA-ONLY TYPE WIDENING — the commit under SQL `ALTER TABLE
    * ALTER COLUMN c TYPE t`: for the LOSSLESS pairs in [[widenable]],
    * the new version carries every file VERBATIM and records only the
    * widened schema; parquet's readers upcast the narrow physical values
    * natively (probed: int→long, short→int, float→double, int→double),
    * and future writes land the wide type. Keys/bucket keys refuse —
    * bucket placement hashes the STRINGIFIED value, and a float-era
    * "0.1" and its double upcast stringify differently, so a widened key
    * would silently re-home rows. Narrowings and lossy changes refuse
    * (they would re-interpret committed bytes). */
  def widenColumnType(tgt: Catalog, table: String, name: String,
                      newType: org.apache.spark.sql.types.DataType): Long = {
    commitWithRetry(tgt, table, "widenColumnType") { a =>
      val man = a.man
      val current = readVersion(tgt, table, a.cur).schema
      require(current.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"no column '$name' on '$table'")
      val exact = current.fieldNames.find(_.equalsIgnoreCase(name)).get
      val from = current(exact).dataType
      if (from == newType) Some(a.cur) // no-op
      else {
        require(isWidenable(from, newType),
          s"cannot change '$name' from ${from.simpleString} to " +
            s"${newType.simpleString} — only lossless widenings " +
            "(byte/short/int→long, byte/short/int/float→double, " +
            "decimal(p,s)→decimal(p+k,s+j) with k ≥ j, int family→" +
            "decimal with enough integral digits) are metadata-safe; " +
            "anything else would re-interpret committed files")
        mappingRefusals(tgt, man, exact, "widen the type of")
        val updated = org.apache.spark.sql.types.StructType(current.fields.map(
          f => if (f.name == exact) f.copy(dataType = newType) else f))
        // domain-crossing widenings strip the column's carried RANGES
        // (long-tagged bounds must never compare against double-typed
        // predicates); null counts are type-independent and stay
        val crossed = statDomain(from) != statDomain(newType)
        val stats =
          if (!crossed) man.stats
          else man.stats.map { case (rel, cols) => rel -> (cols - exact) }
        a.commit(man.copy(stats = stats,
          props = man.props + (SchemaProp -> schemaJson(updated))))
      }
    }
  }

  /** METADATA-ONLY COLUMN DROP — the commit under SQL `ALTER TABLE DROP
    * COLUMN`: the new version carries the parent's files VERBATIM and
    * removes the column from the recorded schema; the bytes stay in old
    * files but no reader ever requests them again. The column's PHYSICAL
    * name RETIRES ([[ColMapRetiredProp]]) so a later ADD COLUMN of the
    * same name maps to a fresh in-file name instead of resurrecting the
    * old data; the column's zone maps / null counts strip from every
    * carried file (a re-added namesake must never prune on the dead
    * column's bounds). Same refusal matrix as [[renameColumn]]. */
  def dropColumn(tgt: Catalog, table: String, name: String): Long =
    dropColumns(tgt, table, Seq(name))

  /** Multi-column drop as ONE metadata commit — `ALTER TABLE DROP
    * COLUMNS (a, b)` must be atomic: every name validates (existence +
    * the refusal matrix) BEFORE anything commits, so a refused name
    * leaves the table untouched instead of half-altered. */
  def dropColumns(tgt: Catalog, table: String, names: Seq[String]): Long = {
    require(names.nonEmpty, "dropColumns needs at least one column")
    commitWithRetry(tgt, table, "dropColumn") { a =>
      val man = a.man
      // same matrix as the rename: tombstone KEY columns refuse (the
      // anti-join would dangle), VALUE columns drop metadata-only
      val eqKeys = eqTombstonesOf(man.props).flatMap(_.keys).distinct
      val current = readVersion(tgt, table, a.cur).schema
      val exacts = names.map { name =>
        require(current.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"no column '$name' on '$table'")
        require(!eqKeys.exists(_.equalsIgnoreCase(name)),
          s"cannot drop '$name': live equality tombstones on '$table' " +
            s"are keyed by it (${eqKeys.mkString(",")}) — compact to " +
            "materialize them first")
        mappingRefusals(tgt, man, name, "drop")
        current.fieldNames.find(_.equalsIgnoreCase(name)).get
      }
      require(exacts.distinct.size == exacts.size,
        s"duplicate columns in DROP: ${names.mkString(", ")}")
      val gone = exacts.toSet
      require(current.fields.count(f =>
        !f.name.equalsIgnoreCase(Loader.IdCol) && !gone(f.name)) >= 1,
        s"cannot drop the last column(s) of '$table'")
      val physOf0 = physOfMan(man)
      val physOf = physOf0 -- gone
      val retired = retiredOf(man) ++
        exacts.map(e => physOf0.getOrElse(e, e))
      val narrowed = org.apache.spark.sql.types.StructType(
        current.fields.filterNot(f => gone(f.name)))
      def strip[A](m: Map[String, Map[String, A]]) = m.map { case (rel, cols) =>
        rel -> (cols -- gone)
      }
      a.commit(man.copy(
        stats = strip(man.stats), nulls = strip(man.nulls),
        props = withMappingProps(
          man.props + (SchemaProp -> schemaJson(narrowed)),
          physOf, retired)))
    }
  }

  /** ATOMIC WHOLE-TABLE REPLACE — the commit under `[CREATE OR] REPLACE
    * TABLE ... [AS SELECT]` through the staging catalog
    * ([[graft.sources.GraftCatalog.stageCreateOrReplace]]): ONE manifest
    * commit swaps the entire file set (and possibly the whole schema)
    * while HISTORY SURVIVES — older versions keep reading their own
    * manifests, time travel crosses the replace boundary, clones stay
    * valid (no data file is deleted; vacuum reclaims on its own
    * schedule). The drop+create fallback Spark runs against non-staging
    * catalogs is the opposite on every axis: non-atomic AND
    * history-destroying. The id floor stays MONOTONE across the replace
    * (retained older versions reference the old ids; reissuing one would
    * corrupt audit joins). Column mapping and retired physicals RESET —
    * the new file set is a fresh era; old eras' manifests keep their own
    * mapping. */
  private[graft] def replaceAll(tgt: Catalog, table: String,
                                incoming0: DataFrame,
                                extraProps: Map[String, String]): Long = {
    Loader.ensureParquetWriteConf(tgt.spark)
    commitWithRetry(tgt, table, "replaceAll") { a =>
      val headMan = a.head
      val floor = headMan.flatMap(_.maxId).getOrElse(0L)
      val incoming = if (incoming0.columns.contains(Loader.IdCol))
        incoming0.drop(Loader.IdCol) else incoming0
      val out = Loader.withSurrogateIds(incoming, floor,
        incoming.columns.toSeq)
      val (batch, newParts) = writeBatch(tgt, table, out, None,
        partSpec = partSpecOf(extraProps), zorder = zorderLayout(extraProps))
      effectiveCheck(extraProps)
        .filter(_ => newParts.nonEmpty).foreach { c =>
          try enforceCheckStaged(tgt, newParts.map(p =>
            new Path(dataDir(tgt, table), p._1).toString), Map.empty, c, table)
          catch { case e: Throwable =>
            fs(tgt, dataDir(tgt, table)).delete(batch, true)
            throw e
          }
        }
      val newRel = newParts.map(_._1)
      val fm = manifestMeta(tgt, table, None, Nil, newParts, out.schema)
      val committedMax = newFilesMaxId(tgt, table, fm, newRel)
        .map(math.max(_, floor)).orElse(headMan.flatMap(_.maxId))
      a.commit(Manifest(a.next, committedMax, None, newRel,
        fm.stats, fm.sizes, fm.nulls, fm.rows,
        extraProps + (SchemaProp -> schemaJson(out.schema)))).orElse {
        fs(tgt, dataDir(tgt, table)).delete(batch, true)
        None
      }
    }
  }

  /** SAME-SCHEMA CONTENT REPLACE — the commit under SQL `INSERT
    * OVERWRITE`: one versioned commit swaps the table's rows for
    * `incoming` while EVERYTHING DECLARED carries — props (CHECK
    * constraints gate the staged bytes, write.mode, user TBLPROPERTIES),
    * the bucket layout (overwrite rows re-bucket through the same
    * writer), bloom declarations, and the column mapping (files keep
    * writing stable physical names). History survives like every commit:
    * time travel reads the pre-overwrite versions, rollback undoes it.
    * The id floor stays monotone. Contrast [[replaceAll]] (RTAS), which
    * REPLACES the declaration too. */
  private[graft] def replaceContents(tgt: Catalog, table: String,
                                     incoming0: DataFrame): Long = {
    Loader.ensureParquetWriteConf(tgt.spark)
    commitWithRetry(tgt, table, "replaceContents") { a =>
      val headMan = a.man
      val floor = headMan.maxId.getOrElse(0L)
      val incoming = prepareDeclaredColumns(tgt, table, Some(headMan),
        if (incoming0.columns.contains(Loader.IdCol))
          incoming0.drop(Loader.IdCol) else incoming0)
      val out = Loader.withSurrogateIds(incoming, floor,
        incoming.columns.toSeq)
      val physOf = extendMapping(Some(headMan), out.schema)
      val (batch0, newParts0) = writeBatch(tgt, table, out, headMan.bucket,
        bloomColsOf(headMan), physOf, partSpecOf(headMan.props),
      zorderLayout(headMan.props))
      // an OVERWRITE from an empty query must still leave one
      // schema-bearing file (the invariant every read relies on); an
      // empty plan can stage zero part files
      val (batch, newParts) =
        if (newParts0.nonEmpty) (batch0, newParts0)
        else {
          fs(tgt, dataDir(tgt, table)).delete(batch0, true)
          writeBatch(tgt, table, tgt.spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), out.schema),
            headMan.bucket, bloomColsOf(headMan), physOf,
            partSpecOf(headMan.props), zorderLayout(headMan.props))
        }
      effectiveCheck(headMan.props)
        .filter(_ => newParts.nonEmpty).foreach { c =>
          try enforceCheckStaged(tgt, newParts.map(p =>
            new Path(dataDir(tgt, table), p._1).toString), physOf, c, table)
          catch { case e: Throwable =>
            fs(tgt, dataDir(tgt, table)).delete(batch, true)
            throw e
          }
        }
      val newRel = newParts.map(_._1)
      val fm = manifestMeta(tgt, table, Some(headMan), Nil, newParts,
        out.schema)
      val committedMax = newFilesMaxId(tgt, table, fm, newRel)
        .map(math.max(_, floor)).orElse(headMan.maxId)
      // the staged files were written under `physOf` — the commit must
      // record that SAME mapping (extendMapping can assign a FRESH
      // physical when the overwrite frame re-adds a retired name via the
      // path-based acceptAnySchema writer); committing headMan.props
      // verbatim would strand such a column's bytes under a name the
      // manifest never learns
      a.commit(
        Manifest(a.next, committedMax, headMan.bucket, newRel,
          fm.stats, fm.sizes, fm.nulls, fm.rows,
          // an overwrite replaces EVERY file, so any live equality
          // tombstone becomes inert — prune it (its refusal matrix
          // would otherwise keep gating CDC/clone/renames for nothing)
          // replaced contents are arbitrary — live-key uniqueness
          // ([[EqLiveUniqueProp]]) does not survive an overwrite
          withMappingProps(pruneEqProps(headMan.props - EqLiveUniqueProp,
            newRel) +
            (SchemaProp -> schemaJson(carryFieldMetadata(Some(headMan),
              out.schema))), physOf, retiredOf(headMan)))).orElse {
        fs(tgt, dataDir(tgt, table)).delete(batch, true)
        None
      }
    }
  }

  /** COPY-ON-WRITE GROUP REPLACE — the commit primitive under SQL
    * UPDATE/MERGE (Spark's group-based row-level operations): the rows
    * of `removedAbs` (the files the operation's scan planned, whose full
    * updated contents Spark re-derived) are replaced by `replacement` in
    * ONE commit against `expectedVersion`. Surrogate ids RE-STAMP for
    * the rewritten rows (SQL row-ops rewrite whole files; stable ids
    * per business key remain the keyed-upsert path's contract — the SQL
    * surface hides ids anyway), continuing above the committed floor so
    * no id is ever reissued. The recorded bucket layout is preserved
    * (replacement rows re-bucket through the same writer).
    *
    * CONFLICTS are refused, not merged: the replacement was derived from
    * `expectedVersion`'s state, so if another writer committed first the
    * CAS fails, the staged batch is removed and the result is None — the
    * SQL caller refuses with [[rowOpConflict]]. The commit is labelled
    * `op`. */
  private[graft] def replaceScanned(tgt: Catalog, table: String,
                                    expectedVersion: Long, op: String,
                                    removedAbs: Set[String],
                                    replacement0: DataFrame,
                                    idOrder: Seq[String]): Option[Long] = {
    Loader.ensureParquetWriteConf(tgt.spark)
    val headMan = readManifest(tgt, table, expectedVersion).getOrElse(
      throw new IllegalArgumentException(
        s"table '$table' has no version $expectedVersion"))
    val removedNorm = removedAbs.map(p => new Path(p).toUri.getPath)
    val (removeRel, keepRel) = headMan.files.partition(r =>
      removedNorm.contains(new Path(dataDir(tgt, table), r).toUri.getPath))
    require(removeRel.size == removedAbs.size,
      s"row-level replace lost track of scanned files: planned " +
        s"${removedAbs.size}, matched ${removeRel.size} in v$expectedVersion")
    // verifyProvided = false: Spark's group-based row ops re-emit the
    // PRE-update derived values it scanned — recompute them outright so
    // an UPDATE on a base column refreshes its generated columns
    val replacement = prepareDeclaredColumns(tgt, table, Some(headMan),
      if (replacement0.columns.contains(Loader.IdCol))
        replacement0.drop(Loader.IdCol) else replacement0,
      verifyProvided = false)
    val floor = headMan.maxId.getOrElse(
      footerMaxId(tgt, headMan.files.map(r =>
        new Path(dataDir(tgt, table), r).toString)).getOrElse(0L))
    val order = if (idOrder.nonEmpty) idOrder else replacement.columns.toSeq
    val out = Loader.withSurrogateIds(replacement, floor, order)
    val physOf = physOfMan(headMan)
    val (batch, newParts) = writeBatch(tgt, table, out, headMan.bucket,
      bloomColsOf(headMan), physOf, partSpecOf(headMan.props),
      zorderLayout(headMan.props))
    // SQL UPDATE/MERGE must not write rows the table's CHECK refuses —
    // validated on the STAGED files (atomic with what would commit; see
    // loadAttempt), cleaned up on violation
    effectiveCheck(headMan.props)
      .filter(_ => newParts.nonEmpty).foreach { c =>
        try enforceCheckStaged(tgt, newParts.map(p =>
          new Path(dataDir(tgt, table), p._1).toString), physOf, c, table)
        catch { case e: Throwable =>
          fs(tgt, dataDir(tgt, table)).delete(batch, true)
          throw e
        }
      }
    val newRel = newParts.map(_._1)
    val fm = manifestMeta(tgt, table, Some(headMan), keepRel, newParts, out.schema)
    // same strictness as loadAttempt: when the footer probe bails on a
    // populated file, record NO floor (the next load scans) — fabricating
    // `floor` here would reissue the ids just stamped above it
    val committedMax = newFilesMaxId(tgt, table, fm, newRel)
      .map(math.max(_, floor))
    if (tryCommitManifest(tgt, table,
      Manifest(expectedVersion + 1, committedMax, headMan.bucket,
        keepRel ++ newRel, fm.stats, fm.sizes, fm.nulls, fm.rows,
        // the rewrite's eq-filtered output materializes any tombstone
        // whose last stamped file it replaced — prune the inert entries.
        // UPDATE/MERGE may rewrite key values into duplicates — the
        // live-uniqueness invariant drops ([[EqLiveUniqueProp]])
        pruneEqProps(headMan.props - EqLiveUniqueProp, keepRel) +
          (SchemaProp -> schemaJson(carryFieldMetadata(Some(headMan), out.schema))),
        dvCarry(Some(headMan), keepRel)), op)) {
      maybeAutoCompact(tgt, table)
      Some(expectedVersion + 1)
    } else {
      fs(tgt, dataDir(tgt, table)).delete(batch, true)
      None
    }
  }

  /** The SQL row-level operations' refusal of a lost race
    * ([[replaceScanned]] / [[applyRowDeltas]] returned None): their rows
    * were derived from `expectedVersion`'s state, and re-merging rows
    * Spark already materialized would apply a stale condition — the
    * STATEMENT retries (Delta/Iceberg semantics). */
  private[graft] def rowOpConflict(table: String, expectedVersion: Long) =
    new java.util.ConcurrentModificationException(
      s"row-level operation on '$table' was derived from version " +
        s"$expectedVersion but another writer committed first — " +
        "retry the statement against the new head")

  /** MERGE-ON-READ ROW-LEVEL COMMIT — the primitive under SQL
    * UPDATE/MERGE/DELETE on a `merge-on-read` table (Spark's delta-based
    * row-level operations, [[graft.sources.GraftDeltaRowLevelOperation]])
    * and the library-path MOR delete ([[delete]]/[[deleteKeys]]):
    * `deletes` maps scanned data files (absolute paths) to FRAGMENT
    * SIDECARS — position lists the tasks wrote EXECUTOR-SIDE (an UPDATE
    * is delete + reinsert), so neither the commit messages nor this
    * driver ever materialize a statement's full deleted-position set;
    * `stagedFiles` hold the inserted/updated rows; `dropWhole` names
    * files (rel paths) a zone-map proof already showed fully deleted.
    *
    * Per touched file — never statement-wide — the driver merges prior
    * DV ∪ fragments (bounded by ONE file's row count; files merge in
    * parallel) and picks one of three outcomes:
    *   - full coverage → the file drops from the manifest outright;
    *   - deleted fraction ≥ `dv_max_fraction` (default 0.5) → the file
    *     REWRITES copy-on-write (its live rows, ids preserved, read
    *     distributed with the merged sidecar applied executor-side) —
    *     a bulk DELETE can't grow a DV toward the file's own size;
    *   - otherwise → one merged DV sidecar, the file carried verbatim.
    * Untouched files always carry verbatim: a 1-row UPDATE on a 100 TB
    * table commits O(row + DV) bytes. Same conflict rule as
    * [[replaceScanned]]: derived from `expectedVersion`, a lost CAS
    * removes everything staged and returns None. The commit is labelled
    * `op` (the SQL label, or the library caller's own). */
  private[graft] def applyRowDeltas(tgt: Catalog, table: String,
                                    expectedVersion: Long, op: String,
                                    deletes: Map[String, Seq[String]],
                                    stagedFiles: Seq[String],
                                    idOrder: Seq[String],
                                    dropWhole: Set[String] = Set.empty,
                                    // staged parquet whose rows already
                                    // CARRY their surrogate ids (the MOR
                                    // upsert's merged-matched rows) —
                                    // appended verbatim, never re-stamped
                                    stagedWithIds: Seq[String] = Nil,
                                    // committed atomically into the
                                    // manifest's props (upsert-key
                                    // recording etc.)
                                    propsDelta: Map[String, String] = Map.empty,
                                    dropProps: Seq[String] = Nil): Option[Long] = {
    Loader.ensureParquetWriteConf(tgt.spark)
    val headMan = readManifest(tgt, table, expectedVersion).getOrElse(
      throw new IllegalArgumentException(
        s"table '$table' has no version $expectedVersion"))
    val relByPath = headMan.files.map(r =>
      new Path(dataDir(tgt, table), r).toUri.getPath -> r).toMap
    val dels: Map[String, Seq[String]] = deletes.map { case (p, frags) =>
      relByPath.getOrElse(new Path(p).toUri.getPath,
        throw new IllegalStateException(
          s"row-level delete names a file not in v$expectedVersion: $p")) -> frags
    }
    require(dropWhole.subsetOf(headMan.files.toSet),
      s"dropWhole names files not in v$expectedVersion: " +
        (dropWhole -- headMan.files).mkString(","))
    val f = fs(tgt, dataDir(tgt, table))
    val maxFrac = headMan.props.get(DvMaxFractionProp)
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(DefaultDvMaxFraction)
    // per-file outcome of the merge pass
    sealed trait Outcome
    case object Gone extends Outcome                      // fully covered
    case class Rewrite(sidecar: String, n: Long) extends Outcome
    case class Dv(sidecar: String, n: Long) extends Outcome
    // ONE file at a time: read prior DV ∪ fragments, classify, write the
    // merged sidecar, release the array — driver memory is bounded by a
    // single file's positions even on a statement deleting billions of
    // rows. Files merge in parallel (independent IO).
    def mergeOne(rel: String, frags: Seq[String]): (String, Outcome) = {
      val prior = headMan.dvs.get(rel).fold(Array.empty[Long]) { case (p, _) =>
        org.apache.spark.sql.graft.DeletionVectors.read(
          f, new Path(dataDir(tgt, table), p))
      }
      // every input is a SORTED run (the prior sidecar wrote
      // distinct-sorted; fragments sortWithinPartitions before the
      // spill) — k-way merge streams them in O(total), no re-sort
      val merged = org.apache.spark.sql.graft.DeletionVectors
        .mergeSortedRuns(prior +: frags.map(p =>
          org.apache.spark.sql.graft.DeletionVectors.read(f, new Path(p))))
      headMan.rows.get(rel).foreach(n => require(
        merged.isEmpty || (merged.head >= 0 && merged.last < n),
        s"deletion vector position out of range for '$rel' ($n rows)"))
      val rows = headMan.rows.get(rel)
      if (rows.contains(merged.length.toLong)) rel -> Gone
      else {
        // the sidecar is written for BOTH outcomes: a Dv commits it; a
        // Rewrite's survivor read applies it executor-side, then it is
        // deleted with the statement's other discards
        val sidecar = s"dv-${java.util.UUID.randomUUID()}.dv"
        org.apache.spark.sql.graft.DeletionVectors.write(
          f, new Path(dataDir(tgt, table), sidecar), merged)
        val cow = rows.exists(n =>
          n > 0 && merged.length >= DvMinRewritePositions &&
            merged.length.toDouble >= n * maxFrac)
        rel -> (if (cow) Rewrite(sidecar, merged.length.toLong)
                else Dv(sidecar, merged.length.toLong))
      }
    }
    val outcomes: Map[String, Outcome] =
      if (dels.size <= 1) dels.map { case (r, fr) => mergeOne(r, fr) }
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        Await.result(
          Future.traverse(dels.toSeq) { case (r, fr) =>
            // blocking IO on the shared global pool: let the fork-join
            // pool compensate instead of starving other driver work
            Future(scala.concurrent.blocking(mergeOne(r, fr)))
          }, Duration.Inf).toMap
      }
    val newDvs: Map[String, (String, Long)] = outcomes.collect {
      case (rel, Dv(p, n)) => rel -> ((p, n))
    }
    val rewriteDvs: Map[String, (String, Long)] = outcomes.collect {
      case (rel, Rewrite(p, n)) => rel -> ((p, n))
    }
    def cleanupSidecars(paths: Iterable[String]): Unit = paths.foreach { p =>
      try f.delete(new Path(dataDir(tgt, table), p), false)
      catch { case _: java.io.IOException => () }
    }
    def cleanupAllSidecars(): Unit =
      cleanupSidecars((newDvs.values ++ rewriteDvs.values).map(_._1))
    // a file whose merged DV covers every recorded row is LOGICALLY
    // EMPTY: drop it (and its DV) from the manifest — readers never
    // mount it, vacuum reclaims both once unreferenced. `dropWhole`
    // joins the same set (its proof was metadata-only).
    val gone = outcomes.collect { case (rel, Gone) => rel }.toSet ++ dropWhole
    val rewriteRel = rewriteDvs.keySet
    val keepRel = headMan.files.filterNot(r => gone(r) || rewriteRel(r))
    val schemaFull = recordedSchema(headMan)
    // CoW-fraction fallback: the heavily-deleted files' LIVE rows (ids
    // preserved — these are existing rows) rewrite as a fresh batch, read
    // distributed with the merged sidecars applied executor-side
    val (rwBatch, rwParts) =
      if (rewriteRel.isEmpty) (null, Seq.empty[(String, Long)])
      else writeBatch(tgt, table,
        // eq-wrapped: a rewritten file is born UNSTAMPED (past every
        // tombstone), so re-emitting a tombstoned row here would
        // resurrect it — the stamp-grouped anti-join filters first
        readRelsEq(tgt, table, headMan, rewriteRel.toSeq, rels =>
          readRelsApplyingSidecars(tgt, table, headMan, rels,
            rewriteDvs.map { case (rel, (p, _)) => rel -> p }, schemaFull)),
        headMan.bucket, bloomColsOf(headMan), physOfMan(headMan),
        partSpecOf(headMan.props), zorderLayout(headMan.props))
    def cleanupRewrite(): Unit =
      if (rwBatch != null) fs(tgt, dataDir(tgt, table)).delete(rwBatch, true)
    // keep at least one schema-bearing file (the invariant every rewrite
    // path maintains — an empty table still reads its schema). When the
    // statement empties the table outright (every file Gone/dropped,
    // nothing staged), a FRESH EMPTY file carries the schema — the CoW
    // delete's own TRUNCATE shape. Re-mounting a fully-deleted file
    // bare (the old fallback) would RESURRECT its rows: Gone files
    // carry no committed DV.
    val keepSafe =
      if (keepRel.nonEmpty || stagedFiles.nonEmpty ||
          stagedWithIds.nonEmpty || rwParts.nonEmpty) keepRel
      else Nil
    val (emptyBatch, emptyParts) =
      if (keepSafe.nonEmpty || stagedFiles.nonEmpty ||
          stagedWithIds.nonEmpty || rwParts.nonEmpty)
        (null, Seq.empty[(String, Long)])
      else {
        val sch = schemaFull.getOrElse(tgt.spark.read.parquet(
          new Path(dataDir(tgt, table), headMan.files.head).toString).schema)
        writeBatch(tgt, table, tgt.spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), sch),
          headMan.bucket, bloomColsOf(headMan), physOfMan(headMan))
      }
    def cleanupEmpty(): Unit =
      if (emptyBatch != null) fs(tgt, dataDir(tgt, table)).delete(emptyBatch, true)
    val goneSafe = (gone ++ rewriteRel) -- keepSafe
    val schema = schemaFull
      .map(s => org.apache.spark.sql.types.StructType(
        s.fields.filterNot(_.name == Loader.IdCol)))
    val replacement =
      if (stagedFiles.nonEmpty) {
        val r = tgt.spark.read
        schema.fold(r)(r.schema).parquet(stagedFiles: _*)
      } else null
    val (batch, newParts) =
      if (replacement == null) (null, Seq.empty[(String, Long)])
      else {
        val floor = headMan.maxId.getOrElse(
          footerMaxId(tgt, headMan.files.map(r =>
            new Path(dataDir(tgt, table), r).toString)).getOrElse(0L))
        val order = if (idOrder.nonEmpty) idOrder
          else replacement.columns.toSeq
        val out = Loader.withSurrogateIds(replacement, floor, order)
        // the MOR statement's inserted rows respect the declared
        // partition-transform layout like every other write
        writeBatch(tgt, table, out, headMan.bucket, bloomColsOf(headMan),
          physOfMan(headMan), partSpecOf(headMan.props),
          zorderLayout(headMan.props))
      }
    // id-carrying staged rows (MOR upsert's merged-matched + fresh):
    // written through the same bucket/bloom-aware batch writer, ids
    // verbatim
    val (idBatch, idParts) =
      if (stagedWithIds.isEmpty) (null, Seq.empty[(String, Long)])
      else {
        val r = tgt.spark.read
        writeBatch(tgt, table,
          schemaFull.fold(r)(r.schema).parquet(stagedWithIds: _*),
          headMan.bucket, bloomColsOf(headMan), physOfMan(headMan),
          partSpecOf(headMan.props), zorderLayout(headMan.props))
      }
    def cleanupBatch(): Unit = {
      if (batch != null) fs(tgt, dataDir(tgt, table)).delete(batch, true)
      if (idBatch != null) fs(tgt, dataDir(tgt, table)).delete(idBatch, true)
    }
    def cleanupAll(): Unit = {
      cleanupBatch(); cleanupRewrite(); cleanupEmpty(); cleanupAllSidecars()
    }
    // the CHECK gate validates the STAGED bytes, like every write path
    // (rewrite parts hold pre-existing, already-validated rows; the
    // id-carrying merged rows are MODIFIED rows and validate too)
    effectiveCheck(headMan.props ++ propsDelta)
      .filter(_ => newParts.nonEmpty || idParts.nonEmpty).foreach { c =>
        try enforceCheckStaged(tgt, (newParts ++ idParts).map(p =>
          new Path(dataDir(tgt, table), p._1).toString),
          physOfMan(headMan), c, table)
        catch { case e: Throwable =>
          cleanupAll()
          throw e
        }
      }
    val newRel = rwParts.map(_._1) ++ newParts.map(_._1) ++
      idParts.map(_._1) ++ emptyParts.map(_._1)
    val stagedRel = (newParts ++ idParts).map(_._1)
    val floor0 = headMan.maxId
    val fm = manifestMeta(tgt, table, Some(headMan), keepSafe,
      rwParts ++ newParts ++ idParts ++ emptyParts,
      schemaFull.getOrElse(org.apache.spark.sql.types.StructType(Nil)))
    val committedMax =
      if (stagedRel.isEmpty) floor0
      else newFilesMaxId(tgt, table, fm, stagedRel)
        .map(m => math.max(m, floor0.getOrElse(0L))).orElse(floor0)
    // [[EqLiveUniqueProp]]: inserted/modified rows (MOR upsert merges,
    // MERGE inserts, UPDATE rewrites) may introduce duplicate keys —
    // the uniqueness invariant drops; a pure delete (DV-only) only
    // removes rows and preserves it
    val propsAfter = {
      val p = (headMan.props ++ propsDelta) -- dropProps
      if (stagedFiles.nonEmpty || stagedWithIds.nonEmpty)
        p - EqLiveUniqueProp
      else p
    }
    if (tryCommitManifest(tgt, table,
      Manifest(expectedVersion + 1, committedMax, headMan.bucket,
        keepSafe ++ newRel, fm.stats, fm.sizes, fm.nulls, fm.rows,
        pruneEqProps(propsAfter, keepSafe ++ newRel),
        (dvCarry(Some(headMan), keepSafe) ++ newDvs) -- goneSafe -- newRel),
      op)) {
      // rewritten files' merged sidecars were commit-transient: nothing
      // references them now (best-effort — vacuum sweeps leftovers)
      cleanupSidecars(rewriteDvs.values.map(_._1))
      maybeAutoCompact(tgt, table)
      Some(expectedVersion + 1)
    } else {
      cleanupAll()
      None
    }
  }

  // ------------------------------------------------------------------ delete

  /** Logical DELETE: commit a new version containing only the rows NOT
    * matching `cond`. Copy-on-write AND FILE-PRUNED: a probe pass finds
    * the files that actually CONTAIN matching rows (`input_file_name` over
    * the pushed-down predicate — parquet row-group stats skip most files
    * without reading rows), only those files are rewritten without their
    * matches, and every other file carries into the new manifest untouched
    * — O(matching files), not O(table). Every prior version still reads
    * its own files (the rows are logically gone, physically reclaimed by
    * [[vacuum]] once no retained manifest references them — the
    * retention/erasure split real compliance deletes need). A delete
    * matching nothing commits a metadata-only version (the operation stays
    * in history). Returns the committed version.
    *
    * WHOLE-FILE DROPS: a file whose zone maps + null counts PROVE every
    * row matches `cond` ([[fileCovered]]) is dropped from the manifest
    * with ZERO data I/O — not probed, not rewritten. On a range-clustered
    * table this makes retention deletes (`ts < cutoff`) metadata-only for
    * every fully-expired file, the partition-drop story without partition
    * dirs; only the boundary file pays a rewrite.
    *
    * MERGE-ON-READ tables (`write.mode = merge-on-read`) take the DV
    * path instead — the same commit shape as SQL DELETE on the catalog
    * surface: matched positions spill to fragment sidecars
    * EXECUTOR-SIDE (only pointers reach the driver), fully-covered
    * files still drop metadata-only, and [[applyRowDeltas]]'s
    * `dv_max_fraction` fallback rewrites any file the statement has
    * mostly deleted. Untouched files carry byte-for-byte verbatim. */
  def delete(tgt: Catalog, table: String, cond: org.apache.spark.sql.Column): Long = {
    Loader.ensureParquetWriteConf(tgt.spark)
    if (isMergeOnRead(tgt, table))
      return commitWithRetry(tgt, table, "delete") { a =>
        val man = a.man
        val tree = org.apache.spark.sql.graft.ColumnExprBridge.predTree(cond)
        val (candRel0, _) = pruneByStats(man, cond)
        val dropped = candRel0.filter(r => fileCovered(man, r, tree)).toSet
        deleteMorAttempt(tgt, table, a, _.where(cond),
          candRel0.filterNot(dropped), dropped)
      }
    val committed = commitWithRetry(tgt, table, "delete") { a =>
      val man = a.man
      def absOf(rel: String) = new Path(dataDir(tgt, table), rel).toUri.getPath
      val tree = org.apache.spark.sql.graft.ColumnExprBridge.predTree(cond)
      // three-way split, all driver-side metadata: files provably ALL
      // matching drop outright; files provably NOT matching carry; only
      // the undecided middle is probed
      val (candRel0, _) = pruneByStats(man, cond)
      val dropped = candRel0.filter(r => fileCovered(man, r, tree)).toSet
      val candRel = candRel0.filterNot(dropped)
      // file-match probe: which undecided files hold at least one matching
      // row (parquet row-group stats skip most without reading rows)
      // the probe reads WITHOUT the equality-tombstone wrap: the wrap's
      // anti-joins add the key files as extra sources and Spark refuses
      // input_file_name over a multi-source plan (PreReadCheck). The
      // un-wrapped hit set is a SUPERSET (dead rows can match `cond`) —
      // over-hit only rewrites a file whose matches were already
      // tombstone-dead, and the rewrite below reads eq-wrapped, so it
      // can never resurrect them
      val hit: Set[String] =
        if (candRel.isEmpty) Set.empty
        else readRelsWithDvNoEq(tgt, table, man, candRel)
          .where(cond).select(input_file_name().as("f")).distinct()
          .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
      val (hitRel, keepRel) = man.files.filterNot(dropped)
        .partition(r => hit.contains(absOf(r)))
      if (hitRel.isEmpty && dropped.isEmpty)
        // nothing matches: the delete is recorded without touching a byte
        a.commit(man)
      else if (hitRel.isEmpty && keepRel.nonEmpty) {
        // METADATA-ONLY delete: every matching file was fully covered —
        // commit the survivors' manifest without reading a byte
        val fm = manifestMeta(tgt, table, Some(man), keepRel, Nil,
          org.apache.spark.sql.types.StructType(Nil))
        a.commit(Manifest(a.next, man.maxId, man.bucket, keepRel,
          fm.stats, fm.sizes, fm.nulls, fm.rows,
          pruneEqProps(man.props, keepRel),
          dvCarry(Some(man), keepRel)))
      } else {
        // partial rewrite; when EVERYTHING matched (hitRel empty AND
        // keepRel empty) the empty-survivors write keeps the schema alive
        val srcRel = if (hitRel.nonEmpty) hitRel else Seq(man.files.head)
        val srcDf = readRelsWithDv(tgt, table, man, srcRel)
        val survivors =
          if (hitRel.nonEmpty) srcDf.where(!coalesce(cond, lit(false)))
          else srcDf.where(lit(false))
        val (batch, newParts) = writeBatch(tgt, table, survivors, man.bucket,
          bloomColsOf(man), physOfMan(man), partSpecOf(man.props),
          zorderLayout(man.props))
        val newRel = newParts.map(_._1)
        // the id floor NEVER decreases on delete (deleted rows' ids are
        // not reissued — they may still be referenced by older versions);
        // carry the recorded floor, falling back to the survivors' footers
        val keepAbs = (keepRel ++ newRel).map(r =>
          new Path(dataDir(tgt, table), r).toString)
        val maxId = man.maxId.orElse(footerMaxId(tgt, keepAbs))
        val fm = manifestMeta(tgt, table, Some(man), keepRel, newParts,
          survivors.schema)
        a.commit(Manifest(a.next, maxId, man.bucket, keepRel ++ newRel,
          fm.stats, fm.sizes, fm.nulls, fm.rows,
          pruneEqProps(man.props, keepRel ++ newRel),
          dvCarry(Some(man), keepRel))).orElse {
          fs(tgt, dataDir(tgt, table)).delete(batch, true)
          None
        }
      }
    }
    maybeAutoCompact(tgt, table)
    committed
  }

  /** Keyed DELETE: remove every row whose `keys` tuple appears in
    * `keyRows` — the distributed twin of [[delete]] for CDC apply paths,
    * where the victims arrive as a FRAME (a feed's delete rows), not a
    * predicate. Same file pruning: a semi-join probe finds the files
    * holding matches (row-group stats skip the rest), only those rewrite
    * via an anti-join, everything else carries forward. The key frame
    * never collects to the driver — both the probe and the rewrite are
    * joins, so a million-row delete batch costs two shuffles of the
    * MATCHED FILES' rows, not a driver-side IN-list. Returns the
    * committed version. */
  def deleteKeys(tgt: Catalog, table: String, keyRows: DataFrame,
                 keys: Seq[String]): Long = {
    Loader.ensureParquetWriteConf(tgt.spark)
    require(keys.nonEmpty, "deleteKeys needs at least one key column")
    val kr = keyRows.select(keys.map(col): _*).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // key-ENVELOPE pruning: the [min,max] of the delete batch per key
    // column (one tiny agg over the already-persisted frame, computed once
    // — the frame doesn't change across commit retries) zone-prunes the
    // probe's file list. Sound because the envelope is a superset of the
    // key set: a file whose range misses the whole envelope can't hold any
    // victim. At scale this turns "semi-join the entire table against the
    // feed's deletes" into "semi-join the files near the batch's key
    // range" — the common CDC case where a day's deletes live in a few
    // recent files.
    val envelope: Option[org.apache.spark.sql.Column] = {
      val aggExprs = keys.flatMap(k =>
        Seq(min(col(k)).as(s"lo_$k"), max(col(k)).as(s"hi_$k")))
      val r = kr.agg(aggExprs.head, aggExprs.tail: _*).head()
      scala.util.Try {
        keys.zipWithIndex.map { case (k, i) =>
          val (lo, hi) = (r.get(2 * i), r.get(2 * i + 1))
          require(lo != null && hi != null)
          col(k) >= lit(lo) && col(k) <= lit(hi)
        }.reduce(_ && _)
      }.toOption // empty frame / un-lit-able key type: no pruning
    }
    try {
      val committed = commitWithRetry(tgt, table, "deleteKeys") { a =>
      val man = a.man
      def absOf(rel: String) = new Path(dataDir(tgt, table), rel).toUri.getPath
      val candRel = envelope.map(p => pruneByStats(man, p)._1).getOrElse(man.files)
      if (man.props.get(WriteModeProp).contains(MergeOnRead))
        // merge-on-read: victims become DV positions (fragments written
        // executor-side); no file rewrites below dv_max_fraction
        deleteMorAttempt(tgt, table, a,
          _.join(kr, keys, "left_semi"), candRel, Set.empty)
      else {
      // input_file_name() must bind on the SCAN side — above a join it is
      // ambiguous (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION) — so the
      // probe reads WITHOUT the eq-tombstone wrap (whose anti-joins add
      // the key files as extra sources): the un-wrapped hit set is a
      // superset, and the survivor rewrite below reads eq-wrapped, so an
      // over-hit rewrite cannot resurrect tombstone-dead rows
      val hit: Set[String] =
        if (candRel.isEmpty) Set.empty
        else readRelsWithDvNoEq(tgt, table, man, candRel)
          .withColumn("__f", input_file_name())
          .join(kr, keys, "left_semi")
          .select(col("__f")).distinct()
          .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
      val (hitRel, keepRel) = man.files.partition(r => hit.contains(absOf(r)))
      if (hitRel.isEmpty) a.commit(man)
      else {
        val survivors = readRelsWithDv(tgt, table, man, hitRel)
          .join(kr, keys, "left_anti")
        val (batch, newParts) = writeBatch(tgt, table, survivors, man.bucket,
          bloomColsOf(man), physOfMan(man), partSpecOf(man.props),
          zorderLayout(man.props))
        val newRel = newParts.map(_._1)
        val keepAbs = (keepRel ++ newRel).map(r =>
          new Path(dataDir(tgt, table), r).toString)
        val maxId = man.maxId.orElse(footerMaxId(tgt, keepAbs))
        val fm = manifestMeta(tgt, table, Some(man), keepRel, newParts,
          survivors.schema)
        a.commit(Manifest(a.next, maxId, man.bucket, keepRel ++ newRel,
          fm.stats, fm.sizes, fm.nulls, fm.rows,
          pruneEqProps(man.props, keepRel ++ newRel),
          dvCarry(Some(man), keepRel))).orElse {
          fs(tgt, dataDir(tgt, table)).delete(batch, true)
          None
        }
      }
      }
      }
      // CoW deletes rewrite boundary files into fresh small ones — the
      // same accretion the trigger exists for (the MOR route already
      // checks inside applyRowDeltas; re-checking is a cheap no-op)
      maybeAutoCompact(tgt, table)
      committed
    } finally kr.unpersist()
  }

  /** One MERGE-ON-READ delete attempt (shared by [[delete]] and
    * [[deleteKeys]] on `write.mode = merge-on-read` tables): `matchedOf`
    * narrows the candidate files' rows to the victims (a predicate or a
    * semi-join), whose `(file, row-position)` pairs spill to fragment
    * sidecars EXECUTOR-SIDE — the driver collects only (file → fragment
    * path) pointers, then commits through [[applyRowDeltas]] (merged
    * sidecar per file, full-coverage drop, `dv_max_fraction` CoW
    * fallback). `dropWhole` carries the zone-map-proven fully-covered
    * files, dropped metadata-only without being scanned. None on a lost
    * CAS race — the caller's retry loop recomputes against the new head. */
  private def deleteMorAttempt(tgt: Catalog, table: String, a: CommitAttempt,
                               matchedOf: DataFrame => DataFrame,
                               candRel: Seq[String],
                               dropWhole: Set[String]): Option[Long] = {
    val man = a.man
    val stage = s"${tgt.dirPath(table)}.__vstage/mor-del-${java.util.UUID.randomUUID()}"
    val f = fs(tgt, dataDir(tgt, table))
    try {
      // probe WITHOUT applying prior DVs: a re-matched already-deleted
      // position unions into the merged sidecar idempotently, and
      // skipping the DV filter keeps the probe a plain vectorized scan
      val frags: Map[String, Seq[String]] =
        if (candRel.isEmpty) Map.empty
        else {
          val probe = scanWithIdentity(tgt, table, man, candRel,
            scanSchema(tgt, table, man, candRel, None))
          writePositionFragments(tgt.spark,
            matchedOf(probe).select(col("__graft_fp"), col("__graft_ri")),
            stage)
        }
      if (frags.isEmpty && dropWhole.isEmpty)
        // nothing matched: the delete is recorded without touching a byte
        a.commit(man)
      else applyRowDeltas(tgt, table, a.cur, a.op, frags, Nil, Nil, dropWhole)
    } finally {
      try { val p = new Path(stage); if (f.exists(p)) f.delete(p, true) }
      catch { case _: java.io.IOException => () }
    }
  }

  /** The executor-side LIVE-ROW predicate over (file path, row index):
    * true when the row's position is absent from its file's sidecar —
    * sidecars decode executor-side through the per-JVM cache, the driver
    * broadcasts only pointers. ONE copy, shared by every DV-applying
    * read (the sidecar read, the rewrite read, the upsert probe). */
  private def liveRowUdf(spark: org.apache.spark.sql.SparkSession,
                         dvPathByFile: Map[String, String])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val bc = spark.sparkContext.broadcast((dvPathByFile, conf))
    udf((fp: String, idx: Long) => {
      val (byFile, c) = bc.value
      byFile.get(new Path(fp).toUri.getPath) match {
        case None => true
        case Some(sidecar) =>
          val a = org.apache.spark.sql.graft.DeletionVectors
            .readCached(c.value, sidecar)
          java.util.Arrays.binarySearch(a, idx) < 0
      }
    })
  }

  /** LIVE rows of `rels` WITH their row identity: the data columns plus
    * `__graft_fp` (file path) and `__graft_ri` (row position), prior
    * deletion vectors AND live equality tombstones applied — the MOR
    * upsert's probe input. A DV-deleted row must neither match nor
    * resurrect; a TOMBSTONED row must not match either — its reinserted
    * twin is also in the probe, and matching both would merge the same
    * key twice (duplicate rows in one commit). */
  private def readRelsLiveWithIdentity(tgt: Catalog, table: String,
                                       man: Manifest, rels: Seq[String],
                                       sch: Option[org.apache.spark.sql.types.StructType])
      : DataFrame =
    readRelsEq(tgt, table, man, rels,
      g => readRelsLiveWithIdentityNoEq(tgt, table, man, g, sch))

  private def readRelsLiveWithIdentityNoEq(tgt: Catalog, table: String,
                                           man: Manifest, rels: Seq[String],
                                           sch: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    val raw = scanWithIdentity(tgt, table, man, rels,
      scanSchema(tgt, table, man, rels, sch))
    val dirty = rels.filter(man.dvs.contains)
    if (dirty.isEmpty) raw
    else {
      val live = liveRowUdf(tgt.spark, dirty.map { r =>
        new Path(dataDir(tgt, table), r).toUri.getPath ->
          new Path(dataDir(tgt, table), man.dvs(r)._1).toString
      }.toMap)
      raw.where(live(col("__graft_fp"), col("__graft_ri")))
    }
  }

  /** MERGE-ON-READ KEYED UPSERT — one [[load]] attempt on a
    * `write.mode = merge-on-read` table: instead of rewriting the whole
    * table (flat) or every touched bucket, the matched LIVE rows' old
    * versions become deletion-vector positions (fragments written
    * executor-side) while the statement appends exactly two row sets —
    * the merged matched rows (EXISTING ids kept, incoming values taken:
    * the copy-on-write `upsertMerged` semantics bit-for-bit) and the
    * fresh keys (new ids above the floor). Untouched files — including
    * the matched rows' own files — carry byte-for-byte verbatim, so the
    * commit is O(matched + incoming + DV) regardless of table size.
    * Requires an unchanged column set (schema evolution falls back to
    * the copy-on-write path in [[loadAttempt]]). None = lost the CAS. */
  private def morUpsertAttempt(tgt: Catalog, table: String, a: CommitAttempt,
                               incoming: DataFrame, keys: Seq[String],
                               order: Seq[String], floor: Long,
                               extraProps: Map[String, String],
                               dropProps: Seq[String]): Option[Long] = {
    val spark = tgt.spark
    val man = a.man
    val stage = s"${tgt.dirPath(table)}.__vstage/mor-ups-${java.util.UUID.randomUUID()}"
    val f = fs(tgt, dataDir(tgt, table))
    val one = Loader.collapseLastPerKey(incoming, keys, order)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // key-envelope pruning, as in deleteKeys: a candidate superset is
      // sound, and complete — every existing row with an incoming key
      // lives in a candidate file
      val envelope: Option[org.apache.spark.sql.Column] = {
        val aggExprs = keys.flatMap(k =>
          Seq(min(col(k)).as(s"lo_$k"), max(col(k)).as(s"hi_$k")))
        val r = one.agg(aggExprs.head, aggExprs.tail: _*).head()
        scala.util.Try {
          keys.zipWithIndex.map { case (k, i) =>
            val (lo, hi) = (r.get(2 * i), r.get(2 * i + 1))
            require(lo != null && hi != null)
            col(k) >= lit(lo) && col(k) <= lit(hi)
          }.reduce(_ && _)
        }.toOption
      }
      val candRel = envelope.map(p => pruneByStats(man, p)._1).getOrElse(man.files)
      val exLive = readRelsLiveWithIdentity(tgt, table, man, candRel,
        recordedSchema(man))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val inCols = one.columns.toSet
        val renamedIn = one.columns.filterNot(keys.contains).foldLeft(one) {
          (d, c) => d.withColumnRenamed(c, s"__in_$c")
        }
        val joined = exLive.join(renamedIn, keys, "inner")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the matched rows' OLD versions → deletion-vector fragments
          val frags = writePositionFragments(spark,
            joined.select(col("__graft_fp"), col("__graft_ri")), stage)
          // merged matched rows: existing id + incoming values (the
          // upsertMerged column rule; the unchanged-column-set gate means
          // every non-id column is incoming-supplied)
          val exCols = exLive.columns.filterNot(c =>
            c == "__graft_fp" || c == "__graft_ri")
          val mergedMatched = joined.select(exCols.toIndexedSeq.map { c =>
            if (keys.contains(c) || c == Loader.IdCol) col(c)
            else if (inCols.contains(c)) col(s"__in_$c").as(c)
            else col(c)
          }: _*)
          // fresh keys: new ids above the floor, deterministic order
          val fresh = Loader.withSurrogateIds(
            one.join(exLive.select(keys.map(col): _*), keys, "left_anti"),
            floor, order)
          val targetSchema = recordedSchema(man).getOrElse(
            org.apache.spark.sql.types.StructType(
              mergedMatched.schema.fields))
          val staged = Loader.unionAligned(Seq(mergedMatched, fresh),
            targetSchema)
          val stagedDir = s"$stage/rows"
          staged.write.parquet(stagedDir)
          if (frags.isEmpty &&
              spark.read.parquet(stagedDir).isEmpty) {
            // an upsert of zero rows records a metadata-only version —
            // carrying extraProps/keys ATOMICALLY like the CoW path (an
            // idempotent writer's epoch stamp must land even on an
            // empty batch, or a replay re-applies it)
            a.commit(man.copy(props = (man.props ++ extraProps +
              (UpsertKeysProp -> keys.mkString(","))) -- dropProps))
          } else
            applyRowDeltas(tgt, table, a.cur, a.op, frags, Nil, order,
              stagedWithIds = Seq(stagedDir),
              propsDelta = extraProps +
                (UpsertKeysProp -> keys.mkString(",")),
              dropProps = dropProps)
        } finally joined.unpersist()
      } finally exLive.unpersist()
    } finally {
      one.unpersist()
      try { val p = new Path(stage); if (f.exists(p)) f.delete(p, true) }
      catch { case _: java.io.IOException => () }
    }
  }


  /** Spill `(file path, row position)` pairs to fragment sidecars
    * EXECUTOR-SIDE: shuffle on (file, position-block) — the block is the
    * position divided by the flush size, so one file's positions spread
    * across tasks in sorted runs instead of funneling a single-file bulk
    * delete through one task (the commit-side merge accepts any number
    * of fragments per file) — fragments of ≤
    * [[org.apache.spark.sql.graft.DeletionVectors.FragmentFlushPositions]]
    * positions each; the driver receives only the
    * (file → fragment paths) pointer map, O(files + blocks), regardless
    * of how many rows the statement deletes. */
  private def writePositionFragments(spark: org.apache.spark.sql.SparkSession,
                                     fpRi: DataFrame,
                                     stageDir: String): Map[String, Seq[String]] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val inEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong)
    val outEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.STRING)
    val cols = fpRi.columns
    val flushAt = org.apache.spark.sql.graft.DeletionVectors.FragmentFlushPositions
    val pairs = fpRi
      .repartition(col(cols(0)),
        (col(cols(1)) / lit(flushAt.toLong)).cast("long"))
      .sortWithinPartitions(col(cols(0)), col(cols(1)))
      .as[(String, Long)](inEnc)
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
        var curFile: String = null
        val buf = new scala.collection.mutable.ArrayBuffer[Long]()
        def flush(): Unit = if (curFile != null && buf.nonEmpty) {
          val p = new Path(stageDir,
            s"dvfrag-${java.util.UUID.randomUUID()}.dv")
          org.apache.spark.sql.graft.DeletionVectors.write(
            p.getFileSystem(conf.value), p, buf.toArray)
          out += ((curFile, p.toString))
          buf.clear()
        }
        it.foreach { case (fp, ri) =>
          if (fp != curFile) { flush(); curFile = fp }
          buf += ri
          if (buf.length >= flushAt) flush()
        }
        flush()
        out.iterator
      }(outEnc)
      .collect()
    pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  /** COMPACTION as a version: coalesce small files into
    * ~`targetFileBytes` outputs and commit the result as a new manifest —
    * the answer to the append-only layout's small-file accretion (every
    * append adds files; a year of micro-batches is a million tiny files
    * whose per-file open/footer cost dominates scans). Only files smaller
    * than `targetFileBytes/2` rewrite (size read from the file LISTING —
    * metadata, no data I/O); right-sized files carry into the new
    * manifest untouched, so compaction cost is O(small files), not
    * O(table). On a bucketed table small files coalesce WITHIN their
    * bucket (the rewrite recomputes bucket dirs from the keys — layout
    * preserved). Prior versions keep reading their own files; the
    * replaced small files become vacuumable once unreferenced. Returns
    * the new version, or the current one when nothing needs compacting.
    */
  def compact(tgt: Catalog, table: String, targetFileBytes: Long): Long =
    compact(tgt, table, targetFileBytes, None)

  /** SCOPED compaction (`OPTIMIZE ... WHERE` shape): with `where`, only
    * files whose zone maps ADMIT the predicate are candidates — at
    * 100 TB, maintaining yesterday's hot partition rewrites O(that
    * partition), never the table. One-sided like every prune: a file
    * without usable stats is admitted (conservatively a candidate);
    * non-admitted files carry VERBATIM, DVs included. */
  def compact(tgt: Catalog, table: String, targetFileBytes: Long,
              where: Option[org.apache.spark.sql.Column]): Long = {
    Loader.ensureParquetWriteConf(tgt.spark)
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    commitWithRetry(tgt, table, "compact") { a =>
      val man = a.man
      val f = fs(tgt, dataDir(tgt, table))
      // manifest-recorded sizes first (zero RPCs); status call only for
      // files committed by a pre-sizes writer
      val sized = man.files.map { r =>
        r -> man.sizes.getOrElse(r,
          f.getFileStatus(new Path(dataDir(tgt, table), r)).getLen)
      }
      // the scope: files the predicate MAY touch (kept by the prune) —
      // everything else is out of bounds and carries verbatim. The
      // predicate ANALYZES against the recorded schema (the shared
      // admission path), so SQL-text scopes from the procedure and
      // coerced literals both reach the zone maps; an unanalyzable
      // scope refuses loudly rather than silently widening to the table
      val admitted: Set[String] = where.fold(man.files.toSet) { c =>
        val p = recordedSchema(man) match {
          case Some(s) =>
            val p0 = graft.streaming.CdcStreamProvider
              .admissionOf(tgt.spark, s, c, c.toString).zonePred
            // a scope that ANALYZES but exports no zone algebra (e.g.
            // `k % 2 = 0`, function calls) would keep every file —
            // silently widening to the O(table) rewrite the scope
            // exists to avoid. Refuse loudly, same as the legacy branch.
            require(p0 != ZonePred.Unknown,
              s"compact scope on '$table' is not expressible in the " +
                "zone-map algebra (comparisons/IN/null-tests on table " +
                "columns) — it would admit every file; narrow the " +
                "predicate, or compact unscoped")
            p0
          case None =>
            // legacy schema-less manifest: the node walker is all we
            // have — an unwalkable scope REFUSES (widening silently to
            // the whole table would be the exact O(table) rewrite the
            // scope exists to avoid)
            val p0 = org.apache.spark.sql.graft.ColumnExprBridge.predTree(c)
            require(p0 != ZonePred.Unknown,
              s"compact scope is not analyzable on '$table' (no recorded " +
                "schema to resolve it against) — use column-DSL " +
                "predicates, or compact unscoped")
            p0
        }
        // with NO usable stats at all, a scoped compact degenerates the
        // same way — every file is conservatively admitted. Refuse:
        // unscoped compaction is the honest spelling of that rewrite.
        require(man.stats.nonEmpty || man.nulls.nonEmpty || man.files.isEmpty,
          s"table '$table' records no file statistics — a compact scope " +
            "cannot prune anything here; compact unscoped")
        pruneByPred(man, p)._1.toSet
      }
      // DV'd files are ALWAYS rewrite candidates regardless of size —
      // compaction is where deletion vectors materialize (the read-side
      // position filter disappears and the single-scan plan returns).
      // Files under a live equality tombstone (stamped below any
      // tombstone's seq) are candidates for the same reason: rewriting
      // them is what MATERIALIZES the tombstone (the rewrite is born
      // past every seq), letting pruneEqProps drop it — without this, a
      // large stamped file would keep a tombstone alive forever
      val eqStamps = eqSeqsOf(man.props)
      val maxEqSeq = eqTombstonesOf(man.props).map(_.seq).maxOption
      def tombstoned(r: String): Boolean =
        maxEqSeq.exists(s => eqStamps.getOrElse(r, Long.MaxValue) < s)
      val (small, keep) = sized.partition { case (r, len) =>
        admitted(r) && (len < targetFileBytes / 2 || man.dvs.contains(r) ||
          tombstoned(r))
      }
      // one small DV-less un-tombstoned file alone (or none) gains
      // nothing — don't churn a commit (and a version) for it. EXCEPT:
      // inert tombstone props (live-looking entries no live file is
      // stamped below — a pre-hygiene rewrite left them) still commit a
      // PROPS-ONLY prune here, because "run compact first" is the
      // remediation every tombstone refusal advertises and it must work
      // in exactly this state
      if (small.size < 2 && !small.exists(s => man.dvs.contains(s._1)) &&
          !small.exists(s => tombstoned(s._1))) {
        val pruned = pruneEqProps(man.props, man.files)
        if (pruned == man.props) Some(a.cur)
        else a.commit(man.copy(props = pruned))
      } else {
        // DV-aware + explicit schema: compacting must drop deleted
        // positions and null-fill pre-widening files, never resurrect
        // rows or narrow the rewrite to a sampled footer's shape
        val rows = readRelsWithDv(tgt, table, man, small.map(_._1))
        val parts = math.max(1L,
          (small.map(_._2).sum + targetFileBytes - 1) / targetFileBytes).toInt
        val pSpec = partSpecOf(man.props)
        // a ZORDER table compacts ALONG THE CURVE: range on the Morton
        // value at the compaction's own sizing — a lexicographic range
        // here would undo the interleave and un-prune the second
        // clustered column on every maintenance pass
        val zCol =
          if (zorderLayout(man.props) && pSpec.size >= 2 &&
            pSpec.forall(_.fn == "identity"))
            Some(graft.operators.ZOrder.zValue(rows, pSpec.map(_.col)))
          else None
        val out = (man.bucket, zCol) match {
          case (Some((keys, n)), Some(z)) =>
            rows.repartitionByRange(math.max(parts, n),
              Loader.bucketIdExpr(keys, n), z)
              .sortWithinPartitions((z +: pSpec.map(t => col(t.col))): _*)
          case (None, Some(z)) =>
            rows.repartitionByRange(parts, z)
              .sortWithinPartitions((z +: pSpec.map(t => col(t.col))): _*)
          // bucketed WITH a transform spec: range on (bucketId, derived)
          // like writeBatch's combined branch, so a large bucket's
          // several files keep disjoint base ranges through compaction
          case (Some((keys, n)), None) if pSpec.nonEmpty =>
            rows.repartitionByRange(math.max(parts, n),
              (Loader.bucketIdExpr(keys, n) +: pSpec.map(transformExpr)): _*)
              .sortWithinPartitions(
                (pSpec.map(transformExpr) ++ pSpec.map(t => col(t.col))): _*)
          // bucketed: one task per bucket so each bucket dir compacts to
          // ONE file (a plain coalesce would write a file per (task ×
          // bucket) pair and defeat the point)
          case (Some((keys, n)), None) =>
            rows.repartition(n, Loader.bucketIdExpr(keys, n))
          // a partition-transform table must compact WITHIN the declared
          // layout: range on the derived values at the COMPACTION's own
          // sizing — a plain coalesce would merge days into wide files,
          // un-pruning the table (and an auto-compaction trigger would
          // then re-fire forever on files it can never shrink)
          case (None, None) if pSpec.nonEmpty =>
            rows.repartitionByRange(parts,
              (pSpec.map(transformExpr) ++ pSpec.map(t => col(t.col))): _*)
              .sortWithinPartitions(
                (pSpec.map(transformExpr) ++ pSpec.map(t => col(t.col))): _*)
          case (None, None) => rows.coalesce(parts)
        }
        // bound the parquet row group at a quarter of the file target so
        // every at-target compacted file carries ≥4 independently
        // readable row groups — a single-row-group file is one scan task
        // forever, no matter how the re-read splits it (guide §6)
        val (batch, newParts) = writeBatch(tgt, table, out, man.bucket,
          bloomColsOf(man), physOfMan(man),
          extraOpts = Map("parquet.block.size" -> math.max(1L << 20,
            math.min(128L << 20, targetFileBytes / 4)).toString))
        val newRel = newParts.map(_._1)
        val fm = manifestMeta(tgt, table, Some(man), keep.map(_._1),
          newParts, rows.schema)
        // equality tombstones: rewritten files are born PAST every
        // tombstone (unstamped); carried files keep their stamps, and a
        // tombstone no surviving file is stamped below drops — the
        // materialization step of the write-without-read upsert
        a.commit(Manifest(a.next, man.maxId, man.bucket,
          keep.map(_._1) ++ newRel, fm.stats, fm.sizes, fm.nulls, fm.rows,
          pruneEqProps(man.props, keep.map(_._1)),
          dvCarry(Some(man), keep.map(_._1)))).orElse {
          fs(tgt, dataDir(tgt, table)).delete(batch, true)
          None
        }
      }
    }
  }

  /** RECLUSTER as a version — the OPTIMIZE ZORDER of the versioned layer,
    * and the write-side twin of the zone maps: rewrite version-head data
    * in clustering order so each output file covers a NARROW range of the
    * clustered columns, making [[readWhere]]'s file skipping selective on
    * them. One column range-sorts (perfect 1-D locality); two or more
    * interleave via [[graft.operators.ZOrder.zValue]] (every dimension
    * keeps ~1/2^(bits/k) per-file selectivity — numeric or string
    * columns, strings clustering by 7-byte UTF-8 prefix: ZOrder's
    * contract). Output sizes to ~`targetFileBytes` from the file
    * LISTING (no extra scan). This is a FULL rewrite of the head version —
    * re-layout is inherently O(table); run it on the cadence a lake runs
    * OPTIMIZE, and let appends between runs rely on their natural
    * time-correlation. Prior versions keep their own files (snapshot
    * safety); the replaced files become vacuumable. Flat tables only: a
    * bucketed table's locality contract is its bucket hash, which a
    * z-order rewrite would destroy. Logical state is unchanged — only the
    * file boundaries move. Returns the new version.
    */
  def recluster(tgt: Catalog, table: String, clusterBy: Seq[String],
                targetFileBytes: Long): Long = {
    Loader.ensureParquetWriteConf(tgt.spark)
    require(clusterBy.nonEmpty, "recluster needs at least one column")
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    commitWithRetry(tgt, table, "recluster") { a =>
      val man = a.man
      require(man.bucket.isEmpty,
        s"table '$table' is hash-bucketed; recluster applies to flat tables " +
          "(bucket locality and z-order locality are competing layouts)")
      val f = fs(tgt, dataDir(tgt, table))
      val totalBytes = man.files.map(r =>
        man.sizes.getOrElse(r,
          f.getFileStatus(new Path(dataDir(tgt, table), r)).getLen)).sum
      val parts = math.max(1L,
        (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
      val rows = readVersion(tgt, table, a.cur)
      val sortKey =
        if (clusterBy.size == 1) col(clusterBy.head)
        else graft.operators.ZOrder.zValue(rows, clusterBy)
      val out = rows.repartitionByRange(parts, sortKey)
        .sortWithinPartitions(sortKey)
      val (batch, newParts) = writeBatch(tgt, table, out, None,
        bloomColsOf(man), physOfMan(man))
      val newRel = newParts.map(_._1)
      // parent = Some(man): the rewritten files carry PHYSICAL names, so
      // the footer-stat request must translate through the table's
      // column mapping (a renamed column's zone maps would otherwise
      // vanish from the reclustered manifest — or worse, mis-key)
      val fm = manifestMeta(tgt, table, Some(man), Nil, newParts, rows.schema)
      a.commit(Manifest(a.next, man.maxId, None, newRel,
        fm.stats, fm.sizes, fm.nulls, fm.rows, man.props)).orElse {
        fs(tgt, dataDir(tgt, table)).delete(batch, true)
        None
      }
    }
  }

  // ---------------------------------------------------------------- rollback

  /** O(1) metadata ROLLBACK: commit a NEW head version whose file list is
    * exactly version `v`'s — no data is read, copied, or rewritten, so
    * undoing a bad load on a 100 TB table costs one small JSON commit.
    * History is preserved: the rolled-back-over versions stay readable
    * (and vacuumable) like any others, and the audit trail shows the
    * rollback as its own version rather than pretending it never
    * happened. The id floor is HISTORY-GLOBAL — the max over every
    * retained manifest's recorded floor — so ids issued by the
    * rolled-back-over versions are never reissued after the rollback
    * (cross-version audit joins stay unambiguous). Same optimistic CAS as
    * [[load]]. Returns the new head version.
    */
  def rollback(tgt: Catalog, table: String, v: Long): Long =
    commitWithRetry(tgt, table, "rollback") { a =>
      val cur = a.cur
      require(versions(tgt, table).contains(v),
        s"table '$table' has no version $v to roll back to")
      if (v == cur) Some(cur) // already there: nothing to commit
      else {
        val man = readManifest(tgt, table, v).get
        val floors = versions(tgt, table)
          .flatMap(w => readManifest(tgt, table, w).flatMap(_.maxId))
        val maxId = floors.maxOption.orElse(
          footerMaxId(tgt, manifestFiles(tgt, table, v)))
        a.commit(man.copy(maxId = maxId))
      }
    }

  // ------------------------------------------------------------------- clone

  /** ZERO-COPY (shallow) CLONE: create `dstTable` whose v1 manifest
    * references version `v` of `srcTable`'s data files by ABSOLUTE path —
    * one small JSON commit, no data read, copied, or rewritten. Cloning a
    * 100 TB table for a dev/test/audit branch costs the same as cloning a
    * 100 MB one. After the clone the two tables evolve independently:
    * every write to the clone (append/upsert/delete/compact) stages files
    * under the CLONE's own data dir and carries the still-shared source
    * files forward, so the source is never touched (its files are
    * immutable by the layer's core invariant, and its manifests never
    * learn of the clone). Zone maps and the id floor carry over, so
    * pruning and id continuity work from the first read/write.
    *
    * OWNERSHIP: the clone's vacuum only sweeps its OWN data dir, so it
    * can never delete source files. The reverse direction is now GUARDED
    * rather than convention-documented: the clone registers itself in
    * the source's meta dir (`clone-<uuid>.json`) and records its
    * provenance in its own v1 manifest props, and the SOURCE's [[vacuum]]
    * treats every live clone's referenced files as referenced — shared
    * files survive a source vacuum until the clone is dropped (its meta
    * dir deleted) or has rewritten them away (compact/recluster), at
    * which point the next source vacuum reclaims them and clears the
    * marker. `vacuum(ignoreClones = true)` restores the old unguarded
    * sweep for deployments that manage ownership externally.
    */
  def cloneTable(src: Catalog, srcTable: String,
                 dst: Catalog, dstTable: String, v: Long): Long = {
    val man = readManifest(src, srcTable, v).getOrElse(
      throw new IllegalArgumentException(
        s"table '$srcTable' has no version $v to clone"))
    val relToAbs = man.files.map(r =>
      r -> new Path(dataDir(src, srcTable), r).toString).toMap
    val committed = commitWithRetry(dst, dstTable, "clone") { a =>
      require(a.head.isEmpty, s"clone target '$dstTable' already exists")
      a.commit(
        Manifest(a.next, man.maxId, man.bucket, man.files.map(relToAbs),
          man.stats.map { case (r, st) => relToAbs(r) -> st },
          man.sizes.map { case (r, len) => relToAbs(r) -> len },
          man.nulls.map { case (r, n) => relToAbs(r) -> n },
          man.rows.map { case (r, n) => relToAbs(r) -> n },
          // the source's commit-carried metadata (recorded upsert keys
          // above all — the clone is byte-identical to a keyed table, so
          // CDC key-defaulting must keep working) PLUS clone provenance;
          // commit_ts re-stamps at the clone's own commit. LIVE equality
          // tombstones carry VERBATIM with their paths rebased absolute
          // (same shared files as the data; the source's vacuum protects
          // them through the clone marker like any referenced file) — a
          // WAP audit branch over a hot CDC table needs no compact
          rebaseEqProps(man.props, dataDir(src, srcTable)) ++
            Map("clone_src_dir" -> src.dir, "clone_src_table" -> srcTable,
              "clone_src_version" -> v.toString),
          // DV sidecars re-point by absolute path like the data files —
          // the clone reads the same live rows the source version did
          man.dvs.map { case (r, (p, n)) =>
            relToAbs(r) -> ((new Path(dataDir(src, srcTable), p).toString, n))
          }))
    }
    // register with the source so ITS vacuum protects the shared files;
    // written after the clone commit (a crashed clone leaves no marker —
    // nothing to protect; a crash between commit and marker loses
    // protection for this clone only, same as the pre-guard behavior).
    writeCloneMarker(src, srcTable, dst.dir, dstTable,
      what = s"clone '$dstTable'")
    committed
  }

  /** The clone-protection marker write, shared by [[cloneTable]] (clone
    * registers on its source) and [[fastForward]] (the published source
    * registers on its branch): one filename convention, one JSON shape,
    * one failure mode — BEST-EFFORT like writePointer: the commit it
    * protects is already durable, so an IOException warns instead of
    * failing the call (a retry would hit already-exists while the files
    * stayed unprotected). */
  private def writeCloneMarker(ownerCat: Catalog, ownerTable: String,
                               refDir: String, refTable: String,
                               what: String): Unit =
    try {
      val f = fs(ownerCat, metaDir(ownerCat, ownerTable))
      val marker = new Path(metaDir(ownerCat, ownerTable),
        s"clone-${java.util.UUID.randomUUID()}.json")
      val out = f.create(marker, false)
      try out.write(mapper.writeValueAsBytes {
        val o = mapper.createObjectNode()
        o.put("dir", refDir); o.put("table", refTable); o
      }) finally out.close()
    } catch {
      case e: java.io.IOException =>
        graft.GraftLog.warn(
          s"$what committed but its protection marker write on " +
            s"'$ownerTable' failed (${e.getMessage}); that table's vacuum " +
            "will NOT protect the shared files — re-create the marker or " +
            "vacuum with care")
    }

  /** FAST-FORWARD PUBLISH — the write-audit-publish (WAP) pattern over
    * zero-copy clones: stage writes on a CLONE (`clone` = the branch),
    * audit it, then publish by committing the branch's head state onto
    * the source as ONE metadata manifest (files referenced by absolute
    * path — no data read, copied, or rewritten; a 100 TB publish costs
    * one JSON commit). Git's fast-forward rule: the source must be
    * EXACTLY at the version the branch was cloned from — if it advanced,
    * the publish refuses (a silent overwrite would drop the concurrent
    * commits; re-clone and re-apply instead). After the publish the
    * source references the branch's data files, so the branch registers
    * the source as a live clone of ITSELF — branch vacuum protects the
    * shared files and a branch DROP refuses until the source rewrites
    * them away (the same ownership guard cloneTable established, run in
    * the other direction). History survives: the source's prior versions
    * still time-travel, and the id floor stays monotone (the branch's
    * ids descend from the shared clone-point floor). */
  def fastForward(tgt: Catalog, table: String,
                  branchCat: Catalog, branchTable: String): Long = {
    val bv = currentVersion(branchCat, branchTable).getOrElse(
      throw new IllegalArgumentException(
        s"branch table '$branchTable' not found"))
    val bman = readManifest(branchCat, branchTable, bv).get
    val srcDir = bman.props.get("clone_src_dir")
    val srcTable = bman.props.get("clone_src_table")
    val srcV = bman.props.get("clone_src_version").map(_.toLong)
    require(srcDir.map(new Path(_).toUri.getPath)
        .contains(new Path(tgt.dir).toUri.getPath) &&
        srcTable.contains(table) && srcV.isDefined,
      s"'$branchTable' is not a clone of '$table' — fast_forward " +
        "publishes a branch made with clone(source, branch, version)")
    def abs(rel: String): String =
      new Path(dataDir(branchCat, branchTable), rel).toString
    val committed = commitWithRetry(tgt, table, "fastForward") { a =>
      val cur = a.cur
      require(cur == srcV.get,
        s"cannot fast-forward '$table': it advanced to v$cur since the " +
          s"branch was cloned at v${srcV.get} — the branch's changes were " +
          "derived from a superseded state; re-clone and re-apply")
      // the target's id floor — monotone across the publish (the branch
      // grew above the shared clone-point floor, but take the max anyway)
      val floor = a.man.maxId
      a.commit(
        Manifest(a.next,
          (bman.maxId.toSeq ++ floor.toSeq).maxOption,
          bman.bucket,
          bman.files.map(abs),
          bman.stats.map { case (r, st) => abs(r) -> st },
          bman.sizes.map { case (r, len) => abs(r) -> len },
          bman.nulls.map { case (r, n) => abs(r) -> n },
          bman.rows.map { case (r, n) => abs(r) -> n },
          // the branch's props ARE the published truth (schema, mapping,
          // keys, constraints all descend from the clone point) — minus
          // its clone provenance: the target is not a clone. Live
          // tombstone paths rebase absolute under the BRANCH's data dir
          // (its own eq-upserts' key files live there; carried-absolute
          // entries pass through), so the published reads keep resolving
          rebaseEqProps(bman.props, dataDir(branchCat, branchTable))
            - "clone_src_dir" - "clone_src_table"
            - "clone_src_version",
          bman.dvs.map { case (r, (p, n)) => abs(r) -> ((abs(p), n)) }))
    }
    // the TARGET now references the branch's files — register it as a
    // live clone of the branch (the cloneTable marker, reverse
    // direction), so branch vacuum/DROP protect the shared files
    writeCloneMarker(branchCat, branchTable, tgt.dir, table,
      what = s"fast_forward of '$table'")
    committed
  }

  // -------------------------------------------------------------------- tags
  //
  // NAMED REFS: a tag is an immutable name → version pointer (Iceberg's
  // `create_tag` shape; Delta spells the same need as a user-managed
  // version note). One tiny JSON file per tag in the meta dir, created
  // with create-exclusive semantics so concurrent same-name creates
  // serialize through the filesystem — no manifest commit, O(1) on a
  // table of any size. Tags PIN retention: [[vacuum]] (and
  // `expire_snapshots`, which routes through it) keeps every version at
  // or after the oldest tagged one, so `VERSION AS OF 'v1_release'`
  // keeps answering until the tag is dropped. The retained set stays a
  // contiguous SUFFIX (the pointer/delta-chain invariant), so a tag on
  // v3 also retains v4+ — the cost of keeping the version list
  // probe-free; drop old tags to release history.

  private def tagPath(tgt: Catalog, table: String, name: String): Path =
    new Path(metaDir(tgt, table), s"tag-$name.json")

  /** ONE create-exclusive reservation file shared by BOTH ref kinds:
    * tags and branches share a namespace, but each kind's own marker
    * file made exclusivity check-then-act ACROSS kinds — a concurrent
    * `create_tag('x')` and `create_branch('x')` could each pass the
    * other kind's existence check and both succeed, leaving an
    * ambiguous ref (the tag silently shadowing the branch on every
    * resolution). Both creators now reserve `ref-<name>.json` FIRST
    * (create-exclusive, kind recorded inside); exactly one wins, and
    * the loser's error names the winning kind. The kind files stay the
    * resolution source of truth (legacy tables without reservation
    * markers keep resolving; their sequential cross-kind creates are
    * still caught by the pre-checks). */
  private def refMarkerPath(tgt: Catalog, table: String, name: String): Path =
    new Path(metaDir(tgt, table), s"ref-$name.json")

  private def reserveRef(tgt: Catalog, table: String, name: String,
                         kind: String): Unit = {
    val f = fs(tgt, metaDir(tgt, table))
    val p = refMarkerPath(tgt, table, name)
    val out = try f.create(p, false) catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.io.IOException if f.exists(p) =>
        val heldAs = scala.util.Try {
          val in = f.open(p)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          mapper.readTree(txt).get("kind").asText()
        }.getOrElse("ref")
        throw new IllegalArgumentException(
          s"'$name' is already reserved as a $heldAs on '$table' — tags " +
            "and branches share the ref namespace; drop it first " +
            "(a crashed create leaves a stale reservation: " +
            s"drop_$heldAs('$name', ifExists) sweeps it)")
    }
    try out.write(mapper.writeValueAsBytes {
      val o = mapper.createObjectNode()
      o.put("kind", kind)
      o.put("created_at", System.currentTimeMillis())
      o
    }) finally out.close()
  }

  /** Release `name`'s reservation (ref drop / failed create rollback);
    * best-effort — a missing marker (legacy ref) is fine. */
  private def releaseRef(tgt: Catalog, table: String, name: String): Unit =
    try {
      val f = fs(tgt, metaDir(tgt, table))
      val p = refMarkerPath(tgt, table, name)
      if (f.exists(p)) { f.delete(p, false); () }
    } catch { case _: java.io.IOException => () }

  /** [[releaseRef]] restricted to markers of `kind` — the DROP surfaces'
    * release: dropTag must never delete a reservation a concurrent
    * create_branch just took (and vice versa), so the release
    * check-then-act is scoped to the dropper's own ref kind. A marker
    * whose kind cannot be read (torn write) still releases — corrupt
    * reservations must stay sweepable. Residual same-kind window
    * (dropTag(ifExists) sweeping a stale tag marker while another
    * create_tag is mid-create): best-effort by design — the loser's tag
    * file still lands and holds the name via create-exclusivity; only
    * its marker is gone (the tolerated "legacy tag" shape). */
  private def releaseRefOfKind(tgt: Catalog, table: String, name: String,
                               kind: String): Unit =
    try {
      val f = fs(tgt, metaDir(tgt, table))
      val p = refMarkerPath(tgt, table, name)
      if (f.exists(p)) {
        val heldAs = scala.util.Try {
          val in = f.open(p)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          mapper.readTree(txt).get("kind").asText()
        }.toOption
        if (heldAs.forall(_ == kind)) { f.delete(p, false); () }
      }
    } catch { case _: java.io.IOException => () }

  /** Tag names: identifier-shaped, never digit-led — a name that could
    * parse as a VERSION AS OF number would be ambiguous in every
    * resolution surface. */
  private def validTagName(name: String): Unit =
    require(name.matches("[A-Za-z_][A-Za-z0-9_.-]*"),
      s"invalid tag name '$name' — use [A-Za-z_][A-Za-z0-9_.-]* " +
        "(digit-led names would collide with version numbers)")

  /** Create tag `name` → version `v` (must be a retained version). Tags
    * are IMMUTABLE: re-pointing is drop + create, so a reader holding a
    * tag name can never silently see a different state. */
  def createTag(tgt: Catalog, table: String, name: String, v: Long): Unit = {
    validTagName(name)
    require(versions(tgt, table).contains(v),
      s"table '$table' has no retained version $v to tag")
    require(branchTableOf(tgt, table, name).isEmpty,
      s"'$name' is already a branch on '$table' — tags and branches " +
        "share the ref namespace")
    val f = fs(tgt, metaDir(tgt, table))
    val p = tagPath(tgt, table, name)
    // sequential duplicate first, for the precise message (the ref
    // reservation below would otherwise report it as "reserved")
    require(!f.exists(p),
      s"tag '$name' already exists on '$table' — tags are immutable " +
        "refs; drop it first to re-point")
    // reserve the name across BOTH ref kinds (see refMarkerPath): the
    // pre-checks catch sequential collisions with a clear message; the
    // reservation closes the concurrent create_tag/create_branch window
    reserveRef(tgt, table, name, "tag")
    // CREATE-EXCLUSIVE: the final file opens with overwrite=false, so
    // two concurrent create_tag('x') calls — even pointing at DIFFERENT
    // versions — cannot end in a silent last-writer-wins (an
    // exists-then-rename pair would: Hadoop rename overwrites on POSIX
    // local filesystems). Exactly one creator wins; the loser gets the
    // immutability error. Crash-safety needs no tmp+rename here: the
    // tolerant tags() reader skips a torn file with a warning, so the
    // worst a mid-write crash leaves is a droppable damaged tag — never
    // a bricked listing. NOTE the create/vacuum race is the clone
    // marker's documented class: a tag created while a vacuum is mid-
    // flight may miss that vacuum's pin pass — create tags before
    // retention maintenance, not during.
    val out = try f.create(p, false) catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.io.IOException if f.exists(p) =>
        // a LEGACY tag (created before reservation markers) holds the
        // name without one — release the reservation we just took
        releaseRef(tgt, table, name)
        throw new IllegalArgumentException(
          s"tag '$name' already exists on '$table' — tags are immutable " +
            "refs; drop it first to re-point")
    }
    try out.write(mapper.writeValueAsBytes {
      val o = mapper.createObjectNode()
      o.put("version", v)
      o.put("created_at", System.currentTimeMillis())
      o
    }) catch {
      case e: Throwable => releaseRef(tgt, table, name); throw e
    } finally out.close()
  }

  /** Drop tag `name`; false when absent (with `ifExists`), error without. */
  def dropTag(tgt: Catalog, table: String, name: String,
              ifExists: Boolean = false): Boolean = {
    validTagName(name)
    val f = fs(tgt, metaDir(tgt, table))
    val p = tagPath(tgt, table, name)
    // the reservation releases only when no ref of EITHER kind still
    // holds the name (a branch's reservation must survive a tag drop)
    def releaseIfFree(): Unit =
      if (branchTableOf(tgt, table, name).isEmpty)
        // kind-scoped: a reservation a concurrent create_branch took
        // between the check above and this delete is NOT ours to release
        releaseRefOfKind(tgt, table, name, "tag")
    if (f.exists(p)) {
      val r = f.delete(p, false)
      releaseIfFree()
      r
    } else if (ifExists) {
      // sweep a stale reservation (crashed create: marker written, tag
      // file never landed) so the name becomes creatable again
      releaseIfFree()
      false
    } else throw new IllegalArgumentException(
      s"table '$table' has no tag '$name'")
  }

  /** All tags of `table`: (name, version, created_at millis), name-sorted.
    * Driver-side listing of the meta dir — O(tags), no data I/O. */
  def tags(tgt: Catalog, table: String): Seq[(String, Long, Long)] = {
    val f = fs(tgt, metaDir(tgt, table))
    val md = new Path(metaDir(tgt, table))
    if (!f.exists(md)) Nil
    else f.listStatus(md).toSeq
      .filter(st => st.getPath.getName.startsWith("tag-") &&
        st.getPath.getName.endsWith(".json"))
      .flatMap { st =>
        val name = st.getPath.getName
          .stripPrefix("tag-").stripSuffix(".json")
        // a damaged tag file (manual surgery, torn pre-rename writer)
        // must not brick listings — and through them every VACUUM.
        // Warn and skip: resolution by the name then fails with "no
        // tag", guiding a drop + re-create.
        scala.util.Try {
          val in = f.open(st.getPath)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val o = mapper.readTree(txt)
          (name, o.get("version").asLong(),
            Option(o.get("created_at")).map(_.asLong()).getOrElse(0L))
        }.toOption.orElse {
          graft.GraftLog.warn(
            s"unreadable tag file '${st.getPath.getName}' on '$table' — " +
              "skipping it (drop_tag and re-create to repair)")
          None
        }
      }.sortBy(_._1)
  }

  /** The version tag `name` points at, when the tag exists (a damaged
    * tag file reads as missing — same tolerance as [[tags]]). */
  def tagVersion(tgt: Catalog, table: String, name: String): Option[Long] = {
    val f = fs(tgt, metaDir(tgt, table))
    val p = tagPath(tgt, table, name)
    if (!f.exists(p)) None
    else scala.util.Try {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      mapper.readTree(txt).get("version").asLong()
    }.toOption
  }

  /** Resolve a VERSION AS OF ref: a number is a version, anything else a
    * tag — the shared resolution of the SQL time-travel path and the
    * reader option, so the two surfaces can never diverge. (BRANCH refs
    * resolve one level up, at the table-loading surfaces — a branch
    * names a different table, not a version of this one.) */
  def resolveVersionRef(tgt: Catalog, table: String, ref: String): Long = {
    val s = ref.trim
    if (s.matches("[+-]?\\d+")) s.toLong
    else tagVersion(tgt, table, s).getOrElse(
      throw new IllegalArgumentException(
        s"table '$table' has no tag or branch '$s' — tags: " +
          s"${tags(tgt, table).map(_._1).mkString(", ")}; branches: " +
          s"${branches(tgt, table).map(_._1).mkString(", ")}"))
  }

  // --------------------------------------------------------------- branches
  //
  // NAMED BRANCHES: ergonomic sugar over the clone + fast_forward
  // write-audit-publish pattern (F70). `create_branch('t', 'dev')`
  // zero-copy-clones t's head into an engine-named table and records a
  // branch marker; `VERSION AS OF 'dev'` (both surfaces) then reads the
  // BRANCH's head, writes target the branch table directly, and
  // `fast_forward('t', 'dev')` publishes — one name through the whole
  // cycle. A branch is exactly a clone: the existing clone markers
  // protect the shared files from vacuum/DROP, and the fast-forward
  // provenance rule still refuses a stale publish. Markers share the
  // tag namespace (a ref must resolve unambiguously), one O(1) JSON
  // file each, create-exclusive like tags.

  private def branchPath(tgt: Catalog, table: String, name: String): Path =
    new Path(metaDir(tgt, table), s"branch-$name.json")

  /** The engine-owned table a branch materializes as. */
  private[graft] def branchTableName(table: String, name: String): String =
    s"${table}__branch_$name"

  /** Create branch `name` from `table`'s head: reserve the name
    * (create-exclusive marker), then zero-copy clone. Returns the
    * branch's table name — write to it directly, publish with
    * `fast_forward(table, name)`. */
  def createBranch(tgt: Catalog, table: String, name: String): String = {
    validTagName(name)
    require(tagVersion(tgt, table, name).isEmpty,
      s"'$name' is already a tag on '$table' — tags and branches share " +
        "the ref namespace")
    val v = headVersion(tgt, table)
    val bt = branchTableName(table, name)
    val f = fs(tgt, metaDir(tgt, table))
    val p = branchPath(tgt, table, name)
    // sequential duplicate first, for the precise message
    require(!f.exists(p),
      s"branch '$name' already exists on '$table' — drop_branch first")
    // reserve the name across BOTH ref kinds (see refMarkerPath) — the
    // kind pre-checks are check-then-act; the reservation closes the
    // concurrent create_tag/create_branch window
    reserveRef(tgt, table, name, "branch")
    // the kind marker next (create-exclusive — concurrent same-name
    // branch creates serialize through the filesystem like tags)
    val out = try f.create(p, false) catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.io.IOException if f.exists(p) =>
        releaseRef(tgt, table, name) // legacy branch holds it markerless
        throw new IllegalArgumentException(
          s"branch '$name' already exists on '$table' — drop_branch first")
    }
    try {
      try out.write(mapper.writeValueAsBytes {
        val o = mapper.createObjectNode()
        o.put("table", bt)
        o.put("from_version", v)
        o.put("created_at", System.currentTimeMillis())
        o
      }) finally out.close()
      cloneTable(tgt, table, tgt, bt, v); ()
    } catch { case e: Throwable =>
      f.delete(p, false)
      releaseRef(tgt, table, name)
      throw e
    }
    bt
  }

  /** The branch's table name, when branch `name` exists (damaged marker
    * reads as missing — the tags tolerance). */
  def branchTableOf(tgt: Catalog, table: String, name: String): Option[String] = {
    if (!name.matches("[A-Za-z_][A-Za-z0-9_.-]*")) return None
    val f = fs(tgt, metaDir(tgt, table))
    val p = branchPath(tgt, table, name)
    if (!f.exists(p)) None
    else scala.util.Try {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      mapper.readTree(txt).get("table").asText()
    }.toOption
  }

  /** All branches of `table`: (name, branchTable, created_at millis). */
  def branches(tgt: Catalog, table: String): Seq[(String, String, Long)] = {
    val f = fs(tgt, metaDir(tgt, table))
    val md = new Path(metaDir(tgt, table))
    if (!f.exists(md)) Nil
    else f.listStatus(md).toSeq
      .filter(st => st.getPath.getName.startsWith("branch-") &&
        st.getPath.getName.endsWith(".json"))
      .flatMap { st =>
        val name = st.getPath.getName
          .stripPrefix("branch-").stripSuffix(".json")
        scala.util.Try {
          val in = f.open(st.getPath)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val o = mapper.readTree(txt)
          (name, o.get("table").asText(),
            Option(o.get("created_at")).map(_.asLong()).getOrElse(0L))
        }.toOption.orElse {
          graft.GraftLog.warn(
            s"unreadable branch marker '${st.getPath.getName}' on " +
              s"'$table' — skipping (drop_branch and re-create to repair)")
          None
        }
      }.sortBy(_._1)
  }

  /** Drop branch `name`'s MARKER — the ref disappears; the branch's
    * table (and its data) remains an ordinary table until dropped
    * itself, still clone-protected against vacuum of the shared files.
    * False when absent (with `ifExists`), error without. */
  def dropBranch(tgt: Catalog, table: String, name: String,
                 ifExists: Boolean = false): Boolean = {
    validTagName(name)
    val f = fs(tgt, metaDir(tgt, table))
    val p = branchPath(tgt, table, name)
    // mirror of dropTag: release the shared reservation only when no
    // ref of either kind still holds the name — and kind-scoped, so a
    // reservation a concurrent create_tag just took is never deleted
    def releaseIfFree(): Unit =
      if (tagVersion(tgt, table, name).isEmpty)
        releaseRefOfKind(tgt, table, name, "branch")
    if (f.exists(p)) {
      val r = f.delete(p, false)
      releaseIfFree()
      r
    } else if (ifExists) {
      releaseIfFree()
      false
    } else throw new IllegalArgumentException(
      s"table '$table' has no branch '$name'")
  }

  // ------------------------------------------------------------------- reads

  /** Absolute data-file paths version `v` references (audit/spec surface:
    * an append's manifest is a superset of its parent's — files shared, not
    * rewritten). */
  def files(tgt: Catalog, table: String, v: Long): Seq[String] =
    manifestFiles(tgt, table, v)

  /** Read the latest version. */
  def read(tgt: Catalog, table: String): DataFrame =
    readVersion(tgt, table, headVersion(tgt, table))

  /** Time travel: materialize exactly the files version `v` committed.
    * (Bucket dirs are physical layout — an explicit-file-list read never
    * surfaces a partition column, so the schema is the data schema.)
    * TIMESTAMP_NTZ columns (foreign parquet loaded into a versioned
    * table and carried through verbatim) normalize to session-zone
    * timestamps at this read boundary, the same rule as
    * [[graft.sources.ParquetSource.read]] — graft sessions run UTC, so
    * the cast is lossless and every event-time projection downstream
    * keeps working. */
  def readVersion(tgt: Catalog, table: String, v: Long): DataFrame = {
    val man = readManifest(tgt, table, v).getOrElse(
      throw new IllegalArgumentException(s"table '$table' has no version $v"))
    require(man.files.nonEmpty, s"version $v of '$table' lists no files")
    // equality tombstones (if any) wrap the whole composition: stamp
    // groups anti-join their applicable tombstones; within a group,
    // DV'd files filter their deleted positions (merge-on-read) and
    // clean files take the plain zone-map scan. Compaction materializes
    // DVs and restores the single-scan plan.
    readRelsEq(tgt, table, man, man.files,
      readRelsWithDvNoEq(tgt, table, man, _))
  }

  /** The read schema of `rels` of `man`: the caller's explicit schema,
    * else the manifest-recorded one (metadata widenings never rewrote
    * the files, and a mixed-era file list must not take its shape from
    * whichever footer the reader samples), else — legacy manifests
    * only — the first file's footer. */
  private def scanSchema(tgt: Catalog, table: String, man: Manifest,
                         rels: Seq[String],
                         schema: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.types.StructType =
    schema.orElse(recordedSchema(man)).getOrElse {
      tgt.spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      tgt.spark.read.parquet(
        new Path(dataDir(tgt, table), rels.head).toString).schema
    }

  /** The scan of `rels` of `man` under `schema`, planned from the
    * manifest alone: file statuses come from the recorded byte sizes, so
    * there is no per-file status RPC and no listing job however many
    * files it reads (pre-sizes manifests fall back to one status call
    * per missing file). The frame carries PHYSICAL names on a
    * column-mapped table — callers take `_metadata` columns off it
    * before [[logicalView]] renames.
    *
    * PLANNING-TIME zone maps: the scan is built over a custom FileIndex,
    * so whatever filter Catalyst later pushes down — `.where`, SQL over a
    * registered view, a join's pushed predicate, the incremental
    * watermark — skips excluded files at listFiles time with no graft
    * API involvement ([[readWhere]] remains the eager twin for probes and
    * explicit predicates). */
  private def scanRaw(tgt: Catalog, table: String, man: Manifest,
                      rels: Seq[String],
                      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val physOf = physOfMan(man)
    val fsys = fs(tgt, dataDir(tgt, table))
    val abs = rels.map(r => new Path(dataDir(tgt, table), r))
    val statuses = rels.zip(abs).map { case (rel, a) =>
      man.sizes.get(rel) match {
        case Some(len) => new org.apache.hadoop.fs.FileStatus(
          len, false, 1, 128L * 1024 * 1024, 0L, fsys.makeQualified(a))
        case None => fsys.getFileStatus(a)
      }
    }
    val relByAbs = rels.zip(abs).map { case (rel, a) => a.toUri.getPath -> rel }.toMap
    // COLUMN MAPPING: the scan reads PHYSICAL names (the logical
    // rename is an alias projection on top), so predicates Catalyst
    // pushes to the FileIndex arrive physical-named — translate each
    // leaf back before consulting the LOGICAL manifest stats. The
    // translation is constant per predicate but the closure runs per
    // FILE — memoized like bucketsFor below, so a 100k-file listing
    // rebuilds the tree once, not 100k times.
    val toLogical = org.apache.spark.sql.graft.ColumnMapping.reverse(physOf)
    val predCache =
      new java.util.concurrent.ConcurrentHashMap[ZonePred.P, ZonePred.P]()
    // bucketsFor is constant per predicate but the closure runs per
    // FILE — memoize by tree (value equality) so a 100k-file listing
    // hashes the key once, not 100k times
    val bucketCache =
      new java.util.concurrent.ConcurrentHashMap[ZonePred.P, Option[Set[Int]]]()
    val admits = (absPath: String, p0: ZonePred.P) =>
      relByAbs.get(absPath) match {
        case None => true
        case Some(rel) =>
          val p =
            if (toLogical.isEmpty) p0
            else predCache.computeIfAbsent(p0,
              org.apache.spark.sql.graft.ColumnMapping.mapZonePred(_, toLogical))
          bucketCache.computeIfAbsent(p, bucketsFor(man, _)).forall(ks =>
            bucketOfRel(rel).forall(ks.contains)) &&
            fileAdmits(man, rel, p)
      }
    tgt.spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    org.apache.spark.sql.graft.ZoneMapRead.dataFrame(tgt.spark, statuses,
      org.apache.spark.sql.graft.ColumnMapping.physSchema(schema, physOf),
      admits)
  }

  /** A [[scanRaw]] frame under its logical names (`names`: the scan
    * schema's, plus any columns the caller appended to the raw frame),
    * TIMESTAMP_NTZ columns normalized to session-zone timestamps. */
  private def logicalView(raw: DataFrame, names: Seq[String],
                          physOf: Map[String, String]): DataFrame =
    ntzToTimestamp(
      if (physOf.isEmpty) raw
      else org.apache.spark.sql.graft.ColumnMapping.toLogicalNames(raw, names))

  /** The DV-free read core: `rels` of `man` through the zone-map scan,
    * under `schema` (default: [[scanSchema]]'s). */
  private def readVersionClean(tgt: Catalog, table: String, man: Manifest,
                               rels: Seq[String],
                               schema: Option[org.apache.spark.sql.types.StructType]
                                 = None): DataFrame = {
    val sch = scanSchema(tgt, table, man, rels, schema)
    logicalView(scanRaw(tgt, table, man, rels, sch), sch.fieldNames.toSeq,
      physOfMan(man))
  }

  /** `rels` of `man` with each row's identity: the logical data columns
    * plus `__graft_fp` (file path) and `__graft_ri` (row position). The
    * `_metadata` extraction happens on the RAW (physical-named) frame —
    * the logical rename is a projection that would hide the metadata
    * column, so it comes last. */
  private def scanWithIdentity(tgt: Catalog, table: String, man: Manifest,
                               rels: Seq[String],
                               schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    logicalView(scanRaw(tgt, table, man, rels, schema)
      .withColumn("__graft_fp", col("_metadata.file_path"))
      .withColumn("__graft_ri", col("_metadata.row_index")),
      schema.fieldNames.toSeq ++ Seq("__graft_fp", "__graft_ri"),
      physOfMan(man))

  /** DESCRIBE HISTORY: one row per retained version, from PURE METADATA
    * (manifests + their commit mtimes — no data I/O): version,
    * committed_at, n_files, total_bytes, total_rows, max_id, bucketed,
    * live_eq_tombstones, eq_tombstone_keys (recorded key total; null
    * when any live tombstone predates count recording).
    * total_bytes/total_rows are null when any of the version's files
    * predates size/row recording (older writers) — absent, not wrong.
    * Driver-side tiny frame, vacuum-bounded. The audit surface a lake
    * operator reads before rollback/vacuum decisions. */
  def history(tgt: Catalog, table: String): DataFrame = {
    val rows = versions(tgt, table).map { v =>
      val man = readManifest(tgt, table, v).get
      // manifest-recorded commit time first (survives mtime-scrambling
      // copies), mtime for legacy manifests — same rule as versionAt
      val ts = new java.sql.Timestamp(man.props.get(CommitTsProp)
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(artifactMtime(tgt, table, v)))
      def total(m: Map[String, Long]): Option[Long] =
        if (man.files.forall(m.contains)) Some(man.files.map(m).sum) else None
      // live-tombstone accretion per version (count + recorded keys) —
      // the operator reads it here before deciding to compact
      val ts2 = eqTombstonesOf(man.props)
      val eqKeys =
        if (ts2.isEmpty || ts2.exists(_.rows.isEmpty)) None
        else Some(ts2.flatMap(_.rows).sum)
      (v, ts, man.props.get(OperationProp).orNull, man.files.size,
        total(man.sizes).map(java.lang.Long.valueOf).orNull,
        total(man.rows).map(java.lang.Long.valueOf).orNull,
        man.maxId.map(java.lang.Long.valueOf).orNull,
        man.bucket.isDefined,
        ts2.size,
        eqKeys.map(java.lang.Long.valueOf).orNull)
    }
    import tgt.spark.implicits._
    rows.toDF("version", "committed_at", "operation", "n_files",
      "total_bytes", "total_rows", "max_id", "bucketed",
      "live_eq_tombstones", "eq_tombstone_keys")
  }

  /** The DV entries that survive when exactly `keep` files carry forward
    * (a rewritten/dropped file's DV dies with it). */
  private def dvCarry(parent: Option[Manifest],
                      keep: Seq[String]): Map[String, (String, Long)] = {
    val k = keep.toSet
    parent.fold(Map.empty[String, (String, Long)])(_.dvs.filter(kv => k(kv._1)))
  }

  /** Read `rels` of `man`, APPLYING their deletion vectors: clean files
    * take the plain zone-map scan untouched; DV'd files read with the
    * `_metadata.row_index` column and drop their DV positions through an
    * executor-side sorted-array probe (exact under row-group skipping —
    * the reader stamps true file positions). Every internal rewrite path
    * (delete, deleteKeys, compact, scoped upsert) funnels through here
    * so a rewrite can never resurrect a DV-deleted row. */
  private def readRelsWithDv(tgt: Catalog, table: String, man: Manifest,
                             rels: Seq[String],
                             schema: Option[org.apache.spark.sql.types.StructType]
                               = None): DataFrame =
    readRelsEq(tgt, table, man, rels,
      g => readRelsWithDvNoEq(tgt, table, man, g, schema))

  private def readRelsWithDvNoEq(tgt: Catalog, table: String, man: Manifest,
                                 rels: Seq[String],
                                 schema: Option[org.apache.spark.sql.types.StructType]
                                   = None): DataFrame =
    readRelsApplyingSidecars(tgt, table, man, rels,
      man.dvs.map { case (r, (sidecar, _)) => r -> sidecar }, schema)

  // ----------------------------------------------------- equality tombstones
  //
  // WRITE-WITHOUT-READ keyed upsert (the Iceberg equality-delete shape):
  // an [[upsertEqualityDelete]] batch commits its data files PLUS a
  // small key-tombstone file — "rows with these keys in any OLDER file
  // are deleted" — without reading the target at all, so continuous CDC
  // ingest is O(batch) per trigger instead of O(batch × target-probe).
  // Tombstones resolve at READ (an anti-join over the older files'
  // stamp groups) and MATERIALIZE at compaction (rewritten files are
  // born past every tombstone; fully-covered tombstones drop).
  //
  // Applicability is tracked through per-file SEQUENCE STAMPS carried in
  // the manifest props: a tombstone with seq = its commit version
  // applies to rows of files whose stamp is STRICTLY LOWER; files
  // without a stamp are "newer than every tombstone" (∞). Each
  // tombstone commit stamps its parent's unstamped files with
  // (commitVersion - 1) — any file unstamped at that moment was added
  // after the previous tombstone, so the older tombstones correctly
  // don't apply — and its own data files with commitVersion. Everything
  // lives in props, so every commit path carries the state atomically.

  /** One committed tombstone: `files` hold the batch's DISTINCT key
    * tuples under their logical names (parquet bytes with an `.eqdel`
    * extension so the data-file sweeps never touch them). `rows`/`bytes`
    * record the key count and file size AT WRITE TIME (footer/status
    * metadata, known for free) so scan planning and the observability
    * surfaces can reason about accretion without opening a key file;
    * absent on tombstones committed by earlier versions of the layer. */
  /** `uniq`: whether this tombstone provably kills AT MOST ONE row per
    * recorded key — true only when the staged batch was internally
    * key-distinct (staged row count == recorded key count, both
    * manifest metadata) AND the parent's live rows were key-unique
    * ([[EqLiveUniqueProp]] held at commit). The LIMIT/top-N truncation
    * pad (kept live rows ≥ kept recorded − total keys) is sound only
    * when EVERY live tombstone carries `uniq = true`: an equality key
    * deletes ALL matching rows, so with duplicates one key's recorded
    * over-count can exceed the pad and a pushed limit would silently
    * short-read. `None` (pre-flag manifests) reads as not-provably-
    * unique — truncation stands down, never answers wrong. */
  private[etl] final case class EqTombstone(files: Seq[String], seq: Long,
                                            keys: Seq[String],
                                            rows: Option[Long] = None,
                                            bytes: Option[Long] = None,
                                            uniq: Option[Boolean] = None)

  private[graft] val EqDelProp = "eq_tombstones"
  private[graft] val EqSeqProp = "eq_seqs"

  /** `eq.live_unique`: present (value = the lowercase-sorted key csv)
    * only while the table's LIVE rows are provably key-unique on those
    * columns — the induction the tombstone `uniq` flags build on. Set
    * by a verified keyed first load and re-established by each
    * key-distinct equality upsert; CLEARED by every write path that
    * could introduce a duplicate key (plain/CoW loads, MOR upserts,
    * row-level UPDATE/MERGE, replace) — deletes, compaction,
    * reclustering, and metadata-only commits preserve it. Engine-owned
    * ([[isReservedProp]]): user TBLPROPERTIES cannot forge it. */
  private[graft] val EqLiveUniqueProp = "eq.live_unique"

  /** Canonical [[EqLiveUniqueProp]] value for `keys`. */
  private def eqUniqueKeyCsv(keys: Seq[String]): String =
    keys.map(_.toLowerCase).sorted.mkString(",")

  private[etl] def eqTombstonesOf(props: Map[String, String]): Seq[EqTombstone] =
    props.get(EqDelProp).toSeq.flatMap { j =>
      val root = mapper.readTree(j)
      (0 until root.size).map { i =>
        val o = root.get(i)
        EqTombstone(
          (0 until o.get("files").size).map(o.get("files").get(_).asText()),
          o.get("seq").asLong(),
          (0 until o.get("keys").size).map(o.get("keys").get(_).asText()),
          Option(o.get("rows")).map(_.asLong()),
          Option(o.get("bytes")).map(_.asLong()),
          Option(o.get("uniq")).map(_.asBoolean()))
      }
    }

  private def eqSeqsOf(props: Map[String, String]): Map[String, Long] =
    props.get(EqSeqProp).fold(Map.empty[String, Long]) { j =>
      val root = mapper.readTree(j)
      val it = root.fieldNames()
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val k = it.next(); b += k -> root.get(k).asLong() }
      b.result()
    }

  private def renderEqTombstones(ts: Seq[EqTombstone]): String = {
    val arr = mapper.createArrayNode()
    ts.sortBy(_.seq).foreach { t =>
      val o = arr.addObject()
      val fs = o.putArray("files"); t.files.foreach(fs.add)
      o.put("seq", t.seq)
      val ks = o.putArray("keys"); t.keys.foreach(ks.add)
      t.rows.foreach(o.put("rows", _))
      t.bytes.foreach(o.put("bytes", _))
      t.uniq.foreach(o.put("uniq", _))
    }
    mapper.writeValueAsString(arr)
  }

  private def renderEqSeqs(m: Map[String, Long]): String = {
    val o = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    mapper.writeValueAsString(o)
  }

  /** Whether `props` carry live (unmaterialized) equality tombstones —
    * the gate the CDC/clone/rename surfaces refuse on. */
  private[graft] def hasEqTombstones(props: Map[String, String]): Boolean =
    eqTombstonesOf(props).nonEmpty

  /** WARN when the live tombstones' recorded key counts exceed the
    * budget ([[EqKeyBudgetProp]]) — called from scan planning and the
    * post-commit check, the two places an operator watches. */
  private def warnEqKeyBudget(table: String, props: Map[String, String]): Unit = {
    val ts = eqTombstonesOf(props)
    if (ts.isEmpty) return
    val budget = props.get(EqKeyBudgetProp)
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(DefaultEqKeyBudget)
    val total = ts.flatMap(_.rows).sum
    val uncounted = ts.count(_.rows.isEmpty)
    if (total > budget)
      graft.GraftLog.warn(
        s"'$table' carries ${ts.size} live equality tombstones totaling " +
          s"$total recorded keys (> eq.key_budget $budget" +
          (if (uncounted > 0) s"; $uncounted more without recorded counts"
           else "") +
          ") — every scan loads these key sets per executor; run compact " +
          "(or set compact.trigger.eq_tombstones) to materialize, or " +
          "raise eq.key_budget")
  }

  /** Live-tombstone OBSERVABILITY summary of version `v`: (live
    * tombstone count, distinct key columns, total recorded keys, total
    * recorded bytes) — what `DESCRIBE EXTENDED` and `CALL history`
    * surface so an operator can SEE the accretion the compaction
    * triggers bound. Key/byte totals sum the write-time recorded
    * counts; `None` when any live tombstone predates count recording. */
  def eqTombstoneSummary(tgt: Catalog, table: String, v: Long)
      : (Int, Seq[String], Option[Long], Option[Long]) =
    readManifest(tgt, table, v).fold(
      (0, Seq.empty[String], Option.empty[Long], Option.empty[Long])) { m =>
      val ts = eqTombstonesOf(m.props)
      def total(of: EqTombstone => Option[Long]): Option[Long] = {
        val xs = ts.map(of)
        if (ts.isEmpty || xs.exists(_.isEmpty)) None else Some(xs.flatten.sum)
      }
      (ts.size, ts.flatMap(_.keys).distinct, total(_.rows), total(_.bytes))
    }

  /** The SQL scan's LIMIT/top-N truncation state at version `v`:
    * `(key columns, pad)`. The pad — total recorded tombstone keys, the
    * amount recorded row counts can over-count live rows by — is `Some`
    * ONLY when every live tombstone both records a key count and is
    * flagged `uniq` (kills ≤ 1 row per key, see [[EqTombstone]]): a
    * duplicate-keyed table's tombstone can kill arbitrarily many rows
    * per key, so there the truncations must stand down entirely.
    * `Some(0)` with no live tombstones: truncate freely. */
  def eqTruncationState(tgt: Catalog, table: String, v: Long)
      : (Seq[String], Option[Long]) =
    readManifest(tgt, table, v).fold(
      (Seq.empty[String], Option.empty[Long])) { m =>
      val ts = eqTombstonesOf(m.props)
      val pad =
        if (ts.isEmpty) Some(0L)
        else if (ts.forall(t => t.rows.isDefined && t.uniq.contains(true)))
          Some(ts.flatMap(_.rows).sum)
        else None
      (ts.flatMap(_.keys).distinct, pad)
    }

  /** Distinct key columns of version `v`'s live tombstones (lowercase) —
    * what the SQL scan keeps through pruning. Empty almost always. */
  private[graft] def eqTombstoneKeyCols(tgt: Catalog, table: String,
                                        v: Long): Seq[String] =
    readManifest(tgt, table, v).toSeq
      .flatMap(m => eqTombstonesOf(m.props).flatMap(_.keys)).distinct

  /** Version `v`'s equality-delete state for the SQL scan:
    * `(entries = (keys, seq, absTombstoneFiles)*, stampsByAbsDataPath)`.
    * `(Nil, empty)` when no tombstones are live. */
  private[graft] def eqDeleteState(tgt: Catalog, table: String, v: Long)
      : (Seq[(Seq[String], Long, Seq[String])], Map[String, Long]) =
    readManifest(tgt, table, v).fold(
      (Seq.empty[(Seq[String], Long, Seq[String])], Map.empty[String, Long])) { m =>
      val ts = eqTombstonesOf(m.props)
      if (ts.isEmpty) (Nil, Map.empty)
      else {
        warnEqKeyBudget(table, m.props)
        (
        ts.map(t => (t.keys, t.seq,
          t.files.map(r => new Path(dataDir(tgt, table), r).toString))),
        eqSeqsOf(m.props).map { case (r, s) =>
          new Path(dataDir(tgt, table), r).toString -> s
        })
      }
    }

  /** SHARED files a version diff must re-examine because their
    * APPLICABLE tombstone sets differ between the two manifests: an
    * eq-upsert between the versions deleted rows from files it never
    * touched, so a file-set diff alone would miss those deletes. The
    * candidate set is zone-pruned by the DELTA tombstones' key
    * envelopes (read from the key files' own parquet footers — driver
    * metadata, O(delta tombstones) tiny footer passes): a
    * time-correlated CDC batch re-examines the files near its key
    * range, not the table. Any missing stat, foreign domain, or footer
    * failure keeps the file — pruning is one-sided. */
  private def eqChangedShared(tgt: Catalog, table: String,
                              manA: Manifest, manB: Manifest,
                              shared: Seq[String]): Seq[String] = {
    val eqA = eqTombstonesOf(manA.props)
    val eqB = eqTombstonesOf(manB.props)
    if ((eqA.isEmpty && eqB.isEmpty) || shared.isEmpty) return Nil
    val stA = eqSeqsOf(manA.props)
    val stB = eqSeqsOf(manB.props)
    def ident(t: EqTombstone) = (t.seq, t.keys, t.files)
    // envelope per delta tombstone, memoized: col -> (tag, lo, hi) in
    // the SAME footer-stat encoding as the manifest zone maps
    val envCache = scala.collection.mutable.Map
      .empty[(Long, Seq[String], Seq[String]),
             Option[Map[String, (String, String, String)]]]
    def envOf(t: EqTombstone): Option[Map[String, (String, String, String)]] =
      envCache.getOrElseUpdate(ident(t), scala.util.Try {
        val abs = t.files.map(r => new Path(dataDir(tgt, table), r).toString)
        val meta = graft.sources.ParquetSource
          .footerFileMeta(tgt.spark, abs, t.keys)
        val perFile = meta.map { case (f, (_, ranges, _)) => f -> ranges }
        val merged = t.keys.flatMap { k =>
          // NULL-AWARE: footer ranges exclude nulls, but the read path
          // applies tombstones null-safely (<=> joins / null-matching
          // probes) — a null key tuple matches null-keyed data rows in
          // ANY file, so a key column whose tombstone files record any
          // nulls (or an unknown count) must not participate in pruning
          // (the per-column drop keeps the other, null-free key columns
          // pruning; the data-file side needs no twin check — a
          // null-free tombstone column only matches non-null data rows,
          // which the file's min/max stats do cover)
          val nullFree = abs.forall(f => meta.get(f)
            .flatMap(_._3.find(_._1.equalsIgnoreCase(k)).map(_._2))
            .contains(0L))
          val ranges = abs.map(f => perFile.getOrElse(f, Map.empty)
            .find(_._1.equalsIgnoreCase(k)).map(_._2))
          if (!nullFree || ranges.exists(_.isEmpty)) None
          else {
            val rs = ranges.flatten
            val tags = rs.map(_._1).distinct
            if (tags.size != 1) None
            else {
              val parsed = rs.map { case (tag, lo, hi) => parseBounds(tag, lo, hi) }
              if (parsed.exists(_.isEmpty)) None
              else {
                val ps = parsed.flatten
                val lo = rs.map(_._2).zip(ps.map(_._1))
                  .reduceLeft((a, b) => if (leOrd(a._2, b._2)) a else b)._1
                val hi = rs.map(_._3).zip(ps.map(_._2))
                  .reduceLeft((a, b) => if (leOrd(a._2, b._2)) b else a)._1
                Some(k -> ((tags.head, lo, hi)))
              }
            }
          }
        }.toMap
        // a PARTIAL envelope still prunes: a tuple match needs every
        // column to match, so one provably-disjoint column excludes a
        // file even when the others are untrackable (mayOverlap treats
        // absent columns as may-overlap). No usable column → keep all.
        if (merged.nonEmpty) Some(merged) else None
      }.toOption.flatten)
    // may a key tuple of `t` live in file `rel`? Needs EVERY key
    // column's ranges to overlap (a tuple match requires all columns);
    // one provably-disjoint column excludes the file
    def mayOverlap(man: Manifest, rel: String, t: EqTombstone): Boolean =
      envOf(t) match {
        case None => true
        case Some(env) =>
          val st = man.stats.getOrElse(rel, Map.empty)
          t.keys.forall { k =>
            (for {
              (ftag, flo, fhi) <- resolveKey(st, k)
              (ttag, tlo, thi) <- env.get(k)
              if ftag == ttag
              (fl, fh) <- parseBounds(ftag, flo, fhi)
              (tl, th) <- parseBounds(ttag, tlo, thi)
            } yield !(ltOrd(fh, tl) || ltOrd(th, fl))).getOrElse(true)
          }
      }
    shared.filter { r =>
      val appA = eqA.filter(_.seq > stA.getOrElse(r, Long.MaxValue))
      val appB = eqB.filter(_.seq > stB.getOrElse(r, Long.MaxValue))
      val (idsA, idsB) = (appA.map(ident).toSet, appB.map(ident).toSet)
      if (idsA == idsB) false
      else {
        val delta = (appA ++ appB)
          .filter(t => idsA(ident(t)) ^ idsB(ident(t)))
          .distinctBy(ident)
        delta.exists(t => mayOverlap(manB, r, t))
      }
    }
  }

  /** Read `rels` applying every applicable equality tombstone: files
    * group by their stamp (one group per tombstone era — O(tombstone
    * commits) groups, not O(files)), each group anti-joins against the
    * union of the tombstones STRICTLY NEWER than its stamp. No live
    * tombstones → the untouched fast path. */
  private def readRelsEq(tgt: Catalog, table: String, man: Manifest,
                         rels: Seq[String],
                         reader: Seq[String] => DataFrame): DataFrame = {
    val eq = eqTombstonesOf(man.props)
    if (eq.isEmpty || rels.isEmpty) return reader(rels)
    val stamps = eqSeqsOf(man.props)
    val groups = rels.groupBy(r => stamps.getOrElse(r, Long.MaxValue))
      .toSeq.sortBy(_._1)
    groups.map { case (s, g) =>
      val applicable = eq.filter(_.seq > s)
      // distinct key SETS anti-join separately (upsert keys may evolve
      // between statements); within a set, one union of tombstone files
      applicable.groupBy(_.keys).toSeq.sortBy(_._1.mkString(","))
        .foldLeft(reader(g)) { case (b, (ks, ts)) =>
          val tomb = tombstoneFrame(tgt, table, ts, ks, b.schema)
          val cond = ks.map(k => b(k) <=> tomb(k)).reduce(_ && _)
          b.join(tomb, cond, "left_anti")
        }
    }.reduce(_.unionByName(_))
  }

  /** The key tuples of `ts` as one frame (logical names — tombstones are
    * written post-mapping, and renames refuse while any are live). The
    * key SCHEMA comes from the base read (same fields, same types), so
    * building the frame never runs a schema-inference footer job —
    * plan construction stays zero-job. */
  private def tombstoneFrame(tgt: Catalog, table: String,
                             ts: Seq[EqTombstone], keys: Seq[String],
                             baseSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val abs = ts.flatMap(_.files)
      .map(r => new Path(dataDir(tgt, table), r).toString)
    val keySchema = org.apache.spark.sql.types.StructType(keys.map(k =>
      baseSchema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalStateException(
          s"tombstone key '$k' not in the read schema of '$table'"))))
    tgt.spark.read.schema(keySchema).parquet(abs: _*)
      .select(keys.map(org.apache.spark.sql.functions.col): _*)
  }

  /** WRITE-WITHOUT-READ keyed upsert (equality tombstones — see the
    * section doc): commit the batch's data files plus one key-tombstone
    * file as ONE version, never reading the target. Semantically a
    * DELETE-matching-keys + INSERT: matched rows' surrogate ids are NOT
    * preserved (unlike the copy-on-write upsert, which merges). The
    * batch evolves the schema the loader-ensure way (see
    * [[eqUpsertAttempt]]). Reads resolve tombstones with an anti-join;
    * [[compact]] materializes them. The change feed, clone/branch, and
    * row-level ops all RESOLVE live tombstones at read; column
    * rename/drop of VALUE columns stays metadata-only (key files never
    * mention them) — only renaming/dropping a tombstone KEY column
    * still refuses while any are live.
    *
    * `deleteKeyRows`: OPTIONAL extra keys to tombstone WITHOUT
    * replacement rows — a mixed-op CDC batch (Debezium-shaped upserts +
    * deletes) lands as ONE commit: the tombstone covers the batch's
    * keys plus these, the data files hold only the upsert rows. For a
    * delete-only batch use [[deleteKeysEquality]].
    *
    * NULL keys match null-safely (a null-keyed batch row tombstones
    * older null-keyed rows — the Iceberg equality-delete rule), where
    * the copy-on-write upsert's equi-join would leave them unmatched;
    * keyed tables should not carry null keys under either contract. */
  def upsertEqualityDelete(tgt: Catalog, table: String, incoming0: DataFrame,
                           keys: Seq[String], idOrder: Seq[String] = Nil,
                           extraProps: Map[String, String] = Map.empty,
                           dropProps: Seq[String] = Nil,
                           deleteKeyRows: Option[DataFrame] = None,
                           requireDistinctKeys: Boolean = false): Long = {
    require(keys.nonEmpty, "upsertEqualityDelete needs key columns")
    val incoming = if (incoming0.columns.contains(Loader.IdCol))
      incoming0.drop(Loader.IdCol) else incoming0
    keys.foreach(k => require(
      incoming.columns.exists(_.equalsIgnoreCase(k)),
      s"equality-upsert key '$k' absent from the incoming frame"))
    deleteKeyRows.foreach(d => keys.foreach(k => require(
      d.columns.exists(_.equalsIgnoreCase(k)),
      s"equality-delete key '$k' absent from the delete-key frame")))
    val v = commitWithRetry(tgt, table, "eq-upsert")(a =>
      eqUpsertAttempt(tgt, table, a, incoming, keys, idOrder, extraProps,
        dropProps, deleteKeyRows, requireDistinctKeys))
    maybeAutoCompact(tgt, table)
    v
  }

  /** WRITE-WITHOUT-READ keyed DELETE: commit ONE key-tombstone file and
    * NO data files — the delete half of the equality contract, so a
    * delete-heavy CDC feed keeps the O(batch) property
    * [[upsertEqualityDelete]] buys upserts (the probing [[deleteKeys]]
    * reads and rewrites matching files; this path touches neither the
    * target's data nor its footers). `keyRows` needs only the key
    * columns (extra columns are ignored); its key tuples coerce to the
    * recorded key types by the same lossless-upcast rule as the upsert
    * path, match null-safely, and materialize ONCE into the key file
    * (a nondeterministic source cannot disagree with what committed).
    * A delete of zero keys, or against a table with no live rows, is a
    * metadata no-op returning the current version. Reads resolve the
    * tombstone exactly like an upsert's; [[compact]] materializes it;
    * the change feed emits the deletes. Returns the committed (or
    * current) version. */
  def deleteKeysEquality(tgt: Catalog, table: String, keyRows: DataFrame,
                         keys: Seq[String],
                         extraProps: Map[String, String] = Map.empty,
                         dropProps: Seq[String] = Nil): Long = {
    require(keys.nonEmpty, "deleteKeysEquality needs key columns")
    keys.foreach(k => require(
      keyRows.columns.exists(_.equalsIgnoreCase(k)),
      s"equality-delete key '$k' absent from the key frame"))
    val v = commitWithRetry(tgt, table, "eq-delete")(a =>
      eqDeleteAttempt(tgt, table, a, keyRows, keys, extraProps, dropProps))
    maybeAutoCompact(tgt, table)
    v
  }

  private def eqDeleteAttempt(tgt: Catalog, table: String, a: CommitAttempt,
                              keyRows: DataFrame, keys: Seq[String],
                              extraProps: Map[String, String],
                              dropProps: Seq[String]): Option[Long] = {
    Loader.ensureParquetWriteConf(tgt.spark)
    val man = a.man
    val cur = a.cur
    val recorded = recordedSchema(man).getOrElse(
      throw new IllegalArgumentException(
        s"'$table' records no schema — equality delete needs a " +
          "schema-recording head"))
    keys.foreach(k => require(
      recorded.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"equality-delete key '$k' is not a column of '$table'"))
    // no live rows → nothing a tombstone could kill: metadata no-op
    // (committing one would only tax every future read)
    val parentHasRows = man.files.exists(r => man.liveRows(r).forall(_ > 0))
    if (!parentHasRows) return Some(cur)
    val newV = a.next
    val f = fs(tgt, dataDir(tgt, table))
    val kdf = alignEqKeys(keyRows, recorded, keys, table)
      .distinct().repartition(1)
    val (rels, nKeys, nBytes) = stageEqKeyFiles(tgt, table, kdf)
    def cleanup(): Unit = rels.headOption.foreach(r =>
      f.delete(new Path(dataDir(tgt, table), r).getParent, true))
    if (nKeys.contains(0L)) { cleanup(); return Some(cur) } // empty delete
    // deletes only REMOVE rows: the live-uniqueness invariant (and the
    // recorded schema, layout, stats — every file is untouched) carries;
    // uniq needs only parent uniqueness, same as the upsert path
    val parentUnique = man.props.get(EqLiveUniqueProp)
      .contains(eqUniqueKeyCsv(keys))
    val tomb = EqTombstone(rels, newV, keys.map(_.toLowerCase), nKeys,
      nBytes, uniq = Some(parentUnique))
    val oldStamps = eqSeqsOf(man.props)
    val stamps = man.files.map(r => r -> oldStamps.getOrElse(r, newV - 1)).toMap
    val eq = eqTombstonesOf(man.props) :+ tomb
    val props = ((man.props ++ extraProps) -- dropProps) +
      (EqDelProp -> renderEqTombstones(eq)) ++
      (if (stamps.isEmpty) Map.empty[String, String]
       else Map(EqSeqProp -> renderEqSeqs(stamps)))
    a.commit(man.copy(props = props)).orElse { cleanup(); None }
  }

  /** Project `d` to the recorded KEY columns, coercing each to its
    * recorded type by the equality paths' lossless-upcast rule (shared
    * by the upsert's delete-key frame and [[deleteKeysEquality]]). */
  private def alignEqKeys(d: DataFrame,
                          recorded: org.apache.spark.sql.types.StructType,
                          keys: Seq[String], table: String): DataFrame =
    d.select(keys.map { k =>
      val rec = recorded.fields.find(_.name.equalsIgnoreCase(k)).get
      val have = d.schema.fields.find(_.name.equalsIgnoreCase(k)).get
      if (have.dataType == rec.dataType) col(have.name).as(rec.name)
      else {
        require(losslessEqCast(have.dataType, rec.dataType),
          s"equality delete cannot coerce key '${rec.name}' from " +
            s"${have.dataType.simpleString} to the recorded " +
            s"${rec.dataType.simpleString} — only lossless upcasts " +
            "apply on this path")
        col(have.name).cast(rec.dataType).as(rec.name)
      }
    }: _*)

  /** The equality paths' lossless coercion rule: Catalyst canUpCast,
    * plus small-precision decimal → double (round-trip-unique at
    * p ≤ 15 — the shape SQL literals arrive in; see the upsert path's
    * inline note on key-column intent). */
  private[graft] def losslessEqCast(from: org.apache.spark.sql.types.DataType,
                             to: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to) ||
      ((from, to) match {
        case (dec: org.apache.spark.sql.types.DecimalType,
              org.apache.spark.sql.types.DoubleType) => dec.precision <= 15
        case _ => false
      })

  /** Stage `kdf`'s rows as `.eqdel` key files under a fresh tombstone
    * dir: write, swap the extension (the data-file sweeps — vacuum,
    * orphan removal — must never mistake a tombstone for an
    * unreferenced data file; explicit-path parquet reads ignore
    * extensions), and probe key count + bytes AT WRITE TIME
    * (footer/status metadata — driver-cheap) so scan planning can warn
    * past the key budget and DESCRIBE/history can show the accretion
    * without opening a key file. Count/bytes are best-effort — a failed
    * probe yields a countless tombstone, the legacy shape. */
  private def stageEqKeyFiles(tgt: Catalog, table: String, kdf: DataFrame)
      : (Seq[String], Option[Long], Option[Long]) = {
    val tmp = new Path(dataDir(tgt, table),
      s"eqdel-${java.util.UUID.randomUUID()}")
    kdf.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val f = fs(tgt, dataDir(tgt, table))
    val rels = f.listStatus(tmp).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val dst = new Path(tmp,
          st.getPath.getName.stripSuffix(".parquet") + ".eqdel")
        require(f.rename(st.getPath, dst),
          s"could not finalize tombstone file ${st.getPath}")
        s"${tmp.getName}/${dst.getName}"
      }
    f.listStatus(tmp).toSeq.filter(_.getPath.getName.startsWith("_"))
      .foreach(st => f.delete(st.getPath, false))
    val eqAbs = rels.map(r => new Path(dataDir(tgt, table), r).toString)
    val nKeys = scala.util.Try(graft.sources.ParquetSource
      .footerFileMeta(tgt.spark, eqAbs, Nil).values.map(_._1).sum).toOption
    val nBytes = scala.util.Try(eqAbs.map(p =>
      f.getFileStatus(new Path(p)).getLen).sum).toOption
    (rels, nKeys, nBytes)
  }

  private def eqUpsertAttempt(tgt: Catalog, table: String, a: CommitAttempt,
                              incoming0: DataFrame, keys: Seq[String],
                              idOrder: Seq[String],
                              extraProps: Map[String, String],
                              dropProps: Seq[String],
                              deleteKeyRows: Option[DataFrame] = None,
                              requireDistinctKeys: Boolean = false)
      : Option[Long] = {
    Loader.ensureParquetWriteConf(tgt.spark)
    if (a.head.isEmpty)
      // first load: nothing to tombstone — the plain keyed load records
      // the keys, lays the table out, and (as every keyed first load
      // does) starts the uniqueness induction ([[EqLiveUniqueProp]])
      // from a verified base
      return loadAttempt(tgt, table, a, incoming0, keys, idOrder,
        ensure = true, safe = false, None, extraProps, Nil, dropProps)
    val headMan = a.head
    val man = a.man
    val recorded = recordedSchema(man).getOrElse(
      throw new IllegalArgumentException(
        s"'$table' records no schema — equality upsert needs a " +
          "schema-recording head (write once with load() first)"))
    val incoming0prepared = prepareDeclaredColumns(tgt, table, headMan, incoming0)
    // SCHEMA EVOLUTION, the loader-ensure way: batch-only columns WIDEN
    // the recorded schema — old rows (including the tombstoned eras'
    // survivors) read them as null, the metadata-widening contract the
    // readers already honor — and recorded columns the batch omits
    // null-fill into the staged files. Only KEY columns must exist
    // exactly (they are the tombstone's join identity); value-column
    // TYPES coerce to the recorded types by lossless upcast (a SQL
    // VALUES literal arrives as decimal(2,1) for a double column; an
    // unaligned write would poison the table's files), anything lossy
    // refuses.
    keys.foreach(k => require(
      recorded.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"equality-upsert key '$k' is not a column of '$table' — key " +
        "columns cannot be introduced by evolution"))
    val recordedNonId = recorded.fields.toSeq
      .filterNot(_.name.equalsIgnoreCase(Loader.IdCol))
    val extra = incoming0prepared.schema.fields.toSeq.filterNot(f =>
      recorded.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    val missing = recordedNonId.filterNot(f =>
      incoming0prepared.columns.exists(_.equalsIgnoreCase(f.name)))
    val nullFilled = missing.foldLeft(incoming0prepared)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    val aligned = recordedNonId.foldLeft(nullFilled) { (d, f) =>
      val cur = d.schema.fields.find(_.name.equalsIgnoreCase(f.name)).get
      if (cur.dataType == f.dataType) d
      else {
        // canUpCast, plus small-precision decimal → double. NOT exact
        // (0.1 has no binary representation) but ROUND-TRIP-UNIQUE at
        // p ≤ 15: distinct decimals map to distinct doubles, so values
        // written and probed through the same cast stay self-consistent
        // — which is what the tombstone join needs. Intentionally also
        // applies to KEY columns (a SQL VALUES literal key arrives as
        // decimal(2,1) for a double key column; refusing would make the
        // pure-SQL eq surface unusable on double keys).
        val lossless = org.apache.spark.sql.catalyst.expressions.Cast
          .canUpCast(cur.dataType, f.dataType) ||
          ((cur.dataType, f.dataType) match {
            case (dec: org.apache.spark.sql.types.DecimalType,
                  org.apache.spark.sql.types.DoubleType) => dec.precision <= 15
            case _ => false
          })
        require(lossless,
          s"equality upsert cannot coerce '${f.name}' from " +
            s"${cur.dataType.simpleString} to the recorded " +
            s"${f.dataType.simpleString} — only lossless upcasts apply " +
            "on this path")
        d.withColumn(cur.name, col(cur.name).cast(f.dataType))
      }
    }
    // stable column order: the recorded schema's names first (recorded
    // case wins — the widened SchemaProp must not fork on case), then
    // the batch's new columns in batch order
    val incoming = aligned.select(
      (recordedNonId.map(f => col(f.name).as(f.name)) ++
        extra.map(f => col(f.name))): _*)
    val order = if (idOrder.nonEmpty) idOrder else incoming.columns.toSeq
    val maxId = man.maxId.getOrElse {
      val r = readVersion(tgt, table, a.cur)
        .agg(max(col(Loader.IdCol))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val out = Loader.withSurrogateIds(incoming, maxId, order)
    val physOf = extendMapping(headMan, out.schema)
    val checkSql = effectiveCheck(man.props ++ extraProps)
    val (batch, newParts) = writeBatch(tgt, table, out, man.bucket,
      bloomColsOf(man), physOf,
      partSpecOf(man.props ++ extraProps),
      zorderLayout(man.props ++ extraProps))
    def abort(e: Throwable): Nothing = {
      fs(tgt, dataDir(tgt, table)).delete(batch, true)
      throw e
    }
    checkSql.filter(_ => newParts.nonEmpty).foreach { c =>
      try enforceCheckStaged(tgt, newParts.map(p =>
        new Path(dataDir(tgt, table), p._1).toString), physOf, c, table)
      catch { case e: Throwable => abort(e) }
    }
    val newV = a.next
    val newRel = newParts.map(_._1)
    val stagedAbs = newRel.map(r => new Path(dataDir(tgt, table), r).toString)
    // routed-MERGE cardinality contract ([[graft.sources.RouteEqualityMerge]]):
    // SQL MERGE errors when several source rows hit one target row; the
    // equality path would land them as duplicate rows instead, so the
    // routed spelling verifies the STAGED batch is key-distinct (two
    // O(batch) jobs over the staged files) and aborts rather than
    // silently diverging from MERGE semantics
    if (requireDistinctKeys && newRel.nonEmpty) {
      val kdf0 = readFileList(tgt, stagedAbs, Some(out.schema), physOf)
        .select(keys.map(col): _*)
      val total = kdf0.count()
      val dist = kdf0.distinct().count()
      if (total != dist) abort(new IllegalArgumentException(
        s"equality merge into '$table': the source holds ${total - dist} " +
          s"duplicate key row(s) on (${keys.mkString(",")}) — MERGE " +
          "admits at most one source row per target row; dedupe the " +
          "source (e.g. keep the latest row per key) or use " +
          "upsertEqualityDelete directly for last-writer-wins batches"))
    }
    // the tombstone derives from the STAGED bytes (not the incoming
    // plan — a nondeterministic source must not disagree with what was
    // written); written only when the parent can hold matching rows
    val parentHasRows = man.files.exists(r => man.liveRows(r).forall(_ > 0))
    val tombEntry0: Option[EqTombstone] =
      if (!parentHasRows || (newParts.isEmpty && deleteKeyRows.isEmpty)) None
      else try {
        // staged keys ∪ explicit DELETE keys (the mixed-op CDC batch:
        // upsert rows tombstone-and-replace, delete rows only tombstone
        // — one key file, one commit, one epoch stamp)
        val stagedK: Option[DataFrame] =
          if (newParts.isEmpty) None
          else Some(readFileList(tgt, stagedAbs, Some(out.schema), physOf)
            .select(keys.map(col): _*))
        val delK: Option[DataFrame] = deleteKeyRows.map(d =>
          alignEqKeys(d, recorded, keys, table))
        val kdf = (stagedK.toSeq ++ delK.toSeq)
          .reduce(_.unionByName(_)).distinct().repartition(1)
        val (rels, nKeys, nBytes) = stageEqKeyFiles(tgt, table, kdf)
        if (nKeys.contains(0L)) {
          // zero keys (an empty batch with an empty delete frame):
          // a tombstone would only tax reads — stage dir swept, none
          rels.headOption.foreach(r => fs(tgt, dataDir(tgt, table))
            .delete(new Path(dataDir(tgt, table), r).getParent, true))
          None
        } else
          Some(EqTombstone(rels, newV, keys.map(_.toLowerCase), nKeys, nBytes))
      } catch { case e: Throwable => abort(e) }
    val oldStamps = eqSeqsOf(man.props)
    val stamps: Map[String, Long] = tombEntry0 match {
      case None => oldStamps
      case Some(_) =>
        // stamp the parent's unstamped files with (newV - 1): they were
        // added after the previous tombstone, so older tombstones
        // correctly don't apply; the batch's own files stamp newV
        man.files.map(r => r -> oldStamps.getOrElse(r, newV - 1)).toMap ++
          newRel.map(_ -> newV)
    }
    val fm = manifestMeta(tgt, table, headMan, man.files, newParts, out.schema)
    val committedMax = newFilesMaxId(tgt, table, fm, newRel)
      .map(m => math.max(m, maxId)).orElse(Some(maxId))
    // UNIQUENESS INDUCTION for the truncation pad ([[EqTombstone.uniq]]):
    // the staged batch is key-distinct iff its row total equals the
    // tombstone's recorded key count — both already-computed metadata
    // (fm.rows over the staged files; the distinct()'d key file's footer
    // count). Combined with the parent's [[EqLiveUniqueProp]], each
    // flagged tombstone provably kills ≤ 1 row per key, which is what
    // lets pushed LIMIT/top-N keep truncating over live tombstones.
    val stagedRows: Option[Long] = {
      val rs = newRel.map(fm.rows.get)
      if (rs.isEmpty || rs.exists(_.isEmpty)) None else Some(rs.flatten.sum)
    }
    val parentUnique = man.props.get(EqLiveUniqueProp)
      .contains(eqUniqueKeyCsv(keys))
    // staged-batch key-distinctness (for the POST-state invariant): with
    // no explicit delete keys the tombstone's recorded key count IS the
    // staged distinct count (free); a mixed-op batch needs one O(batch)
    // distinct over the staged key columns (the key file mixed in the
    // delete keys)
    val batchUnique: Boolean =
      if (newParts.isEmpty) false // unused: no rows landed
      else if (deleteKeyRows.isEmpty) tombEntry0 match {
        case Some(t) => t.rows.isDefined && t.rows == stagedRows
        case None => // parent had no live rows — no tombstone written
          stagedRows.exists(_ == readFileList(tgt, stagedAbs,
            Some(out.schema), physOf)
            .select(keys.map(col): _*).distinct().count())
      }
      else stagedRows.exists(_ == readFileList(tgt, stagedAbs,
        Some(out.schema), physOf)
        .select(keys.map(col): _*).distinct().count())
    // uniq (kills ≤ 1 row per key) needs only PARENT uniqueness: the
    // staged files stamp at the tombstone's own seq, so the tombstone
    // never applies to them — only to the (unique) parent rows
    val tombEntry = tombEntry0.map(_.copy(uniq = Some(parentUnique)))
    val eq = eqTombstonesOf(man.props) ++ tombEntry
    val nowUnique =
      if (parentHasRows) parentUnique && batchUnique
      else batchUnique // no parent rows: the staged batch IS the live set
    val liveUniqueAdj: Map[String, String] =
      if (newParts.isEmpty) // deletes/no-ops only remove rows — the
        // invariant (whatever its state) carries verbatim
        man.props.get(EqLiveUniqueProp)
          .map(v => Map(EqLiveUniqueProp -> v)).getOrElse(Map.empty)
      else if (nowUnique) Map(EqLiveUniqueProp -> eqUniqueKeyCsv(keys))
      else Map.empty
    // widened (batch-only) columns record NULLABLE regardless of the
    // batch frame's flag: every pre-evolution row reads them as null
    val recordedOut = org.apache.spark.sql.types.StructType(
      carryFieldMetadata(headMan, out.schema).fields.map(f =>
        if (extra.exists(_.name.equalsIgnoreCase(f.name)))
          f.copy(nullable = true) else f))
    // first-equality-write DEFAULT compaction trigger (see
    // [[DefaultEqTombstoneTrigger]]) — only when nothing configured it
    val trigDefault: Map[String, String] =
      if ((man.props ++ extraProps).contains(CompactEqTombstonesProp) ||
          dropProps.contains(CompactEqTombstonesProp)) Map.empty
      else Map(CompactEqTombstonesProp -> DefaultEqTombstoneTrigger.toString)
    val props = withMappingProps(
      (((man.props ++ extraProps) -- dropProps) - EqLiveUniqueProp) ++
        trigDefault ++ liveUniqueAdj +
        (UpsertKeysProp -> keys.mkString(",")) +
        (SchemaProp -> schemaJson(recordedOut)) +
        (EqDelProp -> renderEqTombstones(eq)) ++
        (if (stamps.isEmpty) Map.empty[String, String]
         else Map(EqSeqProp -> renderEqSeqs(stamps))),
      physOf, retiredOf(man))
    a.commit(Manifest(newV, committedMax, man.bucket, man.files ++ newRel,
      fm.stats, fm.sizes, fm.nulls, fm.rows, props,
      dvCarry(headMan, man.files))).orElse {
      val f = fs(tgt, dataDir(tgt, table))
      f.delete(batch, true)
      tombEntry.foreach(t => t.files.headOption.foreach(r =>
        f.delete(new Path(dataDir(tgt, table), r).getParent, true)))
      None
    }
  }

  /** Rebase equality-tombstone props onto ABSOLUTE paths under `base`
    * (a clone / fast-forward publishing a manifest into another table's
    * namespace): tombstone key files and stamp keys both re-point;
    * already-absolute entries pass through untouched (Hadoop `Path`
    * resolution — a clone-of-a-clone keeps the original owner's paths).
    * No tombstones → the props verbatim. */
  private def rebaseEqProps(props: Map[String, String],
                            base: String): Map[String, String] = {
    val ts = eqTombstonesOf(props)
    if (ts.isEmpty) return props
    def abs(r: String) = new Path(base, r).toString
    val p1 = props + (EqDelProp -> renderEqTombstones(
      ts.map(t => t.copy(files = t.files.map(abs)))))
    val stamps = eqSeqsOf(props)
    if (stamps.isEmpty) p1
    else p1 + (EqSeqProp -> renderEqSeqs(
      stamps.map { case (r, s) => abs(r) -> s }))
  }

  /** Tombstone/stamp hygiene for a rewriting commit (PURE — older
    * retained versions still reference the tombstone files, so physical
    * reclaim stays vacuum's job): keep stamps only for surviving files;
    * a tombstone with NO surviving file stamped below its seq has been
    * fully materialized — drop it from the props. */
  private def pruneEqProps(props: Map[String, String],
                           liveRels: Seq[String]): Map[String, String] = {
    val eq = eqTombstonesOf(props)
    if (eq.isEmpty) return props
    val live = liveRels.toSet
    val stamps = eqSeqsOf(props).filter { case (r, _) => live(r) }
    val kept = eq.filter(t => stamps.values.exists(_ < t.seq))
    val p1 = if (kept.isEmpty) props - EqDelProp
      else props + (EqDelProp -> renderEqTombstones(kept))
    if (stamps.isEmpty || kept.isEmpty) p1 - EqSeqProp
    else p1 + (EqSeqProp -> renderEqSeqs(stamps))
  }

  /** Read `rels` of `man`, applying the deletion vectors `sidecarByRel`
    * names (file → sidecar path). [[readRelsWithDv]] passes the
    * manifest's own DVs; the MOR CoW-fraction rewrite passes positions
    * merged by an in-flight statement that no manifest records yet.
    * Sidecars decode EXECUTOR-SIDE (per-JVM LRU —
    * [[org.apache.spark.sql.graft.DeletionVectors.readCached]]), so the
    * driver broadcasts only (file → sidecar path) pointers, never the
    * position arrays — a heavily-deleted file's vector stays off the
    * driver heap on the rewrite path. Both sides are [[scanRaw]] scans,
    * planned from the manifest. */
  private def readRelsApplyingSidecars(
      tgt: Catalog, table: String, man: Manifest, rels: Seq[String],
      sidecarByRel: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val sch = scanSchema(tgt, table, man, rels, schema)
    val (dirty, clean) = rels.partition(sidecarByRel.contains)
    if (dirty.isEmpty) return readVersionClean(tgt, table, man, clean, Some(sch))
    val live = liveRowUdf(tgt.spark, dirty.map { r =>
      new Path(dataDir(tgt, table), r).toUri.getPath ->
        new Path(dataDir(tgt, table), sidecarByRel(r)).toString
    }.toMap)
    val dirtyDf = scanWithIdentity(tgt, table, man, dirty, sch)
      .where(live(col("__graft_fp"), col("__graft_ri")))
      .drop("__graft_fp", "__graft_ri")
    if (clean.isEmpty) dirtyDf
    else readVersionClean(tgt, table, man, clean, Some(sch)).unionByName(dirtyDf)
  }

  /** TIMESTAMP_NTZ columns of `df` as session-zone timestamps (the read
    * boundary's normalization — see [[readVersion]]). */
  private def ntzToTimestamp(df: DataFrame): DataFrame =
    df.schema.fields.collect {
      case fld if fld.dataType == org.apache.spark.sql.types.TimestampNTZType => fld.name
    }.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType)))

  /** The explicit-file-list read of files no manifest records yet (a
    * commit's staged batch), under logical names. */
  private def readFileList(tgt: Catalog, absFiles: Seq[String],
                           schema: Option[org.apache.spark.sql.types.StructType]
                             = None,
                           physOf: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.graft.ColumnMapping
    require(physOf.isEmpty || schema.isDefined,
      "a column-mapped read needs the recorded schema (mapped tables " +
        "always record one — a rename/drop commit writes it)")
    tgt.spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = schema.map(ColumnMapping.physSchema(_, physOf))
      .fold(tgt.spark.read)(tgt.spark.read.schema).parquet(absFiles: _*)
    ntzToTimestamp(
      if (physOf.isEmpty) raw
      else ColumnMapping.toLogicalNames(raw, schema.get.fieldNames.toSeq))
  }

  /** ZONE-MAP FILTERED READ of the head version — see the v-taking
    * overload. */
  def readWhere(tgt: Catalog, table: String,
                pred: org.apache.spark.sql.Column): DataFrame =
    readWhere(tgt, table, headVersion(tgt, table), pred)

  /** ZONE-MAP FILTERED READ: apply `pred` to version `v`, first skipping
    * every file whose manifest-recorded `[min, max]` column ranges prove
    * it can hold no matching row — a DRIVER-SIDE planning step over pure
    * metadata, so a selective filter on a 100 TB table launches scan
    * tasks (and, on an object store, even footer reads) only for the
    * files that can match. Parquet row-group skipping still applies
    * INSIDE the surviving files; the zone map's job is to avoid touching
    * the others at all.
    *
    * Semantically identical to `readVersion(...).where(pred)` for every
    * predicate: only conjuncts of the shapes `col (=|<|<=|>|>=) lit` /
    * `col IN (lits)` prune (in the stats-safe comparison domains —
    * [[graft.sources.ParquetSource.footerColumnRanges]]); everything
    * else simply doesn't skip. The full predicate is always re-applied
    * to the surviving rows. */
  def readWhere(tgt: Catalog, table: String, v: Long,
                pred: org.apache.spark.sql.Column): DataFrame = {
    val man = readManifest(tgt, table, v).getOrElse(
      throw new IllegalArgumentException(s"table '$table' has no version $v"))
    require(man.files.nonEmpty, s"version $v of '$table' lists no files")
    val (keepRel, _) = pruneByStats(man, pred)
    if (keepRel.isEmpty)
      // every file excluded: an empty frame with the version's schema
      // (planned from the manifest — no scan tasks at all)
      readVersionClean(tgt, table, man, man.files.take(1))
        .where(lit(false)).where(pred)
    else readRelsWithDv(tgt, table, man, keepRel).where(pred)
  }

  /** The files of version `v` a [[readWhere]] with `pred` would SKIP
    * (absolute paths) — the spec/audit surface for zone-map pruning. */
  def skippedFiles(tgt: Catalog, table: String, v: Long,
                   pred: org.apache.spark.sql.Column): Seq[String] = {
    val man = readManifest(tgt, table, v).getOrElse(
      throw new IllegalArgumentException(s"table '$table' has no version $v"))
    pruneByStats(man, pred)._2.map(r =>
      new Path(dataDir(tgt, table), r).toString)
  }

  /** BUCKET-PRUNED point lookup at version `v`: on a table bucketed by
    * `keys`, read ONLY the files of the bucket the key tuple hashes into
    * — 1/n of the file list chosen on the DRIVER from the manifest (no
    * job, no scan tasks for the other buckets at all, see
    * [[bucketsFor]]), then the exact key predicate on that slice. Zone
    * maps prune further within the bucket (a key outside a file's
    * recorded range), and they are the only file-level pruning on a flat
    * table. A key no file can hold plans as an empty frame: zero jobs.
    * The versioned twin of [[Loader.bucketLookup]]. */
  def lookup(tgt: Catalog, table: String, v: Long,
             key: Map[String, Any]): DataFrame = {
    val man = readManifest(tgt, table, v).getOrElse(
      throw new IllegalArgumentException(s"table '$table' has no version $v"))
    val pred = key.map { case (c, x) => col(c) === lit(x) }.reduce(_ && _)
    val (keepRel, skipped) = pruneByStats(man, pred)
    if (skipped.isEmpty) readVersion(tgt, table, v).where(pred)
    else if (keepRel.isEmpty) readVersion(tgt, table, v).limit(0).where(pred)
    else readRelsWithDv(tgt, table, man, keepRel).where(pred)
  }

  // ------------------------------------------- streaming CDC partition plan

  /** (absolute path, byte length, DV sidecar, tombstone stamp) of
    * version `v`'s files — lengths from the manifest (status-RPC
    * fallback for pre-sizes manifests). The stamp is the file's
    * equality-tombstone sequence ([[EqSeqProp]]; MaxValue = newer than
    * every tombstone), so streaming readers can apply key anti-filters
    * exactly like the batch scan. */
  private def fileSlices(tgt: Catalog, table: String, man: Manifest)
      : Seq[(String, Long, Option[String], Long)] = {
    lazy val f = fs(tgt, dataDir(tgt, table))
    val stamps = eqSeqsOf(man.props)
    man.files.map { rel =>
      val abs = new Path(dataDir(tgt, table), rel).toString
      (abs, man.sizes.getOrElse(rel, f.getFileStatus(new Path(abs)).getLen),
        man.dvs.get(rel).map { case (p, _) =>
          new Path(dataDir(tgt, table), p).toString
        },
        stamps.getOrElse(rel, Long.MaxValue))
    }
  }

  /** Partition plan for a streaming CDC batch `(fromV, toV]`: pairs of
    * (old files, new files) from the two manifests' UNSHARED file sets,
    * each pair diffable PARTITION-LOCALLY:
    *
    *   - `fromV == 0` (bootstrap) or an append pair (no replaced files):
    *     one partition PER NEW FILE, no old side — full parallelism,
    *     O(1) memory, every row an insert;
    *   - both sides bucketed: one partition PER TOUCHED BUCKET (a
    *     matched key can never change buckets, so the diff is exact
    *     within one bucket) — the same scale unit as every scoped write;
    *   - otherwise (flat rewrite, or stray pre-migration files): ONE
    *     partition holding both sides — correct anywhere, scalable only
    *     when the replaced file set is; bucket the table to stream
    *     updates at scale.
    *
    * The watermark version must still be retained: diffing across a
    * vacuumed gap is exact for retained endpoints ([[changes]] doc), but
    * a vacuumed-away `fromV` has no manifest to diff FROM. */
  private[graft] def cdcSlices(tgt: Catalog, table: String, fromV: Long,
                               toV: Long,
                               admit: org.apache.spark.sql.graft.ZonePred.P =
                                 org.apache.spark.sql.graft.ZonePred.And(Nil))
      : Seq[(Seq[(String, Long, Option[String], Long)],
             Seq[(String, Long, Option[String], Long)])] = {
    val manB = readManifest(tgt, table, toV).getOrElse(
      throw new IllegalArgumentException(s"table '$table' has no version $toV"))
    // ADMISSION-TIME pruning (the `admissionFilter` option): drop files
    // whose zone maps prove no admitted row — sound for KEY-column
    // predicates (a matching key's files always admit on both sides;
    // non-matching keys may surface spurious rows, which the consumer's
    // re-applied filter drops — the provider enforces the key-only rule)
    def admitted(man: Manifest, rels: Seq[String]): Seq[String] =
      rels.filter(r => fileAdmits(man, r, admit))
    if (fromV <= 0L)
      return fileSlices(tgt, table,
        manB.copy(files = admitted(manB, manB.files))).map(s => (Nil, Seq(s)))
    val manA = readManifest(tgt, table, fromV).getOrElse(throw new IllegalStateException(
      s"CDC start version v$fromV of '$table' was vacuumed away — a diff " +
        "from an older version could resurrect keys deleted inside the gap; " +
        "retain more versions or reset the stream checkpoint to re-bootstrap"))
    val (setA, setB) = (manA.files.toSet, manB.files.toSet)
    // a file SHARED by both versions but with a different deletion
    // vector changed rows: it enters BOTH sides (each with its own DV),
    // and the partition-local diff emits exactly the newly-deleted keys
    val dvChanged = manA.files.filter(r =>
      setB(r) && manA.dvs.get(r) != manB.dvs.get(r))
    // LIVE EQUALITY TOMBSTONES: shared files whose applicable tombstone
    // sets differ enter both sides too — each side's reader applies its
    // own key anti-filters ([[CdcMicroBatch]] ships per-side specs), so
    // an eq-upsert's implied deletes surface as feed rows instead of
    // refusing the stream (zone-pruned by the delta tombstones' key
    // envelopes, [[eqChangedShared]])
    val eqChanged = eqChangedShared(tgt, table, manA, manB,
      manA.files.filter(r => setB(r)).filterNot(dvChanged.toSet))
    val onlyA = admitted(manA,
      manA.files.filterNot(setB) ++ dvChanged ++ eqChanged)
    val onlyB = admitted(manB,
      manB.files.filterNot(setA) ++ dvChanged ++ eqChanged)
    def slices(man: Manifest, rels: Seq[String])
        : Seq[(String, String, Long, Option[String], Long)] = {
      lazy val f = fs(tgt, dataDir(tgt, table))
      val stamps = eqSeqsOf(man.props)
      rels.map { rel =>
        val abs = new Path(dataDir(tgt, table), rel).toString
        (rel, abs, man.sizes.getOrElse(rel, f.getFileStatus(new Path(abs)).getLen),
          man.dvs.get(rel).map { case (p, _) =>
            new Path(dataDir(tgt, table), p).toString
          },
          stamps.getOrElse(rel, Long.MaxValue))
      }
    }
    val a = slices(manA, onlyA)
    val b = slices(manB, onlyB)
    if (a.isEmpty) b.map { case (_, abs, len, dv, sq) =>
      (Nil, Seq((abs, len, dv, sq))) }
    else if ((onlyA ++ onlyB).forall(r => bucketOfRel(r).isDefined)) {
      val byBucket = (a.map((_, true)) ++ b.map((_, false)))
        .groupBy { case ((rel, _, _, _, _), _) => bucketOfRel(rel).get }
      byBucket.toSeq.sortBy(_._1).map { case (_, members) =>
        (members.collect { case ((_, abs, len, dv, sq), true) => (abs, len, dv, sq) },
         members.collect { case ((_, abs, len, dv, sq), false) => (abs, len, dv, sq) })
      }
    } else
      Seq((a.map(t => (t._2, t._3, t._4, t._5)), b.map(t => (t._2, t._3, t._4, t._5))))
  }

  /** Append-tail plan for the `graft` STREAMING read `(fromV, toV]`:
    * the data files ADDED across the range, as (absolute path, byte
    * length) — manifest-only. `fromV <= 0` is the bootstrap (the end
    * version's full snapshot). The walk is per consecutive version pair
    * so a commit that REMOVES files (upsert rewrite, delete, compact)
    * is detected exactly: refused with a pointer at `graft-cdc` (whose
    * op-typed feed is the correct tool for update/delete semantics), or
    * — with `skipChanges` (the `skipChangeCommits` option, Delta's
    * semantics) — that COMMIT's files are skipped wholesale and the
    * tail continues. */
  private[graft] def appendSlices(tgt: Catalog, table: String,
                                  fromV: Long, toV: Long,
                                  skipChanges: Boolean,
                                  snapshotBootstrap: Boolean = true,
                                  admit: org.apache.spark.sql.graft.ZonePred.P =
                                    org.apache.spark.sql.graft.ZonePred.And(Nil))
      : Seq[(String, Long, Option[String], Long)] = {
    // ADMISSION-TIME pruning (the `admissionFilter` option): a file whose
    // zone maps prove no matching row never enters a batch — the
    // streaming twin of the batch format's pushed-filter file pruning
    // (one-sided as always; the source also row-filters, so the stream
    // equals `unfiltered.where(pred)` exactly)
    def admitted(man: Manifest, rels: Seq[String]): Seq[String] =
      rels.filter(r => fileAdmits(man, r, admit))
    if (fromV <= 0L && snapshotBootstrap) {
      // fresh stream, no startingVersion: the first batch IS the end
      // version's snapshot (one atomic state; per-version walking it
      // would replay intermediate rewrites the snapshot already folded)
      val man = readManifest(tgt, table, toV).getOrElse(
        throw new IllegalArgumentException(s"table '$table' has no version $toV"))
      return fileSlices(tgt, table, man.copy(files = admitted(man, man.files)))
    }
    // per-version WALK — also for `startingVersion=1` (fromV 0 with the
    // snapshot disabled): v1's prior state is empty, so its "appends" are
    // its full file list, and change-commit detection applies to EVERY
    // version step instead of being silently bypassed by a snapshot
    def man(v: Long): Manifest =
      if (v == 0L) Manifest(0L, None, None, Nil)
      else readManifest(tgt, table, v).getOrElse(
        throw new IllegalStateException(
          s"stream position v$v of '$table' was vacuumed away — retain more " +
            "versions or reset the stream checkpoint to re-bootstrap"))
    (fromV until toV).flatMap { v =>
      val a = man(v)
      val b = man(v + 1)
      val setA = a.files.toSet
      val removed = setA -- b.files.toSet
      // a deletion-vector change on a carried file IS a change commit:
      // rows vanished without any file being removed
      val dvChanged = b.files.exists(r => setA(r) && a.dvs.get(r) != b.dvs.get(r))
      // so is a NEW equality tombstone (a write-without-read upsert):
      // it deletes rows from files the commit never touched — invisible
      // to the file-set walk, so it must be detected from the props
      // (tombstones DROPPED without file changes are metadata-only
      // prunes of inert entries: no rows changed, not a change commit)
      val eqAdded = {
        val ea = eqTombstonesOf(a.props)
          .map(t => (t.seq, t.keys, t.files)).toSet
        eqTombstonesOf(b.props).exists(t => !ea((t.seq, t.keys, t.files)))
      }
      if (removed.nonEmpty || dvChanged || eqAdded) {
        if (!skipChanges) throw new IllegalStateException(
          s"version ${v + 1} of '$table' rewrites or deletes data rows " +
            s"(${removed.size} files removed" +
            (if (dvChanged) ", deletion vectors changed" else "") +
            (if (eqAdded) ", equality tombstone committed" else "") +
            ") — the 'graft' stream tails APPENDS only. Use format " +
            "'graft-cdc' for update/delete semantics, or option " +
            "skipChangeCommits=true to skip change commits")
        Nil
      } else fileSlices(tgt, table,
        b.copy(files = admitted(b, b.files.filterNot(setA))))
    }
  }

  /** Bytes the commit at version `v` APPENDED (manifest-recorded sizes of
    * its new files) — the admission-control unit for byte-paced stream
    * triggers. Manifest-only; 0 for a missing/change commit (the planner
    * handles those separately). */
  private[graft] def appendedBytes(tgt: Catalog, table: String, v: Long): Long = {
    val bOpt = readManifest(tgt, table, v)
    if (bOpt.isEmpty) return 0L
    val b = bOpt.get
    val prior = readManifest(tgt, table, v - 1).map(_.files.toSet)
      .getOrElse(Set.empty[String])
    b.files.filterNot(prior).map(r => b.sizes.getOrElse(r, 0L)).sum
  }

  /** Bytes a CDC step `(v-1, v]` reads: the two manifests' UNSHARED files
    * on both sides (exactly what [[cdcSlices]] plans) — the byte-pacing
    * unit for the `graft-cdc` stream. Manifest-only. */
  private[graft] def cdcStepBytes(tgt: Catalog, table: String, v: Long): Long = {
    val bOpt = readManifest(tgt, table, v)
    if (bOpt.isEmpty) return 0L
    val b = bOpt.get
    readManifest(tgt, table, v - 1) match {
      case None => b.files.map(r => b.sizes.getOrElse(r, 0L)).sum
      case Some(a) =>
        val (sa, sb) = (a.files.toSet, b.files.toSet)
        a.files.filterNot(sb).map(r => a.sizes.getOrElse(r, 0L)).sum +
          b.files.filterNot(sa).map(r => b.sizes.getOrElse(r, 0L)).sum
    }
  }

  /** The EARLIEST retained version committed at or after `tsMillis` —
    * `startingTimestamp` resolution for the streaming sources (the Delta
    * rule: the tail begins at the first commit the instant covers). None
    * when every retained commit predates the instant (an empty tail that
    * starts at the next future commit). */
  def versionAtOrAfter(tgt: Catalog, table: String, tsMillis: Long): Option[Long] = {
    val vs = versions(tgt, table)
    if (vs.isEmpty) throw tableNotFound(table)
    vs.find(v => committedAtMillis(tgt, table, v) >= tsMillis)
  }

  /** Batch-read plan for the DataSource-V2 `graft` format: version `v`'s
    * (or the head's) files zone-map-pruned against `pred`, as (absolute
    * path, byte length, optional deletion-vector sidecar absolute path)
    * — manifest-only, zero listings or status RPCs for sized manifests.
    * A slice with a DV must be read through a position-filtering reader
    * ([[org.apache.spark.sql.graft.PlainReaderFactory]]). */
  private[graft] def batchSlices(tgt: Catalog, table: String, v: Option[Long],
                                 pred: org.apache.spark.sql.graft.ZonePred.P,
                                 limitRows: Option[Long] = None,
                                 topN: Option[(String, Boolean, Long)] = None)
      : Seq[(String, Long, Option[String])] = {
    val ver = v.getOrElse(headVersion(tgt, table))
    val man = readManifest(tgt, table, ver).getOrElse(
      throw new IllegalArgumentException(s"table '$table' has no version $ver"))
    lazy val f = fs(tgt, dataDir(tgt, table))
    // a file with a RECORDED row count of zero admits nothing — exact,
    // not heuristic; skips the empty schema-bearing file every
    // CREATE TABLE commits (schema here comes from the catalog, so an
    // empty table legitimately plans zero partitions). On a bucketed
    // layout an eq-pinned key additionally restricts to its bucket's
    // files ([[bucketsFor]]) — the SQL point-lookup twin of [[lookup]].
    val keepB = bucketsFor(man, pred)
    // LIVE row counts (physical minus deletion-vector positions) drive
    // every count-based decision here: a DV'd file still admits/prunes
    // by its recorded bounds (supersets — one-sided as always), but
    // limit/top-N truncation must never overcount rows a reader will
    // drop, or a pushed LIMIT could return short
    val surv = man.files.filter(rel => !man.liveRows(rel).contains(0L) &&
      keepB.forall(ks => bucketOfRel(rel).forall(ks.contains)) &&
      fileAdmits(man, rel, pred))
    // a pushed LIMIT keeps files only until their recorded LIVE row
    // counts cover it — LIMIT 10 on a 100k-file table reads one file.
    // Exact only when the caller guarantees no post-scan row filtering
    // (the scan builder does: Spark pushes limits only adjacent to the
    // scan) and every kept file has a recorded count (one unknown voids
    // it).
    val limited = limitRows match {
      case Some(n) if surv.forall(man.rows.contains) =>
        var acc = 0L
        surv.takeWhile { rel =>
          val take = acc < n
          acc += man.liveRows(rel).get
          take
        }
      case _ => surv
    }
    // a pushed TOP-N (`ORDER BY c LIMIT n`) keeps only the files whose
    // recorded range can reach the top: sort files by their FAR bound in
    // the asked direction, walk until recorded rows cover n — that bound
    // is a threshold T provably containing the whole top-n — and keep
    // every file whose NEAR bound reaches T. On a range/z-clustered
    // table, "latest 100" reads the tail files. Sound only with ZERO
    // recorded nulls on the column in every file (null rows rank outside
    // the range algebra) and parseable long-domain bounds everywhere —
    // anything unknown keeps everything; Spark re-sorts and re-limits on
    // top regardless (partial push).
    val kept = topN match {
      case Some((c, asc, n))
        if limited.forall(r => man.rows.contains(r) &&
          man.nulls.getOrElse(r, Map.empty).get(c).contains(0L)) =>
        val parsed = limited.map { rel =>
          man.stats.getOrElse(rel, Map.empty).get(c).flatMap {
            case (tag, lo, hi) if tag == "long" || tag == "date" || tag == "ts" =>
              for {
                l <- scala.util.Try(lo.toLong).toOption
                h <- scala.util.Try(hi.toLong).toOption
              } yield (rel, l, h)
            case _ => None
          }
        }
        if (!parsed.forall(_.isDefined)) limited
        else {
          val files = parsed.flatten
          // far/near bounds in the asked direction (explicit reverse
          // ordering, not negation — -Long.MinValue overflows to itself
          // and would missort a pathological bound into a wrong skip)
          val byFar = if (asc) files.sortBy(_._3)
            else files.sortBy(_._2)(Ordering[Long].reverse)
          var acc = 0L
          val prefix = byFar.takeWhile { case (rel, _, _) =>
            val take = acc < n
            acc += man.liveRows(rel).get
            take
          }
          if (prefix.isEmpty) Nil // n <= 0: top-0 needs no file
          else if (acc < n) limited // fewer rows than n: everything is top-n
          else {
            val t = if (asc) prefix.map(_._3).max else prefix.map(_._2).min
            files.collect {
              case (rel, lo, hi) if (asc && lo <= t) || (!asc && hi >= t) => rel
            }
          }
        }
      case _ => limited
    }
    kept.map { rel =>
      val abs = new Path(dataDir(tgt, table), rel).toString
      (abs, man.sizes.getOrElse(rel, f.getFileStatus(new Path(abs)).getLen),
        man.dvs.get(rel).map { case (p, _) =>
          new Path(dataDir(tgt, table), p).toString
        })
    }
  }

  /** Planning statistics for the files of version `v` that survive
    * zone-map pruning under `pred`: (total bytes, total rows when every
    * surviving file recorded a row count). Manifest-only — this is what
    * lets the V2 scan report REAL post-pruning sizes to the join planner
    * (a small versioned dim broadcasts instead of defaulting to
    * sort-merge behind `defaultSizeInBytes = Long.Max`). */
  /** A metadata-answerable aggregate ask ([[aggFromManifest]]). */
  private[graft] sealed trait AggWant
  private[graft] case object WantCountStar extends AggWant
  private[graft] final case class WantCountCol(col: String) extends AggWant
  private[graft] final case class WantMin(col: String, tag: String) extends AggWant
  private[graft] final case class WantMax(col: String, tag: String) extends AggWant

  /** Answer global aggregates from the MANIFEST alone — zero data I/O:
    * `count(*)` = the recorded per-file row sum; `count(col)` = rows −
    * recorded null counts; `min/max(col)` = the fold of per-file footer
    * bounds (exact parquet statistics; the caller restricts types to the
    * ones whose bounds ARE the true extrema — integrals/date/timestamp,
    * never float/double whose NaN parquet statistics elide, never
    * strings whose recorded bounds truncate). Returns None unless EVERY
    * surviving file records what the ask needs — one missing entry means
    * "scan instead", never a guess. Values come back as (tag, loOrNull)
    * longs for min/max, Long counts otherwise; an all-empty table yields
    * null extrema and zero counts, the SQL answers. */
  private[graft] def aggFromManifest(tgt: Catalog, table: String, v: Option[Long],
                                     wants: Seq[AggWant]): Option[Seq[Any]] = {
    val ver = v.orElse(currentVersion(tgt, table)).getOrElse(return None)
    val man = readManifest(tgt, table, ver).getOrElse(return None)
    // deletion vectors void the metadata answer: recorded counts/bounds
    // describe the PHYSICAL file, and the DV'd rows' contribution to
    // count/min/max is unknowable without reading — fall back to the
    // scan (which applies the DVs exactly)
    if (man.dvs.nonEmpty) return None
    // files that can hold rows; a recorded 0-row file contributes nothing
    // (and legitimately has no column stats)
    val files = man.files.filterNot(r => man.rows.get(r).contains(0L))
    def rowsOf: Option[Long] = {
      val rs = files.map(man.rows.get)
      if (rs.forall(_.isDefined)) Some(rs.flatten.sum) else None
    }
    def nullsOf(c: String): Option[Long] = {
      val ns = files.map(r => man.nulls.getOrElse(r, Map.empty).get(c))
      if (ns.forall(_.isDefined)) Some(ns.flatten.sum) else None
    }
    def extremum(c: String, tag: String, wantMin: Boolean): Option[Any] = {
      if (files.isEmpty) return Some(null) // empty table: SQL min/max = NULL
      val bounds = files.map(r => man.stats.getOrElse(r, Map.empty).get(c))
      if (!bounds.forall(_.isDefined)) return None
      val parsed = bounds.flatten.map { case (t, lo, hi) =>
        if (t != tag) None
        else tagInternal(t, if (wantMin) lo else hi).collect {
          case l: Long => l
          case i: Int => i.toLong // date days fold as longs, emitted as Int
        }
      }
      if (!parsed.forall(_.isDefined)) None
      else Some(if (wantMin) parsed.flatten.min else parsed.flatten.max)
    }
    val answers = wants.map {
      case WantCountStar => rowsOf
      case WantCountCol(c) =>
        for { r <- rowsOf; n <- nullsOf(c) } yield r - n
      case WantMin(c, tag) => extremum(c, tag, wantMin = true)
      case WantMax(c, tag) => extremum(c, tag, wantMin = false)
    }
    if (answers.forall(_.isDefined)) Some(answers.map(_.get)) else None
  }

  /** Everything `estimateStatistics` needs in ONE manifest read and ONE
    * survivor computation (version resolution, pruning with the SAME
    * bucket restriction as [[batchSlices]], byte/row sums, and the
    * column stats of [[batchColStats]]) — the three consumers must see
    * one consistent file set, or a bucketed point query's column null
    * counts could exceed its reported row count. */
  private[graft] def batchPlanStats(tgt: Catalog, table: String, v: Option[Long],
                                    pred: org.apache.spark.sql.graft.ZonePred.P)
      : (Long, Option[Long], Map[String, (Option[(Any, Any)], Option[Long])]) = {
    val ver = v.getOrElse(headVersion(tgt, table))
    val man = readManifest(tgt, table, ver).getOrElse(
      throw new IllegalArgumentException(s"table '$table' has no version $ver"))
    lazy val f = fs(tgt, dataDir(tgt, table))
    val keepB = bucketsFor(man, pred)
    val surv = man.files.filter(rel => !man.liveRows(rel).contains(0L) &&
      keepB.forall(ks => bucketOfRel(rel).forall(ks.contains)) &&
      fileAdmits(man, rel, pred))
    val bytes = surv.map(rel => man.sizes.getOrElse(rel,
      f.getFileStatus(new Path(dataDir(tgt, table), rel)).getLen)).sum
    val rows = surv.map(man.liveRows)
    (bytes,
      if (rows.forall(_.isDefined)) Some(rows.flatten.sum) else None,
      colStatsOf(man, surv))
  }

  /** The columns whose per-file ranges the manifest records (= the
    * columns zone-map pruning can act on) — the scan's runtime-filter
    * attribute surface. Schema-derived, same rule commits use. */
  private[graft] def statEligibleColumns(
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    statColNames(schema)

  /** TABLE-level column statistics for the surviving files: per column,
    * (min, max) in Catalyst-internal form (long/double/date-days/
    * ts-micros — what `ColumnStat` estimation consumes) when EVERY
    * surviving file recorded bounds, and the summed null count when
    * every file recorded one. Folded driver-side from the manifest —
    * zero I/O — and handed to Spark through the V2 `columnStats()`
    * contract, so CBO's range-filter and join estimation see
    * manifest-exact domains instead of guessing. Strings are omitted
    * (estimation is numeric-domain; truncated bounds would mislead).
    * Takes the [[batchPlanStats]] survivor set so column stats cover
    * exactly the files behind the reported row count. */
  /** ONE parser for a manifest stats bound into its Catalyst-internal
    * value ("long" → Long, "double" → Double, "date" → Int days,
    * "ts" → Long micros; strings skip) — shared by the CBO column stats
    * and the manifest-answered aggregates so the tag encoding has a
    * single read-side source of truth. */
  private def tagInternal(tag: String, s: String): Option[Any] = tag match {
    case "long" => scala.util.Try(s.toLong: Any).toOption
    case "double" => scala.util.Try(s.toDouble: Any).toOption
    case "date" => scala.util.Try(s.toLong.toInt: Any).toOption
    case "ts" => scala.util.Try(s.toLong: Any).toOption
    case _ => None // strings: skip (truncated bounds would mislead)
  }

  private def colStatsOf(man: Manifest, surv: Seq[String])
      : Map[String, (Option[(Any, Any)], Option[Long])] = {
    if (surv.isEmpty) return Map.empty
    def internal(tag: String, s: String): Option[Any] = tagInternal(tag, s)
    val cols = surv.headOption.map(r => man.stats.getOrElse(r, Map.empty).keySet)
      .getOrElse(Set.empty) ++ man.nulls.values.flatMap(_.keySet)
    cols.toSeq.map { c =>
      val bounds = surv.map(r => man.stats.getOrElse(r, Map.empty).get(c))
      val range: Option[(Any, Any)] =
        if (bounds.forall(_.isDefined)) {
          val parsed = bounds.flatten.map { case (tag, lo, hi) =>
            for { l <- internal(tag, lo); h <- internal(tag, hi) } yield (l, h)
          }
          if (parsed.forall(_.isDefined)) {
            val ps = parsed.flatten
            def num(a: Any): Double = a match {
              case l: Long => l.toDouble; case d: Double => d
              case i: Int => i.toDouble; case _ => 0.0
            }
            Some((ps.map(_._1).minBy(num), ps.map(_._2).maxBy(num)))
          } else None
        } else None
      val nulls = surv.map(r => man.nulls.getOrElse(r, Map.empty).get(c))
      val nullSum = if (nulls.forall(_.isDefined)) Some(nulls.flatten.sum) else None
      c -> (range, nullSum)
    }.filter { case (_, (r, n1)) => r.isDefined || n1.isDefined }.toMap
  }

  // ------------------------------------------------------------- change feed

  /** Change-data-feed between two versions: one row per inserted, deleted,
    * or updated key, classified by pairing the two sides on `keys` with
    * full-outer join semantics (computed as a union plus one aggregate).
    * `op` ∈ insert|update|delete; value columns carry the NEW side for
    * insert/update and the OLD side for delete (the row that disappeared).
    * Unchanged keys are omitted. Comparison is null-safe per column.
    * As under SQL join equality, a key tuple with any NULL part never
    * pairs: such a row always surfaces as a delete (old side) and/or an
    * insert (new side), never as an update or as unchanged.
    *
    * FILE-LEVEL PRUNING — the property that makes this a CDC primitive at
    * 100 TB rather than an audit query: data files are immutable once
    * committed, so a file present in BOTH manifests contributes identical
    * rows to both snapshots and can never produce a feed row. The diff
    * therefore scans only the files the two manifests DON'T share — for an
    * append version pair that is exactly the appended batch, O(delta) I/O
    * against a table of any size (copy-on-write rewrites still diff their
    * full file sets, as they must — every file changed).
    *
    * SCHEMA EVOLUTION between the versions is aligned, not rejected: a
    * column the new version ADDED is null-filled on the old side (a row
    * whose added column is non-null therefore reads as an update); a
    * column the new version DROPPED contributes to change detection (a row
    * that HAD a value in it is an update — it lost an attribute) but not
    * to the output, whose value columns are the NEW version's schema.
    *
    * Soundness requires each snapshot to carry at most one row per key
    * tuple (the loader upsert invariant): a duplicate key split across a
    * shared and a non-shared file would make the pruned diff see only half
    * its rows. Nothing checks the invariant: when `keys` does not identify
    * rows, each side's rows for one non-NULL key tuple collapse SILENTLY
    * into one arbitrary row (`any_value`), so the feed emits at most one
    * row per key tuple and which duplicate it shows is unspecified.
    * Cost: one aggregate over two file-pruned scans — the audit never
    * replays load history.
    */
  def changes(tgt: Catalog, table: String, fromV: Long, toV: Long,
              keys: Seq[String]): DataFrame =
    changes(tgt, table, fromV, toV, keys, includeOld = false)

  /** As above; `includeOld = true` additionally emits every non-key value
    * column's OLD-side value as `<col>__old` (null for inserts) — the
    * retraction information downstream incremental consumers need (e.g.
    * [[MaterializedAgg.applyChanges]] subtracts the old contribution of an
    * update before adding the new one). `__old` twins follow the NEW
    * schema (a dropped column's old values don't surface — a view
    * aggregating a dropped column must rebuild, it cannot be retracted
    * forward across the drop). */
  def changes(tgt: Catalog, table: String, fromV: Long, toV: Long,
              keys: Seq[String], includeOld: Boolean): DataFrame = {
    val manA = readManifest(tgt, table, fromV).getOrElse(
      throw new IllegalArgumentException(
        s"table '$table' has no version $fromV"))
    val manB = readManifest(tgt, table, toV).getOrElse(
      throw new IllegalArgumentException(s"table '$table' has no version $toV"))
    val (setA, setB) = (manA.files.toSet, manB.files.toSet)
    // a shared file whose deletion vector differs changed rows — it
    // enters both sides (each side applies its OWN DV), so newly-DV'd
    // keys surface as deletes exactly like a rewrite's vanished rows
    val dvChanged = manA.files.filter(r =>
      setB(r) && manA.dvs.get(r) != manB.dvs.get(r))
    // LIVE EQUALITY TOMBSTONES resolve AT READ instead of refusing: a
    // shared file contributes identical rows to both sides only when
    // the same tombstones apply to it under both manifests, so shared
    // files whose applicable sets differ enter BOTH sides — each side's
    // read resolves its own tombstones (readRelsWithDv routes through
    // readRelsEq). An eq-upsert's delete side is then (tombstone keys ∩
    // parent live rows) and its insert side the batch files: the
    // last-writer-wins diff, computed distributed, nothing
    // materialized. [[eqChangedShared]] zone-prunes the candidates by
    // the delta tombstones' key envelopes.
    val eqChanged = eqChangedShared(tgt, table, manA, manB,
      manA.files.filter(r => setB(r)).filterNot(dvChanged.toSet))
    val onlyA = manA.files.filterNot(setB) ++ dvChanged ++ eqChanged
    val onlyB = manB.files.filterNot(setA) ++ dvChanged ++ eqChanged
    // a side with no unshared files contributes no candidate rows; an
    // empty LOCAL relation with the side's schema (one footer read, zero
    // data I/O — a limit(0) parquet scan would still mount the file)
    def side(man: Manifest, only: Seq[String]): DataFrame = {
      // the version's RECORDED schema (metadata widenings never rewrote
      // the files, and a mixed-era file list must not take its shape from
      // whichever footer the reader samples); footer probe = legacy.
      // readRelsWithDv applies the side's deletion vectors.
      val sch = recordedSchema(man)
      if (only.nonEmpty) readRelsWithDv(tgt, table, man, only, sch)
      else tgt.spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        sch.getOrElse(tgt.spark.read.parquet(new Path(
          dataDir(tgt, table), man.files.head).toString).schema))
    }
    val a0 = side(manA, onlyA)
    val b = side(manB, onlyB)
    require(keys.forall(k => a0.columns.contains(k) && b.columns.contains(k)),
      "change-feed keys must exist in both versions' schemas")
    // schema alignment (see doc): old side gains the added columns as
    // typed nulls; dropped columns ride along for change detection only
    val aCols = a0.columns.toSet
    val bCols = b.columns.toSet
    val added = b.schema.fields.toSeq.filterNot(f => aCols.contains(f.name))
    val dropped = a0.columns.toSeq.filterNot(bCols.contains)
    // a column added with a DEFAULT aligns the old side with its frozen
    // EXISTS_DEFAULT (what a head read returns for those rows), typed
    // null otherwise — so the feed never fabricates an "update" for a
    // row whose defaulted value didn't change
    val a = added.foldLeft(a0)((d, f) =>
      d.withColumn(f.name,
        org.apache.spark.sql.graft.DefaultColumns.existsDefaultColumn(f)))
    val valCols = b.columns.toSeq.filterNot(keys.contains)
    val aR = a.columns.foldLeft(a)((d, c) =>
      if (keys.contains(c)) d else d.withColumnRenamed(c, s"__a_$c"))
    // pair the two sides per key with ONE exchange instead of a full-outer
    // join's two (guide §2.4): pad each side's projection with typed nulls
    // for the other side's columns, union, and take the per-column
    // `any_value(ignoreNulls)` per key. Each side contributes at most one
    // row per key (the soundness invariant above), so the single non-null
    // candidate IS that side's value — deterministic — and a missing side
    // reads as all-null exactly like the join's absent side. Plan shape:
    // union → one partial+final aggregate (one Exchange), vs two Exchanges
    // + two sorts + SortMergeJoinExec for the join. groupBy equates NULL
    // keys where join equality never does, so a row with any NULL key
    // part gets its own group via `__nk` = (side, id); `__nk` is null for
    // non-null keys, which therefore group exactly as they would join.
    // Each side rides as ONE nullable struct (not flat null-padded
    // columns): an absent side is a single null bit in the unsafe row, so
    // the union's shuffle bytes stay at the join's per-side width
    // (guide §2.3) instead of every row paying both sides' layouts.
    val aValNames = aR.columns.toSeq.filterNot(keys.contains)
    val bValNames = b.columns.toSeq.filterNot(keys.contains)
    def sideStruct(names: Seq[String]) = struct(names.map(col): _*)
    def nullOf(src: org.apache.spark.sql.types.StructType, names: Seq[String]) =
      lit(null).cast(org.apache.spark.sql.types.StructType(
        names.map(n => src(n))))
    require(a.columns.contains(Loader.IdCol),
      "change feed expects loader-stamped tables (id column present)")
    def nullKeyTag(sideNo: Int, id: String) =
      when(keys.map(col(_).isNull).foldLeft(lit(false))(_ || _),
        struct(lit(sideNo).as("side"), col(id).as("id"))).as("__nk")
    val aPad = aR.select(keys.map(col) ++ Seq(
      nullKeyTag(0, s"__a_${Loader.IdCol}"),
      sideStruct(aValNames).as("__sa"), nullOf(b.schema, bValNames).as("__sb")): _*)
    val bPad = b.select(keys.map(col) ++ Seq(
      nullKeyTag(1, Loader.IdCol),
      nullOf(aR.schema, aValNames).as("__sa"), sideStruct(bValNames).as("__sb")): _*)
    val paired = aPad.unionByName(bPad).groupBy((keys :+ "__nk").map(col): _*)
      .agg(any_value(col("__sa"), lit(true)).as("__sa"),
        any_value(col("__sb"), lit(true)).as("__sb"))
    // re-flatten to the join's column names (a null side's getField reads
    // null, exactly like the join's absent-side columns)
    val joined = paired.select(keys.map(col) ++
      aValNames.map(n => col("__sa").getField(n).as(n)) ++
      bValNames.map(n => col("__sb").getField(n).as(n)): _*)
    // presence flags: the absent side's columns aggregate to null (no
    // non-null candidate); use the id column (never null in a loaded
    // table) as the unambiguous presence marker
    val presentA = col(s"__a_${Loader.IdCol}").isNotNull
    val presentB = col(Loader.IdCol).isNotNull
    val changed = (valCols.map(c => !(col(s"__a_$c") <=> col(c))) ++
      dropped.map(c => col(s"__a_$c").isNotNull)).reduce(_ || _)
    val op = when(!presentA, lit("insert"))
      .when(!presentB, lit("delete"))
      .when(changed, lit("update"))
    val outCols = keys.map(col) ++ valCols.map { c =>
      when(presentB, col(c)).otherwise(col(s"__a_$c")).as(c)
    }
    val oldCols =
      if (!includeOld) Nil
      else valCols.map { c =>
        when(presentA, col(s"__a_$c")).as(s"${c}__old")
      }
    joined.withColumn("op", op).where(col("op").isNotNull)
      .select(col("op") +: (outCols ++ oldCols): _*)
  }

  // ------------------------------------------------------------------ vacuum

  /** Drop manifests older than the newest `keepLast` versions and delete
    * every data file no retained manifest references — where "retained"
    * includes every LIVE CLONE's manifests (see [[cloneTable]]): a source
    * vacuum keeps shared files alive until the clone is dropped, instead
    * of silently stranding it. Dead clones' markers are cleaned up here.
    * `ignoreClones = true` restores the unguarded sweep. Returns the
    * number of files deleted. Storage reclamation for the append-only
    * file store — after this, time travel reaches only the retained
    * versions.
    */
  /** LIVE clones registered against this table (see [[cloneTable]]): each
    * `clone-*.json` marker in the meta dir names a clone table; a marker
    * whose clone no longer exists (dropped) is EXPIRED here as a side
    * effect. Returns (catalog dir, table name) pairs — the liveness
    * check every destructive operation on the source (vacuum, SQL DROP)
    * consults before touching files a clone may still reference.
    * O(markers), driver-side JSON only. */
  def liveClones(tgt: Catalog, table: String): Seq[(String, String)] = {
    val f = fs(tgt, metaDir(tgt, table))
    val md = new Path(metaDir(tgt, table))
    if (!f.exists(md)) Nil
    else f.listStatus(md).toSeq
      .filter(st => st.getPath.getName.startsWith("clone-") &&
        st.getPath.getName.endsWith(".json"))
      .flatMap { st =>
        val (cDir, cTable) = {
          val in = f.open(st.getPath)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val o = mapper.readTree(txt)
          (o.get("dir").asText(), o.get("table").asText())
        }
        if (versions(new Catalog(tgt.spark, cDir), cTable).isEmpty) {
          f.delete(st.getPath, false) // clone dropped: marker expires
          Nil
        } else Seq((cDir, cTable))
      }
  }

  /** TIME-based retention (the Delta `VACUUM ... RETAIN` shape): reclaim
    * versions whose RECORDED commit time is strictly older than
    * `olderThanMs`, always keeping the head. Resolution is by the
    * manifest-recorded wall clock ([[CommitTsProp]], mtime fallback) —
    * commit times are parent-monotone, so the kept set is exactly the
    * newest suffix and the count feeds the positional [[vacuum]]. */
  def vacuumOlderThan(tgt: Catalog, table: String, olderThanMs: Long,
                      ignoreClones: Boolean = false,
                      dryRun: Boolean = false): Int = {
    val vs = versions(tgt, table)
    val keepN = math.max(1,
      vs.count(v => committedAtMillis(tgt, table, v) >= olderThanMs))
    vacuum(tgt, table, keepN, ignoreClones, dryRun)
  }

  /** ORPHAN-FILE removal: reclaim data/DV files referenced by NO
    * retained version — crashed commits' staged batches, lost-CAS
    * leftovers — while keeping EVERY version readable (vacuum with the
    * full version list as the keep set; Iceberg's
    * `remove_orphan_files` shape). An unreferenced file younger than
    * `olderThanMs` is NOT an orphan — it is indistinguishable from a
    * CONCURRENT writer's staged-but-uncommitted batch, and deleting it
    * would make that writer's CAS commit reference vanished bytes
    * (Iceberg requires the same grace window, default 3 days; here 24 h,
    * explicit for tests/operators who know the table is quiet). */
  def removeOrphanFiles(tgt: Catalog, table: String,
                        dryRun: Boolean = false,
                        olderThanMs: Long =
                          System.currentTimeMillis() - 24L * 3600 * 1000): Int = {
    val n = versions(tgt, table).size
    if (n == 0) throw tableNotFound(table)
    vacuum(tgt, table, n, dryRun = dryRun, sweepOlderThan = Some(olderThanMs))
  }

  def vacuum(tgt: Catalog, table: String, keepLast: Int,
             ignoreClones: Boolean = false,
             dryRun: Boolean = false,
             // when set, the data-dir sweep only deletes files whose
             // mtime is strictly older — the orphan-removal grace window
             // (an unreferenced young file may be a concurrent writer's
             // staged batch)
             sweepOlderThan: Option[Long] = None): Int = {
    require(keepLast >= 1, "must keep at least the current version")
    val vs = versions(tgt, table)
    // TAGS pin retention: every version at or after the oldest tagged one
    // survives (the retained set must stay a contiguous suffix — the
    // pointer/delta-chain invariant), so a tagged state keeps answering
    // `VERSION AS OF 'name'` until its tag is dropped
    val pinned = tags(tgt, table).map(_._2)
    val keepN = pinned.minOption.fold(keepLast)(lo =>
      math.max(keepLast, vs.count(_ >= lo)))
    val keep = vs.takeRight(keepN)
    val drop = vs.dropRight(keepN)
    val f = fs(tgt, metaDir(tgt, table))
    // a version's referenced paths = its data files PLUS its DV sidecars
    // PLUS its live equality-tombstone files (all live in data dirs; an
    // unreferenced sidecar/tombstone reclaims exactly like an
    // unreferenced data file)
    def versionPaths(cat: Catalog, t: String, v: Long): Seq[String] =
      manifestFiles(cat, t, v) ++
        readManifest(cat, t, v).toSeq.flatMap { m =>
          m.dvs.values.map { case (p, _) =>
            new Path(dataDir(cat, t), p).toString
          } ++ eqTombstonesOf(m.props).flatMap(_.files).map(r =>
            new Path(dataDir(cat, t), r).toString)
        }
    if (dryRun) {
      // report what WOULD be reclaimed without deleting any manifest or
      // data file — the operator's pre-flight. (Dead clones' markers may
      // still expire inside liveClones: benign bookkeeping, never data.)
      val cloneRef: Set[String] =
        if (ignoreClones) Set.empty
        else liveClones(tgt, table).flatMap { case (cDir, cTable) =>
          val cCat = new Catalog(tgt.spark, cDir)
          versions(cCat, cTable)
            .flatMap(v => versionPaths(cCat, cTable, v))
            .map(p => new Path(p).toUri.getPath)
        }.toSet
      val ref = keep.flatMap(v => versionPaths(tgt, table, v))
        .map(r => new Path(r).toUri.getPath).toSet ++ cloneRef
      val dd = new Path(dataDir(tgt, table))
      var would = 0
      def scan(p: Path): Unit =
        f.listStatus(p).foreach { st =>
          if (st.isDirectory) scan(st.getPath)
          else if (st.isFile && (st.getPath.getName.endsWith(".parquet") ||
            st.getPath.getName.endsWith(".dv") ||
            st.getPath.getName.endsWith(".eqdel")) &&
            !ref.contains(st.getPath.toUri.getPath) &&
            sweepOlderThan.forall(st.getModificationTime < _)) would += 1
        }
      if (f.exists(dd)) scan(dd)
      return would
    }
    // live clones' referenced paths: each marker names a clone table
    // whose manifests reference THIS table's files by absolute path —
    // O(markers × clone manifests), all driver-side JSON
    val cloneReferenced: Set[String] =
      if (ignoreClones) Set.empty
      else liveClones(tgt, table).flatMap { case (cDir, cTable) =>
        val cCat = new Catalog(tgt.spark, cDir)
        versions(cCat, cTable)
          .flatMap(v => versionPaths(cCat, cTable, v))
          .map(p => new Path(p).toUri.getPath)
      }.toSet
    val referenced: Set[String] =
      keep.flatMap(v => versionPaths(tgt, table, v))
        .map(r => new Path(r).toUri.getPath).toSet ++ cloneReferenced
    // the new floor must stand alone: materialize a full checkpoint at
    // keep.head BEFORE any delete, so the delta chain it anchored can go.
    // Strict (throws on failure — aborting here deletes nothing).
    keep.headOption.foreach { lo =>
      if (!f.exists(manifestPath(tgt, table, lo))) {
        val m = readManifest(tgt, table, lo).getOrElse(throw new IllegalStateException(
          s"vacuum: version $lo of '$table' is unreadable; aborting"))
        writeAdvisoryFile(f, manifestPath(tgt, table, lo), renderManifest(m))
      }
    }
    drop.foreach { v =>
      // delta first: a crash mid-pair leaves the FULL manifest, keeping the
      // half-dropped version readable (a dangling delta whose chain is gone
      // would instead surface as a phantom version)
      f.delete(deltaPath(tgt, table, v), false)
      f.delete(manifestPath(tgt, table, v), false)
    }
    // re-point BEFORE sweeping data so a crash mid-sweep leaves readers a
    // pointer matching the surviving manifests (a crash between the
    // deletes above and this write lags lo — healed by probing)
    keep.headOption.foreach(lo => writePointer(tgt, table, lo, keep.last))
    // stray tmp manifests from crashed commits die here too (uuid-suffixed
    // staging names from the CAS path included) — but only past an mtime
    // GRACE WINDOW: a young tmp is indistinguishable from a concurrent
    // writer's live staging file (a CAS commit mid-flight, a legacy tag
    // writer between write and rename), and sweeping it would fail that
    // writer with a misleading error. An hour outlives any staging step;
    // a crashed writer's tmp is eternal and dies on the next vacuum.
    val tmpGraceCutoff = System.currentTimeMillis() - 60L * 60 * 1000
    f.listStatus(new Path(metaDir(tgt, table))).toSeq
      .filter(st => st.getPath.getName.contains(".manifest.json.tmp") ||
        st.getPath.getName.contains(".delta.json.tmp") ||
        st.getPath.getName.contains(".json.tmp-") || // torn tag writers
        st.getPath.getName.startsWith("_vlast.tmp"))
      .filter(_.getModificationTime < tmpGraceCutoff)
      .foreach(st => f.delete(st.getPath, false))
    val dd = new Path(dataDir(tgt, table))
    var removed = 0
    def sweep(p: Path): Unit = {
      f.listStatus(p).toSeq.foreach { st =>
        if (st.isDirectory) sweep(st.getPath)
        else if (st.isFile && (st.getPath.getName.endsWith(".parquet") ||
          st.getPath.getName.endsWith(".dv") ||
          st.getPath.getName.endsWith(".eqdel")) &&
          !referenced.contains(st.getPath.toUri.getPath) &&
          sweepOlderThan.forall(st.getModificationTime < _)) {
          f.delete(st.getPath, false); removed += 1
        }
      }
      if (p != dd && f.listStatus(p).isEmpty) f.delete(p, true)
    }
    if (f.exists(dd)) sweep(dd)
    removed
  }
}
