package graft.streaming

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.etl.{Catalog, VersionedTable}

/** `graft-cdc` — the versioned table's change feed as a REAL Structured
  * Streaming source (DataSource V2 `MicroBatchStream`):
  *
  * {{{
  *   spark.readStream.format("graft-cdc")
  *     .option("dir", catalogDir)   // the graft Catalog directory
  *     .option("table", "orders")   // versioned table name
  *     .option("keys", "o_orderkey")// optional — defaults to the table's
  *     .load()                      //   manifest-recorded upsert keys;
  *                                  // op STRING + the table's columns
  * }}}
  *
  * The manifest log IS the offset log: offset = table version, batch
  * (start, end] = the exact state diff between the two retained
  * manifests, start 0 = bootstrap (the end version's full snapshot as
  * inserts). Batches are planned from manifests alone (no file listing,
  * no status RPCs for sized manifests) and read ONLY the version pair's
  * diff files — the unshared files, plus shared files whose deletion
  * vector or live tombstones changed, read on both sides — so an
  * append's batch costs O(appended files) against a table of any size.
  * Engine-managed checkpoints give exactly-once:
  * offsets are committed to the checkpoint's WAL, a restart replans the
  * SAME (start, end] range, and manifests are immutable, so the replayed
  * batch is bit-identical — with an idempotent or transactional sink
  * that is end-to-end exactly-once ([[CdcSource.applyFeed]] is the keyed
  * idempotent apply; `foreachBatch` + it mirrors a table).
  *
  * vs [[CdcSource.mirrorOnce]]: that drain-loop stays for schedulers
  * that want a library call; this source gets engine triggers
  * (`AvailableNow`, processing-time), rate control by versions
  * (`maxVersionsPerTrigger`) and by diff bytes (`maxBytesPerTrigger`,
  * [[VersionPacedStream]]), progress reporting, and checkpoint interop
  * for free.
  *
  * BATCH reads work too (the `table_changes(...)` shape):
  * `spark.read.format("graft-cdc").option("startingVersion", a)
  * .option("endingVersion", b)` returns the bounded feed (a, b] through
  * the same partition planner and readers — `startingVersion` 0 yields
  * the ending version's snapshot as inserts; `endingVersion` defaults to
  * the head.
  *
  * Contracts: the schema is FIXED at stream start (the head version's —
  * columns added later need a stream restart to surface; older files
  * read missing columns as null, the same alignment
  * [[VersionedTable.changes]] applies). The checkpointed start version
  * must outlive vacuum retention, or the stream fails with a
  * reset-the-checkpoint message instead of resurrecting ghost rows.
  * Flat-table rewrites diff in one partition; bucket the table to
  * stream updates at scale (class doc of
  * [[org.apache.spark.sql.graft.CdcMicroBatch]]). A partition with an
  * old side emits at most one row per non-NULL key tuple, as `changes`
  * does; an append-only partition (one per new file) streams its rows
  * as inserts, so a key duplicated across appended files surfaces once
  * per row.
  *
  * (Reference anchor: the polling incremental extract,
  * /root/reference/easy_etl/__init__.py:77-87, is the batch ancestor of
  * exactly this source.)
  */
final class CdcStreamProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdc"

  override def supportsExternalMetadata(): Boolean = false

  private def required(options: CaseInsensitiveStringMap, key: String): String = {
    val v = options.get(key)
    require(v != null && v.nonEmpty, s"graft-cdc requires option '$key'")
    v
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val cat = new Catalog(spark, required(options, "dir"))
    val table = required(options, "table")
    require(VersionedTable.currentVersion(cat, table).isDefined,
      s"versioned table '$table' not found under ${cat.dir}")
    val data = VersionedTable.read(cat, table).schema
    StructType(StructField("op", StringType, nullable = false) +: data.fields)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new CdcStreamTable(schema, properties.asScala.toMap)
}

private[streaming] final class CdcStreamTable(
    fullSchema: StructType, options: Map[String, String])
  extends Table with SupportsRead {

  override def name(): String =
    s"graft-cdc:${options.getOrElse("dir", "?")}/${options.getOrElse("table", "?")}"

  override def schema(): StructType = fullSchema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)

  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new CdcScan(fullSchema, options)
    }
}

private[streaming] final class CdcScan(
    fullSchema: StructType, options: Map[String, String]) extends Scan {

  override def readSchema(): StructType = fullSchema

  override def description(): String = "graft-cdc change feed"

  private def opt(k: String) = options.find(_._1.equalsIgnoreCase(k)).map(_._2)
    .getOrElse(throw new IllegalArgumentException(s"graft-cdc requires option '$k'"))

  private def optNum(k: String): Option[Long] =
    options.find(_._1.equalsIgnoreCase(k)).map(_._2.toLong)

  /** CDC key columns: the explicit `keys` option when given, else the
    * table's manifest-RECORDED upsert keys (written by every keyed load)
    * — so feed consumers don't re-declare (and possibly typo) what the
    * table already knows. An explicit option that DISAGREES with the
    * recorded keys wins but warns: classifying on a non-key column turns
    * every update into an insert+delete pair. */
  private def resolveKeys(cat: graft.etl.Catalog, table: String): Seq[String] = {
    val explicit = options.find(_._1.equalsIgnoreCase("keys"))
      .map(_._2.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val recorded = VersionedTable.recordedUpsertKeys(cat, table)
    (explicit, recorded) match {
      case (Some(e), Some(r)) =>
        if (e.map(_.toLowerCase).toSet != r.map(_.toLowerCase).toSet)
          graft.GraftLog.warn(
            s"graft-cdc 'keys' option (${e.mkString(",")}) " +
              s"differs from table '$table''s recorded upsert keys " +
              s"(${r.mkString(",")}) — using the explicit option; a non-key " +
              "column here makes every update read as an insert+delete pair")
        e
      case (Some(e), None) => e
      case (None, Some(r)) => r
      case (None, None) => throw new IllegalArgumentException(
        s"graft-cdc requires option 'keys': table '$table' records no " +
          "upsert keys to default from (it was never keyed-loaded)")
    }
  }

  /** The `admissionFilter` option for the CDC shapes: driver-side FILE
    * pruning at batch planning, restricted to KEY-column predicates —
    * the one shape that is diff-sound: a matching key's files always
    * admit on both sides (zone pruning is one-sided), so the feed is
    * COMPLETE for matching keys; files holding only non-matching keys
    * may skip, which can surface those keys' rows asymmetrically — the
    * consumer re-applies the same predicate and drops them (they never
    * match). A value-column predicate would instead lose matching keys'
    * counterpart rows, so it is refused. */
  private def resolveAdmission(spark: SparkSession, cat: graft.etl.Catalog,
                               table: String): Option[CdcStreamProvider.Admission] =
    options.find(_._1.equalsIgnoreCase("admissionFilter")).map(_._2.trim)
      .filter(_.nonEmpty).map { sql =>
        val a = CdcStreamProvider.admission(spark,
          StructType(fullSchema.fields.drop(1)), sql)
        val keys = resolveKeys(cat, table).map(_.toLowerCase).toSet
        require(a.refs.nonEmpty && a.refs.forall(r => keys(r.toLowerCase)),
          s"graft-cdc admissionFilter may reference KEY columns only " +
            s"(got ${a.refs.mkString(", ")}; keys: ${keys.mkString(", ")}) — " +
            "pruning by a value column would lose matching keys' " +
            "counterpart rows from the diff; re-apply the filter " +
            "downstream for exact results")
        a
      }

  /** Bounded batch feed (startingVersion, endingVersion] — the
    * `table_changes` shape over the same planner/readers as the stream.
    * Bounds also take TIMESTAMPS (`startingTimestamp` = earliest commit
    * at-or-after, `endingTimestamp` = newest commit at-or-before, both
    * by recorded commit times — the Delta rules), mutually exclusive
    * with their version twins. */
  override def toBatch: Batch = new Batch {
    private val spark = SparkSession.active
    private val cat = new Catalog(spark, opt("dir"))
    private val table = opt("table")
    private def optStr(k: String) =
      options.find(_._1.equalsIgnoreCase(k)).map(_._2)
    // NOTE the batch bound convention: `startingVersion` is the EXCLUSIVE
    // diff base (feed = (sv, ev]; 0 = snapshot-as-inserts), while
    // `startingTimestamp` means "include commits at-or-after the instant"
    // — so it resolves to that commit's PREDECESSOR as the base
    private val sv = {
      require(optNum("startingVersion").isEmpty ||
        optStr("startingTimestamp").isEmpty,
        "startingVersion and startingTimestamp are mutually exclusive")
      optNum("startingVersion")
        .orElse(optStr("startingTimestamp").map(t =>
          VersionedTable.versionAtOrAfter(cat, table,
            CdcStreamProvider.parseUtcMillis(t))
            .map(_ - 1L)
            .getOrElse(VersionedTable.currentVersion(cat, table).getOrElse(0L))))
        .getOrElse(0L)
    }
    private val ev = {
      require(optNum("endingVersion").isEmpty ||
        optStr("endingTimestamp").isEmpty,
        "endingVersion and endingTimestamp are mutually exclusive")
      optNum("endingVersion")
        .orElse(optStr("endingTimestamp").map(t =>
          VersionedTable.versionAt(cat, table,
            CdcStreamProvider.parseUtcMillis(t))))
        .getOrElse(VersionedTable.currentVersion(cat, table).getOrElse(0L))
    }

    override def planInputPartitions(): Array[InputPartition] = {
      if (sv >= ev) return Array.empty
      val admit = resolveAdmission(spark, cat, table)
        .map(_.zonePred).getOrElse(org.apache.spark.sql.graft.ZonePred.And(Nil))
      CdcStreamProvider.cdcPartitions(spark, cat, table, sv, ev,
        StructType(fullSchema.fields.drop(1)), admit)
    }

    override def createReaderFactory(): PartitionReaderFactory =
      // the bounded feed presents the RANGE-END version's names: both
      // diff sides read through ev's mapping (physical names are stable,
      // so old files resolve the same columns)
      org.apache.spark.sql.graft.CdcMicroBatch.readerFactory(spark,
        StructType(fullSchema.fields.drop(1)),
        resolveKeys(cat, table),
        VersionedTable.columnMapping(cat, table, Some(ev)))
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val spark = SparkSession.active
    val cat = new Catalog(spark, opt("dir"))
    new CdcMicroBatchStream(
      spark,
      dir = opt("dir"),
      table = opt("table"),
      keys = resolveKeys(cat, opt("table")),
      dataSchema = StructType(fullSchema.fields.drop(1)), // minus op
      maxVersionsPerTrigger = optNum("maxVersionsPerTrigger"),
      maxBytesPerTrigger = optNum("maxBytesPerTrigger"),
      startingVersion = CdcStreamProvider.resolveStartingVersion(
        cat, opt("table"), optNum("startingVersion"),
        options.find(_._1.equalsIgnoreCase("startingTimestamp")).map(_._2),
        failOnDataLoss = options.find(_._1.equalsIgnoreCase("failOnDataLoss"))
          .exists(_._2.toBoolean),
        startingTag = options.find(_._1.equalsIgnoreCase("startingTag"))
          .map(_._2)),
      admit = resolveAdmission(spark, cat, opt("table")).map(_.zonePred)
        .getOrElse(org.apache.spark.sql.graft.ZonePred.And(Nil)))
  }
}

private[graft] object CdcStreamProvider {

  /** The diff partitions of (sv, ev] for the bounded batch and the stream:
    * one per (old, new) slice pair the manifests plan, each carrying its
    * SIDE's live equality-tombstone specs — the diff reader resolves each
    * version's own tombstones before diffing, so the feed sees through
    * write-without-read upserts without a compact. */
  private[streaming] def cdcPartitions(
      spark: SparkSession, cat: Catalog, table: String, sv: Long, ev: Long,
      dataSchema: StructType,
      admit: org.apache.spark.sql.graft.ZonePred.P): Array[InputPartition] = {
    import org.apache.spark.sql.graft.{CdcMicroBatch, PlainBatchRead}
    def eqSpecs(v: Long) = PlainBatchRead.eqSpecs(spark, dataSchema, dataSchema,
      VersionedTable.eqDeleteState(cat, table, v)._1)
    val eqOld = if (sv <= 0L) Nil else eqSpecs(sv)
    val eqNew = eqSpecs(ev)
    VersionedTable.cdcSlices(cat, table, sv, ev, admit).map { case (old, fresh) =>
      CdcMicroBatch.CdcInputPartition(old, fresh, eqOld, eqNew): InputPartition
    }.toArray
  }

  /** COLUMN-MAPPING STABILITY GUARD for long-running streams: the stream
    * captured (dataSchema, physOf) at start; physical names are
    * immutable, so the pair stays valid forever — UNLESS a later commit
    * re-points one of the captured logical names at a different physical
    * column (RENAME away + ADD a namesake). Reading on would silently
    * decode the WRONG column, so the batch fails loudly instead and the
    * operator restarts the stream against the new schema (Delta blocks
    * column-mapping changes under streams the same way). */
  private[streaming] def requireMappingStable(
      cat: Catalog, table: String, v: Long,
      dataSchema: org.apache.spark.sql.types.StructType,
      captured: Map[String, String]): Unit = {
    val now = VersionedTable.columnMapping(cat, table, Some(v))
    val drifted = dataSchema.fieldNames.filter(f =>
      now.getOrElse(f, f) != captured.getOrElse(f, f))
    if (drifted.nonEmpty)
      throw new IllegalStateException(
        s"column mapping of '$table' changed under a running stream " +
          s"(columns: ${drifted.mkString(", ")} were renamed/re-added " +
          s"since the stream started) — restart the stream to pick up " +
          "the new schema")
    // TYPE drift is just as silent-dangerous: a mid-stream widen means
    // new files carry the wide physical type, which the stream's narrow
    // captured schema cannot decode — fail with the restart hint instead
    // of a deep parquet column-convert error
    val recorded = VersionedTable.recordedSchemaAt(cat, table, v)
    recorded.foreach { sch =>
      // the read path normalizes TimestampNTZ to Timestamp, so the
      // stream's captured schema legitimately differs there — only a
      // REAL retype (a mid-stream widen) should fail the batch
      def norm(dt: org.apache.spark.sql.types.DataType) =
        if (dt == org.apache.spark.sql.types.TimestampNTZType)
          org.apache.spark.sql.types.TimestampType
        else dt
      val byName = sch.fields.map(f => f.name -> norm(f.dataType)).toMap
      val retyped = dataSchema.fields.collect {
        case f if byName.get(f.name).exists(_ != norm(f.dataType)) =>
          s"${f.name} (${norm(f.dataType).simpleString} → " +
            s"${byName(f.name).simpleString})"
      }
      if (retyped.nonEmpty)
        throw new IllegalStateException(
          s"column types of '$table' changed under a running stream " +
            s"(${retyped.mkString(", ")}) — restart the stream to pick " +
            "up the widened schema")
    }
  }

  /** Parse an `admissionFilter` option against `schema`: resolve and
    * bind through an empty frame (so functions and casts resolve like
    * any WHERE clause), returning the zone-predicate tree (driver-side
    * FILE pruning at batch planning) and the bound row predicate (the
    * exact row-level half — executors drop non-matching rows, so a
    * filtered stream equals `unfiltered.where(pred)`). Deterministic
    * expressions only; subqueries refused (they would re-evaluate
    * against another table's state at each trigger). */
  private[graft] final case class Admission(
      zonePred: org.apache.spark.sql.graft.ZonePred.P,
      rowPred: org.apache.spark.sql.catalyst.expressions.Expression,
      refs: Set[String])

  private[graft] def admission(spark: SparkSession,
                               schema: StructType, sql: String): Admission =
    admissionOf(spark, schema,
      org.apache.spark.sql.functions.expr(sql), sql)

  /** The Column-shaped twin: analyze ANY predicate Column (including an
    * `expr(text)` wrapper the node walker can't see through) against an
    * empty frame of `schema`, fold coerced literals, and export the
    * zone-pruning tree — the shared SQL-text → ZonePred path of the
    * streaming admission filter and the scoped-compaction WHERE. */
  private[graft] def admissionOf(spark: SparkSession, schema: StructType,
                                 pred: org.apache.spark.sql.Column,
                                 sql: String): Admission = {
    val analyzed = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .where(pred)
      .queryExecution.analyzed
    val f = analyzed.collectFirst {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter => flt
    }.getOrElse(throw new IllegalArgumentException(
      s"admissionFilter did not analyze to a row predicate: $sql"))
    require(f.condition.deterministic,
      s"admissionFilter must be deterministic: $sql")
    require(!f.condition.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]),
      s"admissionFilter must not contain a subquery: $sql")
    // constant-fold by hand: the ANALYZED tree wraps coerced literals in
    // Casts (`k >= 250` on a bigint column is `k >= cast(250 as bigint)`),
    // and the optimizer can't run here (it would fold the empty relation
    // and drop the Filter) — without this every coerced literal reads as
    // Unknown and the zone maps prune nothing
    val folded = f.condition.transformUp {
      case e if e.foldable &&
          !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          e.eval(org.apache.spark.sql.catalyst.InternalRow.empty), e.dataType)
    }
    val bound = org.apache.spark.sql.catalyst.expressions.BindReferences
      .bindReference(folded, f.child.output)
    Admission(org.apache.spark.sql.graft.ZoneMapFileIndex.resolvedPred(folded),
      bound, f.condition.references.map(_.name).toSet)
  }

  /** Epoch millis, or an ISO-8601 instant — THE one timestamp parser
    * behind `timestampAsOf`, `startingTimestamp`, and the
    * `expire_snapshots` procedure. Accepts the standard suffixed forms
    * first (`...Z`, `...+02:00` — `LocalDateTime.parse` throws on a
    * zone designator, so without these branches the most common UTC
    * spelling would crash); zone-LESS date-times and bare dates read as
    * UTC, the project-wide session contract. */
  private[graft] def parseUtcMillis(t: String): Long =
    scala.util.Try(t.trim.toLong).getOrElse {
      val txt = t.trim.replace(' ', 'T')
      scala.util.Try(java.time.Instant.parse(txt).toEpochMilli).getOrElse(
        scala.util.Try(java.time.OffsetDateTime.parse(txt).toInstant.toEpochMilli)
          .getOrElse {
            val ldt =
              if (txt.length <= 10) java.time.LocalDate.parse(txt).atStartOfDay()
              else java.time.LocalDateTime.parse(txt)
            ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          })
    }

  /** Streaming start position: `startingVersion` (that version's changes
    * form the first batch — no snapshot), or `startingTimestamp`
    * (ISO-8601 UTC / epoch millis, resolved to the EARLIEST commit at or
    * after the instant by the manifest-recorded commit times); both
    * together are rejected; neither = snapshot bootstrap. A timestamp
    * past every retained commit starts an empty tail at the head.
    *
    * `failOnDataLoss`: when the resolved version's diff base was
    * VACUUMED away, the default (false) falls back to a full-snapshot
    * bootstrap with a logged warning — the entire current table re-emits
    * as inserts, safe only for idempotent keyed consumers. `true` fails
    * the query instead (Kafka/Delta's loud-death option) for operators
    * who would rather re-provision than risk duplicates. */
  private[graft] def resolveStartingVersion(
      cat: graft.etl.Catalog, table: String,
      startingVersion0: Option[Long],
      startingTimestamp: Option[String],
      failOnDataLoss: Boolean = false,
      startingTag: Option[String] = None): Option[Long] = {
    require(Seq(startingVersion0, startingTimestamp, startingTag)
      .count(_.isDefined) <= 1,
      "startingVersion, startingTimestamp, and startingTag are mutually " +
        "exclusive")
    // NAMED REFS compose with streams: `startingTag` starts the feed at
    // the tagged version's changes — and the tag PINS vacuum retention,
    // so the diff base can never be reclaimed out from under the offset
    val startingVersion = startingVersion0.orElse(startingTag.map(tag =>
      graft.etl.VersionedTable.tagVersion(cat, table, tag).getOrElse(
        throw new IllegalArgumentException(
          s"table '$table' has no tag '$tag' for startingTag"))))
    // versions start at 1; 0 or negative would serialize an offset whose
    // crash-restore is ambiguous — reject loudly instead of mis-resuming
    startingVersion.foreach(v => require(v >= 1,
      s"startingVersion must be >= 1 (versions are 1-based), got $v"))
    startingVersion.orElse(startingTimestamp.flatMap { t =>
      val resolved = VersionedTable.versionAtOrAfter(cat, table, parseUtcMillis(t))
        .getOrElse(VersionedTable.currentVersion(cat, table).getOrElse(0L) + 1L)
      // the exact "changes since" diff needs the resolved version's BASE
      // manifest (resolved-1); when vacuum already dropped it, fall back
      // to the snapshot bootstrap — Delta's rule: serve from the earliest
      // available commit — rather than failing later with an opaque
      // vacuumed-away error mid-stream. LOUDLY: the consumer asked for
      // changes-since-an-instant and will instead receive the whole
      // current table as inserts — silent, that reads as mass duplicates.
      if (resolved > 1 &&
          VersionedTable.versions(cat, table).headOption.forall(resolved <= _)) {
        if (failOnDataLoss) throw new IllegalStateException(
          s"startingTimestamp '$t' on '$table' resolves to version " +
            s"$resolved, whose diff base was vacuumed away, and " +
            "failOnDataLoss=true refuses the full-snapshot fallback — " +
            "retain more versions or restart without the option")
        graft.GraftLog.warn(
          s"startingTimestamp '$t' on '$table' resolves " +
            s"to version $resolved, whose diff base was vacuumed away — " +
            "falling back to a FULL SNAPSHOT bootstrap (the entire current " +
            "table re-emits as inserts). Retain more versions, set " +
            "failOnDataLoss=true to refuse instead, or expect " +
            "the duplicates and apply the feed idempotently by key")
        None
      } else Some(resolved)
    })
  }
}

/** Offset = the table version (monotone, atomic per commit). */
private[streaming] final case class CdcOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** A micro-batch stream over a versioned table's commits — the offset,
  * pacing and AvailableNow machinery shared by the `graft-cdc` change
  * feed ([[CdcMicroBatchStream]]) and the `graft` append tail
  * ([[GraftAppendStream]]). Offset = table version; batch (start, end]
  * spans the commits after `start` up to `end`; start 0 is the snapshot
  * bootstrap unless `startingVersion` was given.
  *
  * RATE CONTROL by commits (`maxVersionsPerTrigger`) and/or bytes
  * (`maxBytesPerTrigger`, over the subclass's per-version
  * [[versionBytes]], read from manifests: zero data I/O). A batch always admits at least
  * one version (a single commit bigger than the byte budget must still
  * flow — same rule as every file-source maxBytes option), and the
  * bootstrap snapshot admits whole (it is one atomic state). Without caps
  * a trigger drains to the head in one batch.
  *
  * Subclasses supply only the byte measure, the partition plan and the
  * reader factory. */
private[streaming] abstract class VersionPacedStream(
    spark: SparkSession, dir: String, table: String,
    dataSchema: StructType,
    maxVersionsPerTrigger: Option[Long],
    maxBytesPerTrigger: Option[Long],
    startingVersion: Option[Long],
    sourceName: String)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  protected val cat = new Catalog(spark, dir)

  // COLUMN MAPPING captured at stream start — era-paired with
  // `dataSchema` (physical names are immutable, so the pair stays valid
  // for the stream's lifetime); a later RENAME that re-points one of
  // OUR logical names fails the per-batch stability guard loudly
  // (restart the stream) instead of silently reading another column
  protected val capturedPhysOf: Map[String, String] =
    VersionedTable.columnMapping(cat, table)

  /** Bytes the step (v-1, v] reads — the `maxBytesPerTrigger` unit. */
  protected def versionBytes(v: Long): Long

  /** The input partitions of the batch (sv, ev], sv < ev, after the
    * column-mapping guard passed. */
  protected def plan(sv: Long, ev: Long): Array[InputPartition]

  // Trigger.AvailableNow contract: pin the drain target ONCE at query
  // start, so commits racing the drain don't extend it — without this
  // native support Spark falls back to a single Trigger.Once-style batch
  // and version pacing can't run to completion (SPARK-45178)
  @volatile private var availableTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(VersionedTable.currentVersion(cat, table).getOrElse(0L))

  private def head(): Long = {
    val h = VersionedTable.currentVersion(cat, table).getOrElse(0L)
    availableTarget.fold(h)(math.min(h, _))
  }

  override def initialOffset(): Offset =
    CdcOffset(startingVersion.map(_ - 1L).getOrElse(0L))

  override def latestOffset(): Offset = CdcOffset(head())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val h = head()
    val sv = start.asInstanceOf[CdcOffset].version
    if (h <= sv || (maxVersionsPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty))
      return CdcOffset(h)
    // BOOTSTRAP CLAMP: a fresh snapshot stream's first batch (sv = 0)
    // reads the END version's snapshot, so its end must be a RETAINED
    // version — min(head, n) may have been vacuumed away on a long-lived
    // table. Clamping to the earliest retained version is exact (that
    // snapshot IS the table's full state). An EXPLICIT startingVersion
    // is the user's position: if vacuumed, the planner fails loudly
    // rather than silently jumping forward.
    val bootstrap = sv == 0L && startingVersion.isEmpty
    val first =
      if (bootstrap) VersionedTable.versions(cat, table).headOption.getOrElse(1L)
      else sv + 1
    var end = math.min(first, h)
    var bytes = if (bootstrap) 0L else stepBytes(end) // snapshot admits whole
    def admits(v: Long): Boolean =
      maxVersionsPerTrigger.forall(v - sv <= _) &&
        maxBytesPerTrigger.forall { cap =>
          val b = stepBytes(v)
          if (bytes + b <= cap) { bytes += b; true } else false
        }
    while (end < h && admits(end + 1)) end += 1
    CdcOffset(end)
  }

  override def reportLatestOffset(): Offset = CdcOffset(head())

  // manifests are immutable once committed, so a version's step cost
  // never changes — memoized per stream so byte pacing parses each
  // manifest pair ONCE per query lifetime, not once per trigger probe
  private val stepBytesMemo =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private def stepBytes(v: Long): Long =
    stepBytesMemo.computeIfAbsent(v, _ => versionBytes(v))

  override def deserializeOffset(json: String): Offset = {
    // sign-aware: an offset of -1 must restore as -1 after a crash, not 1
    // ("\\d+" alone drops the minus and silently skips the re-snapshot)
    val m = java.util.regex.Pattern.compile("-?\\d+").matcher(json)
    require(m.find(), s"malformed $sourceName offset: $json")
    CdcOffset(m.group().toLong)
  }

  final override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (sv, ev) = (start.asInstanceOf[CdcOffset].version,
      end.asInstanceOf[CdcOffset].version)
    if (sv >= ev) return Array.empty
    CdcStreamProvider.requireMappingStable(cat, table, ev, dataSchema,
      capturedPhysOf)
    plan(sv, ev)
  }

  override def commit(end: Offset): Unit = () // checkpoint WAL owns progress

  override def stop(): Unit = ()
}

/** The `graft-cdc` stream: each batch is the exact state diff of its
  * version range ([[CdcStreamProvider.cdcPartitions]]), byte-paced by
  * the diff files each step reads ([[VersionedTable.cdcStepBytes]]).
  * Without caps a trigger drains to the head in one exact state diff —
  * cheaper in total I/O (intermediate versions of a key collapse), but
  * one big transaction; with them, progress lands in paced commits, the
  * mirrorOnce cadence. */
private[streaming] final class CdcMicroBatchStream(
    spark: SparkSession, dir: String, table: String,
    keys: Seq[String], dataSchema: StructType,
    maxVersionsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    startingVersion: Option[Long] = None,
    admit: org.apache.spark.sql.graft.ZonePred.P =
      org.apache.spark.sql.graft.ZonePred.And(Nil))
  extends VersionPacedStream(spark, dir, table, dataSchema,
    maxVersionsPerTrigger, maxBytesPerTrigger, startingVersion, "graft-cdc") {

  override protected def versionBytes(v: Long): Long =
    VersionedTable.cdcStepBytes(cat, table, v)

  override protected def plan(sv: Long, ev: Long): Array[InputPartition] =
    CdcStreamProvider.cdcPartitions(spark, cat, table, sv, ev, dataSchema, admit)

  override def createReaderFactory(): PartitionReaderFactory =
    org.apache.spark.sql.graft.CdcMicroBatch.readerFactory(spark, dataSchema,
      keys, capturedPhysOf)
}

/** APPEND-TAIL streaming read for the plain `graft` format — the
  * `spark.readStream.format("graft")` source (the most common streaming
  * shape over a table format: Delta's default stream):
  *
  *   - offset = table version; batch (start, end] = the files ADDED
  *     across the range as plain table rows (NO `op` column — inserts by
  *     construction); start 0 = the end version's full snapshot;
  *   - a commit that rewrites/deletes files REFUSES loudly (use
  *     `graft-cdc` for update/delete semantics) unless
  *     `skipChangeCommits=true` skips those commits wholesale;
  *   - `startingVersion` starts the tail at that version's appends with
  *     NO snapshot (the backfill-already-done shape);
  *   - `maxVersionsPerTrigger` and `maxBytesPerTrigger` pace it as in
  *     [[VersionPacedStream]], the bytes being each commit's
  *     manifest-recorded appended bytes.
  *
  * The scan machinery is [[PlainBatchRead]] (columnar-capable), but note
  * Spark applies NO filter/column pushdown to DSv2 streaming scans —
  * filters run post-scan; for a selective historical backfill prefer the
  * BATCH format (`spark.read.format("graft")`), whose zone maps prune
  * whole files at plan time.
  *
  * Planning is manifest-only: an append's batch costs O(appended files)
  * against a table of any size, each new file one partition — full
  * parallelism, O(1) memory, no state. */
private[graft] final class GraftAppendStream(
    spark: SparkSession, dir: String, table: String,
    dataSchema: StructType, requiredSchema: StructType,
    filters: Seq[org.apache.spark.sql.sources.Filter],
    maxVersionsPerTrigger: Option[Long],
    maxBytesPerTrigger: Option[Long],
    skipChangeCommits: Boolean,
    startingVersion: Option[Long],
    admissionFilter: Option[String] = None)
  extends VersionPacedStream(spark, dir, table, dataSchema,
    maxVersionsPerTrigger, maxBytesPerTrigger, startingVersion,
    "graft stream") {

  /** The `admissionFilter` option, resolved once at stream start:
    * per-batch file planning skips every file whose zone maps prove no
    * matching row (the streaming twin of batch pushed-filter pruning),
    * and the readers drop non-matching rows exactly — the filtered
    * stream IS `unfiltered.where(pred)`, at a fraction of the I/O on a
    * clustered table. */
  private val admission =
    admissionFilter.map(CdcStreamProvider.admission(spark, dataSchema, _))

  override protected def versionBytes(v: Long): Long =
    VersionedTable.appendedBytes(cat, table, v)

  override protected def plan(sv: Long, ev: Long): Array[InputPartition] = {
    // with startingVersion the walk is per-version from the very first
    // batch (startingVersion=1 means v1's APPENDS, not a head snapshot —
    // and change commits inside the range are detected, not folded away)
    val slices = VersionedTable.appendSlices(cat, table, sv, ev,
      skipChangeCommits,
      snapshotBootstrap = startingVersion.isEmpty,
      admit = admission.map(_.zonePred)
        .getOrElse(org.apache.spark.sql.graft.ZonePred.And(Nil)))
    plannedHasDv = slices.exists(_.dv.nonEmpty)
    // live tombstones at the planned END version (only the bootstrap
    // snapshot can carry them: any LATER eq-upsert is detected as a
    // change commit by the walk) — the readers resolve them in-task,
    // so a bootstrap over a hot CDC table never surfaces dead rows
    plannedEq = VersionedTable.eqDeleteState(cat, table, ev)._1
    // split + pack like the batch format: a bootstrap over big compacted
    // files fans out, a burst of tiny appends shares tasks
    org.apache.spark.sql.graft.PlainBatchRead.planPartitions(spark, slices)
  }

  /** Whether the last-PLANNED batch carries deletion vectors — only the
    * bootstrap snapshot can (appends never do; a DV commit is a change
    * commit in this tail). Set at plan time so the factory always
    * matches the batch it reads: probing the HEAD here instead would
    * race a compaction into a factory that can't serve the planned
    * slices and crash-loop the replayed batch. DV-capable until planned. */
  @volatile private var plannedHasDv = true
  // the planned batch's live tombstone state — same one-version rule
  @volatile private var plannedEq: Seq[(Seq[String], Long, Seq[String])] = Nil

  override def createReaderFactory(): PartitionReaderFactory =
    org.apache.spark.sql.graft.PlainBatchRead.readerFactory(spark,
      dataSchema, requiredSchema, filters,
      allowColumnar = true,
      rowFilter = admission.map(_.rowPred),
      mayHaveDv = plannedHasDv,
      physOf = capturedPhysOf,
      eqDeletes = plannedEq)
}
