package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{DataWriter, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.graft.{CdcMicroBatch, DeletionVectors, GraftStreamWrite, PlainBatchRead, ZonePred}

import graft.etl.{Catalog, VersionedTable}

/** SQL UPDATE / MERGE / DELETE on MERGE-ON-READ tables — Spark's
  * DELTA-BASED row-level operation contract (`SupportsDelta`), the
  * deletion-vector twin of [[GraftRowLevelOperation]] (copy-on-write):
  *
  * {{{
  *   CREATE TABLE g.default.t (...) TBLPROPERTIES ('write.mode' = 'merge-on-read')
  *   UPDATE g.default.t SET status = 'X' WHERE k = 42   -- O(row), not O(file)
  * }}}
  *
  * Mechanics:
  *
  *   1. the SCAN emits matched rows WITH their row identity — the
  *      `_file`/`_pos` metadata columns ([[rowId]]), positions stamped
  *      by the parquet readers' row-index generation (exact under
  *      row-group skipping); pushed filters zone-prune whole files
  *      driver-side exactly like a normal read, and existing deletion
  *      vectors filter, so an already-deleted row can never re-match;
  *   2. the WRITE receives per-row deltas: `delete(id)` SPILLS positions
  *      to fragment sidecars in the staging dir (bounded task buffer);
  *      updates arrive as delete + reinsert
  *      ([[representUpdateAsDeleteAndInsert]]); inserted/updated rows
  *      stage as executor parquet (the streaming sink's machinery);
  *   3. the driver commits ONE version ([[VersionedTable.applyRowDeltas]])
  *      from POINTERS alone — commit messages are O(files), and the
  *      per-file prior∪fragments merge is bounded by one file's rows:
  *      one merged DV sidecar per touched file, staged rows appended,
  *      EVERY untouched byte carried verbatim — a 1-row UPDATE on a
  *      100 TB table commits O(row + DV) bytes. Reads apply the DVs
  *      (vectorized — [[DvColumnar]]); compaction materializes them.
  *
  * Copy-on-write remains the bulk path (and the default): a statement
  * touching most of a file's rows is cheaper rewritten than vectored —
  * enforced per file by `dv_max_fraction` (a mostly-deleted file
  * rewrites inside the DV commit instead of growing its vector).
  * Same conflict rule as the CoW op: scans pin one version, a
  * concurrent commit fails the statement's CAS with
  * ConcurrentModificationException — retry the statement.
  *
  * SCAN ceiling, pinned here so nobody chases it: Spark's runtime
  * group filtering (`RowLevelOperationRuntimeGroupFiltering`) applies
  * to GROUP-BASED operations only, so a `MERGE INTO` on a MOR table
  * reads every statically-admitted file — UPDATE/DELETE WHERE still
  * zone-prune through their pushed condition, and the LIBRARY upsert
  * ([[graft.etl.VersionedTable]]'s merge-on-read load path) prunes by
  * the batch's key envelope, which SQL MERGE's ON condition cannot
  * express. Prefer the library path for huge-table small-batch merges.
  */
private[sources] final class GraftDeltaRowLevelOperation(
    cmd: RowLevelOperation.Command, dataSchema: StructType,
    options: Map[String, String]) extends RowLevelOperation with SupportsDelta {

  /** The operation's SNAPSHOT version, pinned on first resolution —
    * same reasoning as the CoW op's pin: every scan of this statement
    * must see one state; concurrent commits surface at the commit CAS. */
  private val pinned = new java.util.concurrent.atomic.AtomicLong(-1L)

  private[sources] def pinnedVersion(cat: Catalog, table: String): Long = {
    val v = pinned.get()
    if (v >= 0L) v
    else {
      val head = VersionedTable.headVersion(cat, table)
      if (pinned.compareAndSet(-1L, head)) head else pinned.get()
    }
  }

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"graft merge-on-read $cmd"

  /** Updates split into delete + reinsert — the writer only ever needs
    * positions-to-delete and rows-to-append, which is exactly the DV
    * commit's shape. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(PlainBatchRead.FileCol),
      Expressions.column(PlainBatchRead.PosCol))

  override def requiredMetadataAttributes(): Array[NamedReference] = rowId()

  override def newScanBuilder(
      caseInsensitive: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
      with SupportsPushDownRequiredColumns {
      private var pushed: Array[sources.Filter] = Array.empty
      private var required: StructType = dataSchema

      override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
        pushed = filters
        filters // pruning only; Spark re-applies the condition
      }
      override def pushedFilters(): Array[sources.Filter] = pushed

      // live equality tombstones: their key columns must survive
      // pruning — the in-task anti-filter binds them by ordinal (a
      // DELETE pruned to its condition columns would otherwise miss
      // them); Spark's project above the scan keeps the OUTPUT narrow
      private lazy val eqKeyCols: Seq[String] = {
        (GraftTableProvider.opt(options, "dir"),
         GraftTableProvider.opt(options, "table")) match {
          case (Some(d), Some(t)) =>
            val c = new Catalog(SparkSession.active, d)
            VersionedTable.currentVersion(c, t)
              .map(VersionedTable.eqTombstoneKeyCols(c, t, _))
              .getOrElse(Nil)
          case _ => Nil
        }
      }

      override def pruneColumns(requiredSchema: StructType): Unit = {
        val missing = eqKeyCols.filter(k =>
          !requiredSchema.fieldNames.exists(_.equalsIgnoreCase(k)) &&
            dataSchema.fieldNames.exists(_.equalsIgnoreCase(k)))
        required =
          if (missing.isEmpty) requiredSchema
          else StructType(requiredSchema.fields ++ missing.map(k =>
            dataSchema.fields.find(_.name.equalsIgnoreCase(k)).get))
      }

      override def build(): Scan = new Scan {
        // the pinned version's live equality tombstones: the delta
        // scan must APPLY them — matching a tombstoned row would
        // reinsert (resurrect) it through the update path
        @volatile private var plannedEq
            : Seq[(Seq[String], Long, Seq[String])] = Nil
        override def readSchema(): StructType = required
        override def description(): String = "graft merge-on-read row-op scan"
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            val spark = SparkSession.active
            val cat = new Catalog(spark,
              GraftTableProvider.requiredOpt(options, "dir"))
            val table = GraftTableProvider.requiredOpt(options, "table")
            val v = pinnedVersion(cat, table)
            val pred = ZonePred.And(
              pushed.toSeq.map(GraftTableProvider.filterPred))
            val (eqEntries, eqStamps) =
              VersionedTable.eqDeleteState(cat, table, v)
            plannedEq = eqEntries
            val stampsNorm = eqStamps.map { case (k, x) =>
              new Path(k).toUri.getPath -> x }
            PlainBatchRead.planPartitions(spark,
              VersionedTable.batchSlices(cat, table, Some(v), pred)
                .map { case (p, l, dv) => CdcMicroBatch.FileSlice(p, l, dv,
                  eqSeq = stampsNorm.getOrElse(
                    new Path(p).toUri.getPath, Long.MaxValue)) })
          }
          override def createReaderFactory(): PartitionReaderFactory = {
            val spark = SparkSession.active
            val cat = new Catalog(spark,
              GraftTableProvider.requiredOpt(options, "dir"))
            val table = GraftTableProvider.requiredOpt(options, "table")
            // row mode: the scan projects `_pos` (and applies DVs), so
            // the vectorized path is off for this DML scan by design
            PlainBatchRead.readerFactory(spark,
              dataSchema, required, pushed.toSeq, allowColumnar = false,
              mayHaveDv = true,
              physOf = VersionedTable.columnMapping(cat, table,
                Some(pinnedVersion(cat, table))),
              eqDeletes = plannedEq)
          }
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaRowWrite(info.schema(), options,
          cat => pinnedVersion(cat, GraftTableProvider.requiredOpt(options, "table")))
    }
}

/** One task's commit payload: the staged insert file (if any rows) plus
  * POINTERS to the position-fragment sidecars the task wrote
  * executor-side (file → fragment paths) — never the positions
  * themselves, so a bulk DELETE's commit messages stay O(files), not
  * O(deleted rows), through the driver. */
private[sources] final case class DeltaTaskCommit(
    staged: Option[(String, Long)],
    deletes: Map[String, Seq[String]]) extends WriterCommitMessage

/** The merge-on-read write: per-row deltas → one versioned DV commit. */
private[sources] final class GraftDeltaRowWrite(
    schema: StructType, options: Map[String, String],
    versionOf: Catalog => Long) extends DeltaWrite with DeltaBatchWrite {

  private def dir = GraftTableProvider.requiredOpt(options, "dir")
  private def table = GraftTableProvider.requiredOpt(options, "table")
  private val stagingId = UUID.randomUUID().toString

  override def toBatch: DeltaBatchWrite = this

  override def description(): String = "graft merge-on-read row-level write"

  private def stagingRoot(spark: SparkSession): String =
    s"${new Catalog(spark, dir).dirPath(table)}.__vstage/mor-$stagingId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    val inner = GraftStreamWrite.stageFactory(spark, schema, stagingRoot(spark))
    // GENERATED columns recompute in the TASKS (the copy-on-write
    // row-op semantics): the expressions analyze once here against the
    // write schema and ship bound — each task wraps its inserts in one
    // codegen'd projection
    val cat = new Catalog(spark, dir)
    val genExprs = VersionedTable.recordedHeadSchema(cat, table)
      .flatMap(s => graft.etl.GeneratedCols.boundRowProjection(spark, s, schema))
    // IDENTITY columns assign in the tasks too: one high-water
    // reservation per statement (driver-side manifest math), strided
    // disjointly across the write's tasks — MERGE-inserted rows get
    // fresh values with no global zip, reinserted update rows carry
    // their own. Identity stamps BEFORE the generated projection so a
    // generation expression deriving from the identity column sees the
    // assigned value.
    val idSpecs = VersionedTable.identityDeltaSpecs(cat, table)
      .filter { case (c, _, _) => schema.fieldNames.exists(_.equalsIgnoreCase(c)) }
    new GraftDeltaWriterFactory(inner, stagingRoot(spark),
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()), genExprs,
      if (idSpecs.isEmpty) None
      else Some((schema, idSpecs, info.numPartitions())))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val cat = new Catalog(spark, dir)
    val commits = messages.collect { case m: DeltaTaskCommit => m }
    val staged = commits.flatMap(_.staged).collect { case (p, n) if n > 0 => p }
    // group the tasks' FRAGMENT POINTERS per file (tasks partition by
    // scan slice, but a shuffle between scan and write may split a
    // file's matches across tasks — applyRowDeltas merges and dedups
    // fragment contents per file)
    val deletes = commits.iterator.flatMap(_.deletes)
      .foldLeft(Map.empty[String, Seq[String]]) { case (acc, (f, frags)) =>
        acc.updated(f, acc.getOrElse(f, Nil) ++ frags)
      }
    if (deletes.isEmpty && staged.isEmpty) {
      // a DML that matched nothing commits NO version (Delta/Iceberg)
      cleanup(spark)
      return
    }
    try {
      val version = versionOf(cat)
      VersionedTable.applyRowDeltas(cat, table, version,
        "row-op (merge-on-read)", deletes, staged.toSeq,
        GraftTableProvider.csvOpt(options, "idOrder"))
        .getOrElse(throw VersionedTable.rowOpConflict(table, version))
    } finally cleanup(spark)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanup(SparkSession.active)

  private def cleanup(spark: SparkSession): Unit =
    try {
      val p = new Path(stagingRoot(spark))
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
    } catch { case _: java.io.IOException => () }
}

private[sources] final class GraftDeltaWriterFactory(
    inner: org.apache.spark.sql.graft.GraftStreamWriterFactory,
    stagingRoot: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    genExprs: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] = None,
    // (write schema, (column, reservationBase, step)*, numTasks) when
    // the table declares identity columns present in the write schema
    idSpecs: Option[(StructType, Seq[(String, Long, Long)], Int)] = None)
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaTaskWriter(inner.createWriter(partitionId, taskId),
      stagingRoot, conf, genExprs,
      idSpecs.map { case (s, specs, n) =>
        new org.apache.spark.sql.graft.IdentityStamp.TaskIdentityAssigner(
          s, specs, partitionId, n)
      })
}

/** Task-side delta consumer: deleted positions SPILL to fragment
  * sidecars in the staging dir (bounded buffer per file — a bulk DELETE
  * never accumulates its full position set in task memory), inserts
  * stream to the staged parquet writer. The id rows carry
  * [[GraftDeltaRowLevelOperation.rowId]]'s projection — `(_file, _pos)`
  * in that order. */
private[sources] final class GraftDeltaTaskWriter(
    inner: DataWriter[InternalRow],
    stagingRoot: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    genExprs: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] = None,
    idAssigner: Option[org.apache.spark.sql.graft.IdentityStamp.TaskIdentityAssigner] = None)
  extends DeltaWriter[InternalRow] {

  // generated-column recompute over every inserted/updated row — one
  // codegen'd projection per task, built from the driver-bound exprs
  private lazy val genProj = genExprs.map(es =>
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(es))

  private val FlushAt =
    org.apache.spark.sql.graft.DeletionVectors.FragmentFlushPositions

  private val buffered =
    scala.collection.mutable.HashMap[String, scala.collection.mutable.ArrayBuffer[Long]]()
  private val fragments =
    scala.collection.mutable.HashMap[String, scala.collection.mutable.ArrayBuffer[String]]()
  private lazy val fsys =
    new Path(stagingRoot).getFileSystem(conf.value)

  private def flush(file: String): Unit =
    buffered.get(file).filter(_.nonEmpty).foreach { b =>
      // positions within one task's view of one file are distinct by
      // construction (Spark hands each matched row once); sort suffices
      // for the fragment contract — the commit-side merge dedups anyway
      val pos = b.toArray
      java.util.Arrays.sort(pos)
      val p = new Path(stagingRoot,
        s"dvfrag-${UUID.randomUUID()}.dv")
      org.apache.spark.sql.graft.DeletionVectors.write(fsys, p, pos)
      fragments.getOrElseUpdate(file,
        new scala.collection.mutable.ArrayBuffer[String]()) += p.toString
      b.clear()
    }

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(0).toString
    val b = buffered.getOrElseUpdate(file,
      new scala.collection.mutable.ArrayBuffer[Long]())
    b += id.getLong(1)
    if (b.length >= FlushAt) flush(file)
  }

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    // defensive: representUpdateAsDeleteAndInsert routes updates as
    // delete + reinsert, but honor the combined form too
    delete(metadata, id)
    insert(row)
  }

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    insert(row)

  override def insert(row: InternalRow): Unit = {
    // identity assignment first (a generation expression may derive
    // from the identity column), then the generated-column recompute
    val assigned = idAssigner.fold(row)(a => a(row))
    inner.write(genProj.fold(assigned)(p => p(assigned)))
  }

  override def commit(): WriterCommitMessage = {
    buffered.keys.toSeq.foreach(flush)
    val staged = inner.commit() match {
      case GraftStreamWrite.StagedFile(p, n) => Some((p, n))
      case _ => None
    }
    DeltaTaskCommit(staged, fragments.view.mapValues(_.toSeq).toMap)
  }

  override def abort(): Unit = inner.abort()

  override def close(): Unit = inner.close()
}

private[sources] object GraftDeltaRowLevelOps {
  def builder(dataSchema: StructType,
              options: Map[String, String]): RowLevelOperationInfo => RowLevelOperationBuilder =
    info => () => new GraftDeltaRowLevelOperation(info.command(), dataSchema, options)
}
