package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.graft.{CdcMicroBatch, GraftStreamWrite, PlainBatchRead, ZonePred}

import graft.etl.{Catalog, VersionedTable}

/** SQL UPDATE / MERGE (and non-pushable DELETE) on versioned tables —
  * Spark's GROUP-BASED (copy-on-write) row-level operation contract:
  *
  * {{{
  *   UPDATE g.default.t SET status = 'X' WHERE k < 100
  *   MERGE INTO g.default.t USING src ON t.k = src.k
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * Mechanics — the three pieces the engine asks for:
  *
  *   1. the SCAN identifies the affected groups: the command's condition
  *      is pushed by `GroupBasedRowLevelOperationScanPlanning` for GROUP
  *      elimination only, so the zone maps prune whole files driver-side
  *      (one-sided: scanned ⊇ files-containing-matches), and the readers
  *      are built with NO filters — copy-on-write must see EVERY row of
  *      a scanned file, matching or not (a reader-dropped row would be
  *      silently deleted by the rewrite);
  *   2. Spark re-derives the scanned groups' FULL new contents (updated
  *      + retained + merge-inserted rows) and hands them to the WRITE,
  *      which stages them as executor-written parquet (the streaming
  *      sink's machinery);
  *   3. the driver commits ONE version replacing exactly the scanned
  *      files with the staged batch ([[VersionedTable.replaceScanned]]):
  *      bucket layout preserved, ids re-stamped above the monotone floor
  *      (stable per-key ids remain the keyed-upsert path's contract),
  *      prior versions still time-travel. A concurrent commit between
  *      scan and write fails the statement with a
  *      ConcurrentModificationException instead of merging stale state.
  *
  * At 100 TB the cost profile is the right one: a selective UPDATE
  * touches O(files containing matches) — zone-pruned, not O(table);
  * MERGE reads the scanned groups once and writes them once.
  */
private[sources] final class GraftRowLevelOperation(
    cmd: RowLevelOperation.Command, dataSchema: StructType,
    options: Map[String, String]) extends RowLevelOperation {

  // the scan → write handshake: which files (at which version) the
  // operation's scan planned — the exact set the commit replaces
  @volatile private[sources] var scannedVersion: Long = -1L
  @volatile private[sources] var scannedFiles: Set[String] = Set.empty

  private def opt(k: String) = GraftTableProvider.opt(options, k)

  /** The operation's SNAPSHOT version, pinned on first resolution: the
    * runtime-group-filter subquery and the main scan are SEPARATE Scan
    * instances, and resolving the head independently in each would let a
    * concurrent commit land between them — the subquery's `_file` values
    * would then name files the newer version rewrote, and the narrowed
    * main scan would silently skip matching rows with the CAS none the
    * wiser. One pinned version means every scan sees one state and any
    * concurrent commit is CAUGHT by the commit CAS (the advertised
    * ConcurrentModificationException), never silently lost. */
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

  override def description(): String = s"graft copy-on-write $cmd"

  /** `_file` rides the operation so Spark routes the replace write
    * through the projecting task (rows reach the writer in the TABLE
    * schema, the operation marker stripped) — the same reason Iceberg's
    * copy-on-write scans carry it. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      PlainBatchRead.FileCol))

  override def newScanBuilder(
      caseInsensitive: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
      with SupportsPushDownRequiredColumns {
      private var pushed: Array[sources.Filter] = Array.empty
      private var required: StructType = dataSchema

      override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
        pushed = filters
        filters // group pruning only; Spark keeps the condition in the plan
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

      override def build(): Scan = new Scan
        with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
        // RUNTIME group filtering — the piece that makes MERGE scale:
        // its ON condition references the source, so nothing pushes
        // statically; Spark instead computes the matching rows' `_file`
        // values from the source join and hands them here as an IN
        // predicate, narrowing the rewrite to the files that actually
        // contain matches (Iceberg's copy-on-write pattern). Narrowing
        // only — an unrecognized predicate shape leaves the set as-is.
        @volatile private var runtimeKeep: Option[Set[String]] = None
        // the pinned version's live equality tombstones: the rewrite's
        // scan must APPLY them — re-emitting a tombstoned row into the
        // replacement files would resurrect it
        @volatile private var plannedEq
            : Seq[(Seq[String], Long, Seq[String])] = Nil

        override def filterAttributes()
            : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .column(PlainBatchRead.FileCol))

        override def filter(
            predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
          import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
          predicates.foreach { p =>
            val values = p.name() match {
              // an EMPTY IN is an exact answer — "no file contains
              // matches" — and must narrow to the empty set (an
              // insert-only MERGE then appends instead of rewriting the
              // whole table); only unrecognized SHAPES are ignored
              case "IN" | "=" => Some(p.children().toSeq.collect {
                case l: V2Literal[_] => String.valueOf(l.value())
              }.toSet)
              case _ => None
            }
            values.foreach { vs =>
              runtimeKeep = Some(runtimeKeep.fold(vs)(_ intersect vs))
            }
          }
        }

        override def readSchema(): StructType = required
        override def description(): String = "graft row-level-op scan"
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            val spark = SparkSession.active
            val cat = new Catalog(spark,
              GraftTableProvider.requiredOpt(options, "dir"))
            val table = GraftTableProvider.requiredOpt(options, "table")
            // every scan of this operation plans at ONE pinned version
            // (see pinnedVersion): concurrent commits surface as a CAS
            // conflict at write time, never as silently skipped rows
            val v = pinnedVersion(cat, table)
            val pred = ZonePred.And(
              pushed.toSeq.map(GraftTableProvider.filterPred))
            val slices0 = VersionedTable.batchSlices(cat, table, Some(v), pred)
            val slices = runtimeKeep.fold(slices0)(keep =>
              slices0.filter { case (p, _, _) => keep.contains(p) })
            scannedVersion = v
            scannedFiles = slices.map(_._1).toSet
            // equality tombstones ride the plan like the batch scan's:
            // each slice carries its stamp, the factory ships key sets
            val (eqEntries, eqStamps) =
              VersionedTable.eqDeleteState(cat, table, v)
            plannedEq = eqEntries
            val stampsNorm = eqStamps.map { case (k, x) =>
              new org.apache.hadoop.fs.Path(k).toUri.getPath -> x }
            // DVs ride the slice: a copy-on-write rewrite of a DV'd
            // file must re-derive only its LIVE rows. Split + pack like
            // every batch read (row identity is file-global — exact
            // under ranged reads).
            PlainBatchRead.planPartitions(spark,
              slices.map { case (p, l, dv) => CdcMicroBatch.FileSlice(p, l, dv,
                eqSeq = stampsNorm.getOrElse(
                  new org.apache.hadoop.fs.Path(p).toUri.getPath,
                  Long.MaxValue)) })
          }
          override def createReaderFactory(): PartitionReaderFactory = {
            val spark = SparkSession.active
            val cat = new Catalog(spark,
              GraftTableProvider.requiredOpt(options, "dir"))
            val table = GraftTableProvider.requiredOpt(options, "table")
            // filters = Nil: every row of a scanned file must surface.
            // DV'd versions stay vectorized (selection-vector filter);
            // the _file projection alone forces row mode where needed.
            PlainBatchRead.readerFactory(spark, dataSchema, required, Nil,
              allowColumnar = true,
              mayHaveDv = VersionedTable.hasDvs(cat, table,
                Some(pinnedVersion(cat, table))),
              physOf = VersionedTable.columnMapping(cat, table,
                Some(pinnedVersion(cat, table))),
              eqDeletes = plannedEq)
          }
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceWrite(info.schema(), options, () =>
          (scannedVersion, scannedFiles))
    }
}

/** The replace write: staged executor parquet → ONE versioned commit
  * swapping the scanned files for the staged batch (full loader id/bucket
  * semantics on the driver). */
private[sources] final class GraftReplaceWrite(
    schema: StructType, options: Map[String, String],
    scanned: () => (Long, Set[String])) extends Write with BatchWrite {

  private def dir = GraftTableProvider.requiredOpt(options, "dir")
  private def table = GraftTableProvider.requiredOpt(options, "table")
  private val stagingId = UUID.randomUUID().toString

  override def toBatch: BatchWrite = this

  override def description(): String = "graft copy-on-write replace"

  private def stagingRoot(spark: SparkSession): String =
    s"${new Catalog(spark, dir).dirPath(table)}.__vstage/replace-$stagingId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftStreamWrite.stageFactory(SparkSession.active, schema,
      stagingRoot(SparkSession.active))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val cat = new Catalog(spark, dir)
    val files = messages.collect {
      case GraftStreamWrite.StagedFile(p, n) if n > 0 => p
    }
    val (version, removed) = scanned()
    require(version >= 0,
      "row-level write committed before its scan planned — engine contract violation")
    if (removed.isEmpty && files.isEmpty) {
      // nothing scanned, nothing produced — a DML that matched nothing
      // commits NO version (Delta/Iceberg semantics): repeated no-op
      // statements must not inflate history or feed empty stream batches
      cleanup(spark)
      return
    }
    val replacement =
      if (files.nonEmpty) spark.read.schema(schema).parquet(files.toSeq: _*)
      else spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    try VersionedTable.replaceScanned(cat, table, version,
      "row-op (copy-on-write)", removed, replacement,
      GraftTableProvider.csvOpt(options, "idOrder"))
      .getOrElse(throw VersionedTable.rowOpConflict(table, version))
    finally cleanup(spark)
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

private[sources] object GraftRowLevelOps {
  def builder(dataSchema: StructType,
              options: Map[String, String]): RowLevelOperationInfo => RowLevelOperationBuilder =
    info => () => new GraftRowLevelOperation(info.command(), dataSchema, options)
}
