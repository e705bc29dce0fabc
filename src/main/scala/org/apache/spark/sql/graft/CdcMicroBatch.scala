package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side machinery of the `graft-cdc` streaming source: each
  * input partition carries an (old files, new files) pair from the two
  * manifests' diff files, and its reader computes the change feed
  * PARTITION-LOCALLY — old side into a hash map, new side streamed
  * against it, leftovers emitted as deletes. Rows come out in the
  * change-feed shape (`op` + the table's columns; delete rows carry the
  * vanished OLD values).
  *
  * Scale contract: the in-memory side is ONE BUCKET's worth of replaced
  * rows (the driver plans one partition per touched bucket — the same
  * unit every other scoped operation in the layer uses), and an
  * append-only version pair plans one partition PER NEW FILE with no old
  * side at all, so bootstrap and appends stream at full parallelism with
  * O(1) memory. A FLAT table's copy-on-write rewrite degrades to one
  * partition (documented on the provider): bucket the table to stream
  * its updates at scale.
  *
  * Both diff sides read through the `graft` format's row-mode slice
  * reader ([[PlainReaderFactory]]: Spark's own parquet reader closures,
  * deletion vectors by parquet row index, equality tombstones probed
  * in-task, column mapping), so the feed decodes files exactly as a
  * table scan does. Hence this file's home in the `org.apache.spark.sql`
  * package tree with the other internal-API seams.
  */
object CdcMicroBatch {

  /** One data file — or one BYTE RANGE of one — of a planned scan
    * (absolute path + lengths from the manifest: no status RPC at plan
    * time). `dv` is the file's deletion-vector sidecar (absolute path)
    * when the planned version carries one — the reader drops those
    * positions (row indexes are file-global, so a ranged read filters
    * exactly). `start`/`fileSize` carry the range: the default is the
    * whole file (`start = 0`, `fileSize = length`). */
  final case class FileSlice(path: String, length: Long,
                             dv: Option[String] = None,
                             start: Long = 0L,
                             fileSizeOpt: Long = -1L,
                             // equality-tombstone stamp: tombstones with
                             // seq STRICTLY GREATER delete matching keys
                             // from this file (MaxValue = newer than all)
                             eqSeq: Long = Long.MaxValue) extends Serializable {
    def fileSize: Long = if (fileSizeOpt < 0L) length else fileSizeOpt
  }

  /** One CDC diff partition. `eqOld`/`eqNew` carry each SIDE's live
    * equality tombstones ([[PlainBatchRead.EqDeleteSpec]]): the reader
    * resolves them per side before diffing, so a write-without-read
    * upsert's implied deletes surface as feed rows — the old side reads
    * the FROM version's resolved state, the new side the TO version's. */
  final case class CdcInputPartition(oldFiles: Seq[FileSlice],
                                     newFiles: Seq[FileSlice],
                                     eqOld: Seq[PlainBatchRead.EqDeleteSpec] = Nil,
                                     eqNew: Seq[PlainBatchRead.EqDeleteSpec] = Nil)
    extends InputPartition

  /** Build the factory on the DRIVER: both diff sides read through one
    * row-mode [[PlainBatchRead.readerFactory]] over the stream's
    * `dataSchema`; `keys` name the CDC key columns. */
  def readerFactory(spark: SparkSession, dataSchema: StructType,
                    keys: Seq[String],
                    physOf: Map[String, String] = Map.empty): CdcReaderFactory = {
    keys.foreach(k => require(dataSchema.fieldNames.contains(k),
      s"CDC key column '$k' not in table schema ${dataSchema.fieldNames.mkString(",")}"))
    val keyOrdinals = keys.map(dataSchema.fieldIndex)
    val valueOrdinals = dataSchema.fieldNames.indices
      .filterNot(keyOrdinals.contains)
    new CdcReaderFactory(
      PlainBatchRead.readerFactory(spark, dataSchema, dataSchema, Nil,
        allowColumnar = false, physOf = physOf),
      dataSchema, keyOrdinals, valueOrdinals)
  }
}

/** Plain batch-read machinery for the `graft` DataSource-V2 format: one
  * partition per file, decoded through the same Spark-built parquet
  * reader closure as the CDC side — with COLUMN PRUNING (requiredSchema)
  * and PARQUET FILTER PUSHDOWN (the pushed `sources.Filter`s reach
  * row-group/page skipping inside each file; the zone maps already
  * skipped whole files at plan time on the driver).
  *
  * COLUMNAR when the schema allows it ([[ParquetFileFormat.supportBatch]]
  * — all-atomic columns and the vectorized reader enabled): the readers
  * hand Spark whole `ColumnarBatch`es, so the scan runs at
  * memory-bandwidth through the vectorized decoder exactly like the
  * library path's native parquet scan — at 100 TB the difference between
  * SIMD-friendly column decode and a virtual call per row. Nested/exotic
  * schemas fall back to the row-returning reader (same plan, same
  * results, Spark picks per [[PartitionReaderFactory.supportColumnarReads]]). */
object PlainBatchRead {

  /** The table's METADATA columns: `_file`, the absolute data-file path
    * a row lives in, and `_pos`, the row's position within that file —
    * queryable, and together the ROW ID Spark's delta-based row-level
    * operations key their deletes on (the Iceberg `_file`/`_pos`
    * pattern). `_pos` values come from the parquet readers' row-index
    * generation, so they are exact under row-group/page skipping. */
  val FileCol = "_file"
  val PosCol = "_pos"

  final case class FileInputPartition(file: CdcMicroBatch.FileSlice)
    extends InputPartition

  /** A bin-packed partition: several small files (or ranges) read by one
    * task — the Spark-native scan's FilePartition shape for the `graft`
    * format, so a million tiny appends don't plan a million tasks. */
  final case class FilesInputPartition(files: Seq[CdcMicroBatch.FileSlice])
    extends InputPartition

  /** One hash bucket's whole file set as ONE keyed partition — what a
    * storage-partitioned join groups on: the key is the bucket id, and
    * Spark zips equal keys across the two sides with NO exchange
    * ([[graft.sources.GraftBucketFunction]]). Empty file lists are
    * legal (a runtime filter pruned the bucket; the task is a no-op)
    * so both sides always present all N keys. */
  final case class BucketFilesInputPartition(
      files: Seq[CdcMicroBatch.FileSlice], bucketId: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
      new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](bucketId))
  }

  /** SPLIT + PACK planned slices into input partitions, the way Spark's
    * own file scans do (`FilePartition.getFilePartitions` re-derived):
    * files larger than `spark.sql.files.maxPartitionBytes` split into
    * byte ranges (parquet reads the row groups whose midpoints fall in
    * the range; `_pos`/DV row indexes stay file-global and exact), then
    * ranges pack first-fit-decreasing into partitions up to the same
    * budget, each file charged `spark.sql.files.openCostInBytes` so
    * thousands of tiny files don't collapse into one task. One
    * file-per-partition was the old shape — correct, but a 1 GB
    * compacted file serialized into one task and a year of micro-appends
    * planned a task per file; at 100 TB both ends matter. */
  def planPartitions(spark: SparkSession,
                     slices: Seq[CdcMicroBatch.FileSlice]): Array[InputPartition] =
    splitAndPack(spark, slices).map { bin =>
      if (bin.length == 1) FileInputPartition(bin.head): InputPartition
      else FilesInputPartition(bin): InputPartition
    }.toArray

  /** The split + first-fit-decreasing packing behind [[planPartitions]],
    * exposed as slice GROUPS so the storage-partitioned-join planner can
    * pack WITHIN a bucket (several task-sized partitions per hot bucket
    * — what the partially-clustered distribution splits and replicates
    * against). */
  def splitAndPack(spark: SparkSession,
      slices: Seq[CdcMicroBatch.FileSlice]): Seq[Seq[CdcMicroBatch.FileSlice]] = {
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val ranges = slices.flatMap { s =>
      if (s.length <= maxBytes) Seq(s)
      else (0L until s.length by maxBytes).map { off =>
        s.copy(start = s.start + off,
          length = math.min(maxBytes, s.length - off),
          fileSizeOpt = s.fileSize)
      }
    }
    val out = Seq.newBuilder[Seq[CdcMicroBatch.FileSlice]]
    var bin = Vector.empty[CdcMicroBatch.FileSlice]
    var binBytes = 0L
    def flush(): Unit = {
      if (bin.nonEmpty) out += bin
      bin = Vector.empty; binBytes = 0L
    }
    ranges.sortBy(-_.length).foreach { r =>
      val cost = r.length + openCost
      if (bin.nonEmpty && binBytes + cost > maxBytes) flush()
      bin :+= r; binBytes += cost
    }
    flush()
    out.result()
  }

  def readerFactory(spark: SparkSession,
                    dataSchema: StructType, requiredSchema: StructType,
                    filters: Seq[org.apache.spark.sql.sources.Filter],
                    allowColumnar: Boolean = true,
                    rowFilter: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None,
                    mayHaveDv: Boolean = false,
                    physOf: Map[String, String] = Map.empty,
                    // live equality tombstones: (key columns, seq,
                    // absolute key-file paths) per tombstone — tasks
                    // load the key sets EXECUTOR-SIDE ([[eqDeleteSet]])
                    // and drop rows of OLDER slices whose key tuple
                    // matches; zero driver state, so a 100M-key CDC
                    // batch can never OOM the driver at plan time
                    eqDeletes: Seq[(Seq[String], Long, Seq[String])] = Nil)
      : PlainReaderFactory = {
    // the admission row predicate is BOUND against the full dataSchema
    // ordinals — sound only while the reader's output IS dataSchema.
    // Spark applies no pruning to DSv2 streaming scans today; if that
    // ever changes this fails loudly instead of misfiltering ordinals.
    require(rowFilter.isEmpty || requiredSchema == dataSchema,
      "rowFilter is bound against the full table schema but the scan " +
        s"was pruned to $requiredSchema — rebind before pruning streams")
    // `_file`/`_pos` requested: read the data columns, inject path /
    // row position at the right ordinals (row mode — metadata queries
    // and DML scans are the rare case; the common scan stays columnar).
    // A DATA column of the same name (foreign parquet) wins over the
    // metadata column: never inject over it.
    val fileOrdinal =
      if (dataSchema.fieldNames.contains(FileCol)) -1
      else requiredSchema.fieldNames.indexOf(FileCol)
    val posOrdinal =
      if (dataSchema.fieldNames.contains(PosCol)) -1
      else requiredSchema.fieldNames.indexOf(PosCol)
    val dataRequired = StructType(requiredSchema.fields.filterNot(f =>
      (fileOrdinal >= 0 && f.name == FileCol) ||
        (posOrdinal >= 0 && f.name == PosCol)))
    val fmt = new ParquetFileFormat
    val columnar = allowColumnar && fileOrdinal < 0 && posOrdinal < 0 &&
      rowFilter.isEmpty && eqDeletes.isEmpty &&
      fmt.supportBatch(spark, dataRequired)
    // COLUMN MAPPING: the parquet readers resolve columns BY NAME inside
    // the files, which carry PHYSICAL names — translate the schemas (and
    // the row-group-skipping filters: an untranslated logical name could
    // coincide with a RETIRED physical column still present in old files
    // and skip on the wrong bytes). Emission is positional, so the
    // factory's output still matches the LOGICAL requiredSchema; the
    // rowFilter binds by ordinal and needs no translation.
    val physData = ColumnMapping.physSchema(dataSchema, physOf)
    val physRequired = ColumnMapping.physSchema(dataRequired, physOf)
    val physFilters = ColumnMapping.translateFilters(filters, physOf)
    // ONE session-conf materialization per factory (newHadoopConf copies
    // every SQL conf); the builders get private copies so their schema
    // keys can't cross-contaminate, each a cheap Configuration clone
    val baseConf = spark.sessionState.newHadoopConf()
    val readFunc = fmt.buildReaderWithPartitionValues(
      spark,
      dataSchema = physData,
      partitionSchema = StructType(Nil),
      requiredSchema = physRequired,
      filters = physFilters,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> columnar.toString),
      hadoopConf = new org.apache.hadoop.conf.Configuration(baseConf))
    // row-index twin: the same read with parquet's ROW-INDEX temp column
    // appended — the readers stamp each row's TRUE file position (exact
    // under row-group/page skipping), consumed for `_pos` projection and
    // deletion-vector filtering. Built only when a partition could need
    // it (`_pos` projected, or the caller says DV'd slices are possible
    // and the scan is row-mode anyway — allowColumnar=false is that
    // legacy signal): a pure columnar scan never pays the extra closure.
    // NULLABLE on purpose: the file physically lacks this column, and
    // the vectorized reader's checkColumn refuses required-but-missing
    // columns before the row-index generator ever sees them.
    val idxSchema = StructType(physRequired.fields :+
      org.apache.spark.sql.types.StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        org.apache.spark.sql.types.LongType, nullable = true))
    val needRowIdx =
      posOrdinal >= 0 || ((mayHaveDv || !allowColumnar) && !columnar)
    val rowIdxFunc =
      if (!needRowIdx) null
      else fmt.buildReaderWithPartitionValues(
        spark,
        dataSchema = physData,
        partitionSchema = StructType(Nil),
        requiredSchema = idxSchema,
        filters = physFilters,
        options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = new org.apache.hadoop.conf.Configuration(baseConf))
    // columnar row-index twin: BATCH-returning with the row-index column
    // appended — DV'd partitions stay vectorized, the deletion vector
    // applied per-batch by selection vector ([[DvColumnar.filterBatch]])
    // instead of dropping the whole scan to row mode
    val colIdxFunc =
      if (!(columnar && mayHaveDv)) null
      else fmt.buildReaderWithPartitionValues(
        spark,
        dataSchema = physData,
        partitionSchema = StructType(Nil),
        requiredSchema = idxSchema,
        filters = physFilters,
        options = Map(FileFormat.OPTION_RETURNING_BATCH -> "true"),
        hadoopConf = new org.apache.hadoop.conf.Configuration(baseConf))
    // equality-tombstone key ordinals resolve against the DATA-COLUMN
    // layout the raw iterators emit (dataRequired — before any _file /
    // _pos injection); the scan guarantees key columns survive pruning
    val eqBound = eqSpecs(spark, dataSchema, dataRequired, eqDeletes)
    new PlainReaderFactory(readFunc, rowIdxFunc, columnar, fileOrdinal,
      posOrdinal, dataRequired.fields.map(_.dataType),
      new org.apache.spark.util.SerializableConfiguration(baseConf),
      rowFilter, colIdxFunc, eqBound)
  }

  /** One live equality tombstone, as the DRIVER plans it and the TASKS
    * resolve it: probe ordinals/types bound against the scan's
    * data-column layout, the tombstone's sequence stamp, its key-file
    * paths, and a Spark-built parquet reader closure for those files
    * (the same ship-a-closure pattern as the data readers). The key SET
    * never exists on the driver — the old broadcast design collected
    * every tombstone key at plan time, which on a 100M-row CDC batch is
    * a multi-GB driver allocation per scan. */
  final case class EqDeleteSpec(
      ords: Array[Int],
      types: Array[org.apache.spark.sql.types.DataType],
      seq: Long,
      files: Seq[String],
      read: PartitionedFile => Iterator[InternalRow]) extends Serializable

  /** DRIVER-built tombstone specs — one per live tombstone: probe
    * ordinals/types bound against `bindTo` (the row layout the
    * consumer's iterators emit), plus a Spark-built parquet reader
    * closure for the key files (LOGICAL names — tombstones are written
    * post-mapping and renames refuse while any are live), shipped to
    * executors like the data readers. The key SETS load in the tasks
    * ([[eqDeleteSet]]), never on the driver. Shared by the batch scan,
    * both row-level-op scans, the CDC diff reader, and the append-tail
    * bootstrap. */
  def eqSpecs(spark: SparkSession, dataSchema: StructType,
              bindTo: StructType,
              entries: Seq[(Seq[String], Long, Seq[String])]): Seq[EqDeleteSpec] = {
    if (entries.isEmpty) return Nil
    val fmt = new ParquetFileFormat
    val baseConf = spark.sessionState.newHadoopConf()
    entries.map { case (ks, seq, files) =>
      val keySchema = StructType(ks.map(k =>
        dataSchema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
          throw new IllegalStateException(
            s"tombstone key '$k' not in table schema"))))
      val ords = ks.map { k =>
        val i = bindTo.fieldNames.indexWhere(_.equalsIgnoreCase(k))
        require(i >= 0,
          s"equality-delete key '$k' missing from the read schema — " +
            "the scan must keep tombstone keys through pruning")
        i
      }
      val keyRead = fmt.buildReaderWithPartitionValues(
        spark,
        dataSchema = keySchema,
        partitionSchema = StructType(Nil),
        requiredSchema = keySchema,
        filters = Nil,
        options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = new org.apache.hadoop.conf.Configuration(baseConf))
      EqDeleteSpec(ords.toArray,
        ords.map(bindTo.fields(_).dataType).toArray, seq, files, keyRead)
    }
  }

  /** Per-executor materialization of a tombstone key set — the
    * DV-sidecar pattern ([[DeletionVectors.readCached]]): loaded once
    * per tombstone (keyed by its file list) from the key files
    * themselves, shared by every task probing it (UnsafeRow equality is
    * byte-wise, so probes need no copies). The cache clears wholesale
    * past a small bound: tombstones are transient (compaction
    * materializes them), never a long-lived population. */
  private val eqSetCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.HashSet[InternalRow]]()

  private[graft] def eqDeleteSet(spec: EqDeleteSpec,
      conf: org.apache.hadoop.conf.Configuration)
      : java.util.HashSet[InternalRow] = {
    val key = spec.files.sorted.mkString("\n")
    if (eqSetCache.size > 64) eqSetCache.clear()
    eqSetCache.computeIfAbsent(key, _ => {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
      val proj = UnsafeProjection.create(
        spec.types.zipWithIndex.map { case (t, i) =>
          BoundReference(i, t, nullable = true) }.toIndexedSeq)
      val set = new java.util.HashSet[InternalRow]()
      spec.files.foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val len = hp.getFileSystem(conf).getFileStatus(hp).getLen
        spec.read(partitionedFile(CdcMicroBatch.FileSlice(p, len)))
          .asInstanceOf[Iterator[Any]].flatMap {
            case b: ColumnarBatch => b.rowIterator().asScala
            case r: InternalRow => Iterator.single(r)
          }.foreach(r => set.add(proj(r).copy()))
      }
      set
    })
  }

  private[graft] def partitionedFile(f: CdcMicroBatch.FileSlice): PartitionedFile =
    PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(f.path), f.start, f.length,
      Array.empty[String], 0L, f.fileSize, Map.empty)
}

final class PlainReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    rowIdxFunc: PartitionedFile => Iterator[InternalRow],
    columnar: Boolean,
    fileOrdinal: Int = -1,
    posOrdinal: Int = -1,
    dataTypes: Array[org.apache.spark.sql.types.DataType] = Array.empty,
    conf: org.apache.spark.util.SerializableConfiguration = null,
    // BOUND catalyst predicate over the data-column ordinals (the
    // admission filter's exact row-level half): rows failing it drop
    // inside the reader, so a filtered stream equals unfiltered+filter
    rowFilter: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None,
    // batch-returning twin with the row-index column appended — present
    // exactly when the planner said DV'd slices are possible on a
    // columnar-capable scan; DV'd partitions then stay vectorized
    colIdxFunc: PartitionedFile => Iterator[InternalRow] = null,
    // bound equality tombstones ([[PlainBatchRead.EqDeleteSpec]]) —
    // applied per slice to rows of files whose eqSeq is strictly below
    // the tombstone's; key sets load executor-side from the spec's
    // files through a per-executor cache
    eqDeletes: Seq[PlainBatchRead.EqDeleteSpec] = Nil)
  extends PartitionReaderFactory {

  private val nDataFields = dataTypes.length

  private def slicesOf(partition: InputPartition): Seq[CdcMicroBatch.FileSlice] =
    partition match {
      case PlainBatchRead.FileInputPartition(f) => Seq(f)
      case PlainBatchRead.FilesInputPartition(fs) => fs
      case PlainBatchRead.BucketFilesInputPartition(fs, _) => fs
      case other => throw new IllegalArgumentException(
        s"unexpected partition type: ${other.getClass}")
    }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar &&
      slicesOf(partition).forall(f => f.dv.isEmpty || colIdxFunc != null)

  /** One slice's PROJECTED row iterator — built lazily per slice so a
    * packed partition opens one file at a time. `eq` defaults to the
    * factory's tombstones; the CDC diff passes each side's own. */
  private[graft] def sliceRows(f: CdcMicroBatch.FileSlice,
      eq: Seq[PlainBatchRead.EqDeleteSpec] = eqDeletes): Iterator[InternalRow] = {
    // constant per slice: the file path `_file` surfaces
    val pathValue = UTF8String.fromString(f.path)
    // row index needed when `_pos` projects OR a deletion vector must
    // filter; both read through the row-index twin
    val needIdx = posOrdinal >= 0 || f.dv.nonEmpty
    require(!needIdx || rowIdxFunc != null,
      "graft reader contract violation: a deletion-vector'd " +
        "partition reached a factory built columnar-only — the " +
        "scan must plan its partitions before building the factory")
    val dv: Array[Long] =
      f.dv.fold(Array.empty[Long])(p =>
        DeletionVectors.readCached(conf.value, p))
    val raw =
      (if (needIdx) rowIdxFunc else readFunc)(
        PlainBatchRead.partitionedFile(f))
        .asInstanceOf[Iterator[Any]].flatMap {
          case b: ColumnarBatch => b.rowIterator().asScala
          case r: InternalRow => Iterator.single(r)
        }
    val dvFiltered =
      if (dv.isEmpty) raw
      else raw.filter(r =>
        !DeletionVectors.contains(dv, r.getLong(nDataFields)))
    val it0 = rowFilter match {
      case None => dvFiltered
      case Some(e) =>
        val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(e)
        p.initialize(0)
        dvFiltered.filter(p.eval)
    }
    // equality tombstones STRICTLY NEWER than this slice's stamp drop
    // matching keys — the read-side half of the write-without-read
    // upsert (key sets loaded once per executor from the key files)
    val eqApplicable = eq.filter(_.seq > f.eqSeq)
    val it =
      if (eqApplicable.isEmpty) it0
      else {
        val probes = eqApplicable.map { spec =>
          val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
            .create(spec.types.zip(spec.ords).map { case (t, o) =>
              org.apache.spark.sql.catalyst.expressions.BoundReference(o, t,
                nullable = true) }.toIndexedSeq)
          (proj, PlainBatchRead.eqDeleteSet(spec, conf.value))
        }
        it0.filter(r => !probes.exists { case (p, set) => set.contains(p(r)) })
      }
    val outWidth = nDataFields +
      (if (fileOrdinal >= 0) 1 else 0) + (if (posOrdinal >= 0) 1 else 0)
    def project(r: InternalRow): InternalRow =
      if (fileOrdinal < 0 && posOrdinal < 0 && !needIdx) r
      else if (fileOrdinal < 0 && posOrdinal < 0) {
        // DV-only read: strip the trailing row-index column
        val g = new GenericInternalRow(nDataFields)
        var i = 0
        while (i < nDataFields) {
          g.update(i, if (r.isNullAt(i)) null else r.get(i, dataTypes(i)))
          i += 1
        }
        g
      } else {
        val g = new GenericInternalRow(outWidth)
        var i = 0; var j = 0
        while (j < outWidth) {
          if (j == fileOrdinal) g.update(j, pathValue)
          else if (j == posOrdinal) g.update(j, r.getLong(nDataFields))
          else {
            g.update(j,
              if (r.isNullAt(i)) null else r.get(i, dataTypes(i)))
            i += 1
          }
          j += 1
        }
        g
      }
    it.map(project)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slices = slicesOf(partition)
    new PartitionReader[InternalRow] {
      private val it = slices.iterator.flatMap(sliceRows(_))
      private var cur: InternalRow = _
      override def next(): Boolean = {
        if (it.hasNext) { cur = it.next(); true } else false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }

  /** Vectorized path: the reader closure was built batch-returning
    * (`OPTION_RETURNING_BATCH=true` ⇒ elements ARE `ColumnarBatch`es);
    * hand them through whole. Batch close/reuse follows Spark's own
    * contract — the underlying `RecordReaderIterator` closes on task
    * completion and reuses its batch buffer between `next()` calls. */
  /** One slice's batch iterator: clean slices stream straight through
    * the batch reader; DV'd slices read through the row-index twin and
    * drop deleted positions per-batch by selection vector — still
    * vectorized either way. Empty filtered batches are skipped (Spark
    * handles 0-row batches, but not emitting them is strictly cheaper). */
  private def sliceBatches(f: CdcMicroBatch.FileSlice): Iterator[ColumnarBatch] =
    f.dv match {
      case None =>
        readFunc(PlainBatchRead.partitionedFile(f))
          .asInstanceOf[Iterator[ColumnarBatch]]
      case Some(dvPath) =>
        require(colIdxFunc != null,
          "graft reader contract violation: a deletion-vector'd " +
            "partition reached a columnar factory built without the " +
            "row-index twin — plan partitions before building the factory")
        val dv = DeletionVectors.readCached(conf.value, dvPath)
        colIdxFunc(PlainBatchRead.partitionedFile(f))
          .asInstanceOf[Iterator[ColumnarBatch]]
          .map(DvColumnar.filterBatch(_, nDataFields, dv))
          .filter(_.numRows() > 0)
    }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    require(columnar, "columnar read requested from a row-built factory")
    val slices = slicesOf(partition)
    new PartitionReader[ColumnarBatch] {
      private val it = slices.iterator.flatMap(sliceBatches)
      private var cur: ColumnarBatch = _
      override def next(): Boolean = {
        if (it.hasNext) { cur = it.next(); true } else false
      }
      override def get(): ColumnarBatch = cur
      override def close(): Unit = ()
    }
  }
}

final class CdcReaderFactory(
    sides: PlainReaderFactory,
    dataSchema: StructType,
    keyOrdinals: Seq[Int],
    valueOrdinals: Seq[Int])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: CdcMicroBatch.CdcInputPartition =>
        new CdcPartitionReader(p, sides, dataSchema, keyOrdinals, valueOrdinals)
      case other => throw new IllegalArgumentException(
        s"unexpected partition type: ${other.getClass}")
    }
}

final class CdcPartitionReader(
    part: CdcMicroBatch.CdcInputPartition,
    sides: PlainReaderFactory,
    dataSchema: StructType,
    keyOrdinals: Seq[Int],
    valueOrdinals: Seq[Int])
  extends PartitionReader[InternalRow] {

  private val fieldTypes = dataSchema.fields.map(_.dataType)
  private val nFields = fieldTypes.length

  // each side reads its own version's resolved state: its files' DVs and
  // that version's live equality tombstones
  private def rows(files: Seq[CdcMicroBatch.FileSlice],
                   eq: Seq[PlainBatchRead.EqDeleteSpec]): Iterator[InternalRow] =
    files.iterator.flatMap(sides.sliceRows(_, eq))

  private def keyOf(row: InternalRow): Seq[Any] =
    keyOrdinals.map(i => if (row.isNullAt(i)) null else row.get(i, fieldTypes(i)))

  /** Null-safe equality in catalyst-value space. Content-equal values of
    * the atomic types compare equal (UTF8String, boxed primitives,
    * Decimal); an unequal verdict on exotic representations only yields a
    * spurious `update` row, which every keyed consumer applies
    * idempotently — one-sided by design. */
  private def sameValue(i: Int, a: InternalRow, b: InternalRow): Boolean = {
    val (na, nb) = (a.isNullAt(i), b.isNullAt(i))
    if (na || nb) na && nb
    else a.get(i, fieldTypes(i)) == b.get(i, fieldTypes(i))
  }

  private def out(op: String, row: InternalRow): InternalRow = {
    val g = new GenericInternalRow(1 + nFields)
    g.update(0, UTF8String.fromString(op))
    var i = 0
    while (i < nFields) {
      g.update(i + 1, if (row.isNullAt(i)) null else row.get(i, fieldTypes(i)))
      i += 1
    }
    g
  }

  // a key with a NULL part never pairs (NULL = NULL is unknown, as in
  // VersionedTable.changes): such a row stays out of the map, so an old
  // one is a delete and a new one an insert
  private def nullKey(row: InternalRow): Boolean = keyOrdinals.exists(row.isNullAt)

  // old side materialized ONCE per partition (bucket-bounded, see object
  // doc); rows must be copied — the parquet reader reuses its row buffer.
  // NULL-keyed old rows go straight to the leftover deletes.
  private lazy val (oldByKey, oldNullKeyed) = {
    val m = new java.util.HashMap[Seq[Any], InternalRow]()
    val unpaired = new java.util.ArrayList[InternalRow]()
    rows(part.oldFiles, part.eqOld).foreach { r =>
      val c = r.copy()
      if (nullKey(c)) unpaired.add(c) else m.put(keyOf(c), c)
    }
    (m, unpaired)
  }

  private lazy val newIter = rows(part.newFiles, part.eqNew)
  private var leftoverIter: Iterator[InternalRow] = _
  private var current: InternalRow = _

  // with an old side, a partition emits at most one row per non-NULL key
  // tuple, as VersionedTable.changes does: a key's first new row pairs or
  // inserts, its later new rows (a duplicated key) drop. Bounded like
  // oldByKey, by the bucket. A partition without an old side streams with
  // O(1) memory, so a key duplicated across new files surfaces once per
  // row there.
  private val seenKeys =
    if (part.oldFiles.isEmpty) null else new java.util.HashSet[Seq[Any]]()

  override def next(): Boolean = {
    current = null
    while (current == null && newIter.hasNext) {
      val r = newIter.next()
      val key = if (nullKey(r)) null else keyOf(r)
      // the row buffer is reused: the remembered key takes copied values
      if (key == null || seenKeys == null ||
          seenKeys.add(key.map(InternalRow.copyValue))) {
        val old = if (key == null) null else oldByKey.remove(key)
        if (old == null) current = out("insert", r)
        else if (!valueOrdinals.forall(i => sameValue(i, old, r)))
          current = out("update", r)
        // else unchanged (a rewritten file carries untouched rows): skip
      }
    }
    if (current == null) {
      if (leftoverIter == null)
        leftoverIter = oldNullKeyed.iterator().asScala ++ oldByKey.values().iterator().asScala
      if (leftoverIter.hasNext)
        current = out("delete", leftoverIter.next())
    }
    current != null
  }

  override def get(): InternalRow = current

  override def close(): Unit = ()
}
