package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** VECTORIZED read path for the graft connector (r17, guide §1.2 per-task
  * work): the original `GraftPartitionReader` materializes every row
  * through parquet-hadoop's Group API — a boxed object per value, a
  * field-name→index STRING lookup per field per row, a `DataType` pattern
  * match per field per row — which measured ~10× the task time of Spark's
  * own parquet scan on identical bytes. This path reads through Spark's
  * `VectorizedParquetRecordReader` (the same columnar decoder vanilla
  * parquet scans use) and serves `ColumnarBatch`es straight to the exec
  * layer, with whole-stage codegen consuming vectors instead of
  * `GenericInternalRow`s.
  *
  * Scope (decided SCAN-UNIFORMLY on the driver and stamped into every
  * partition, because Spark forbids mixing row and columnar partitions in
  * one scan): data reads with no `_pos` row-address column (ordinal
  * bookkeeping stays on the row reader) and only types the repo's worlds
  * actually store (atomics + arrays of atomics). Merge-on-read deletion
  * vectors ARE served (r18): batches decode vectorized and the sorted
  * deleted ordinals are applied as a surviving-row index view over the
  * batch ([[GraftMappedColumnVector]]) — no copy, one int indirection per
  * access; block-level predicates are dropped for dv'd files exactly like
  * the row path so physical ordinals stay aligned with the vector.
  * Everything the row reader resolves PER FILE —
  * rename aliases, schema-evolution null columns, ADD COLUMN existence
  * defaults, INT32→BIGINT widened files (the vectorized reader widens
  * natively since Spark 4.0) — is resolved identically here: present data
  * fields are requested under their in-file name at the required type;
  * constants (bucket values, `_cell`, `_file`, defaults, missing-column
  * nulls) ride `initBatch`'s partition-value vectors; a final wrapper
  * batch reorders the vectors to the required column order.
  *
  * Residual filters become block-level parquet predicates exactly as on
  * the row path (row-group skip by stats; Spark re-checks residuals above
  * the scan, so the predicate only ever has to keep a superset). Record-
  * and page-level parquet filtering are explicitly disabled — batch
  * semantics want whole row groups, and the skipping that matters at
  * 100 TB (files via blooms/zone maps, row groups via stats) happens
  * before any page is read.
  *
  * Per-file work is the footer open and the decode only. The Hadoop conf is
  * the session's, shipped once per scan by [[GraftReaderFactory]]; the
  * reader clones it only to set the keys the vectorized reader consults, and
  * opens the footer with read options built from it ([[GraftHadoop]]). No
  * default Hadoop XML is parsed per file.
  */
object GraftColumnar {
  /** Session escape hatch, mirroring Spark's own vectorized-reader flag. */
  def enabled: Boolean =
    org.apache.spark.sql.SparkSession.active.conf
      .get("spark.sql.parquet.enableVectorizedReader", "true") != "false"

  private def atomicOk(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | BinaryType | TimestampType => true
    case _ => false
  }

  /** Can every required column be served from vectors? Bucket/_cell/_file
    * columns are per-partition constants (always fine); `_pos` needs the
    * row reader's ordinal cursor; data columns must be atomics or arrays
    * of atomics (what worlds store — see GraftPartitionReader's matrix). */
  def supportedSchema(required: StructType): Boolean =
    required.fields.forall { f =>
      if (GraftDataSource.isBucket(f.name)) true
      else if (f.name == GraftDataSource.CellColumn ||
        f.name == GraftDataSource.FileColumn) true
      else if (f.name == GraftDataSource.PosColumn) false
      else f.dataType match {
        case ArrayType(et, _) => atomicOk(et)
        case dt               => atomicOk(dt)
      }
    }
}

class GraftColumnarPartitionReader(p: GraftFileSpec,
    // rows this file may still serve (−1 = no pushed limit)
    limit: Long,
    required: StructType,
    // the scan's shipped session conf, shared across tasks: read-only here
    shared: Configuration,
    residual: Array[Filter] = Array.empty,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends GraftFileReader[ColumnarBatch] {

  private var reader: VectorizedParquetRecordReader = _
  private var out: ColumnarBatch = _
  // required-order view through the dv survivor mapping (dv'd files only)
  private var mappedOut: ColumnarBatch = _
  private var current: ColumnarBatch = _
  private var emitted = 0L
  override def emittedRows: Long = emitted
  // merge-on-read deletion vector: sorted physical ordinals to skip, with a
  // monotone cursor (batches arrive in ordinal order — no filters are
  // pushed when a dv is present, so row groups are never skipped)
  private var dv: Array[Long] = Array.emptyLongArray
  private var dvIdx = 0
  private var baseOrdinal = 0L
  private val mapping = new Array[Int](GraftColumnarPartitionReader.Capacity)
  // const-only projection (no required data column present in THIS file —
  // pre-ADD-COLUMN files under schema evolution, or bucket/_cell-only
  // reads): batches are synthesized from constant vectors, no parquet
  // reader at all (the r17 path handed VectorizedParquetRecordReader an
  // empty requested schema and leaned on undocumented behavior)
  private var constOnlyRemaining = -1L

  locally {
    val filePath = new Path(p.file)
    val inFile = HadoopInputFile.fromPath(filePath, shared)
    val pfr = GraftHadoop.openFooter(inFile)
    val (fileSchema, fileLen, footer, rowCount) =
      try (pfr.getFooter.getFileMetaData.getSchema, inFile.getLength,
        pfr.getFooter, pfr.getRecordCount)
      finally pfr.close()
    if (p.dvPath != null) {
      val dvP = new Path(p.dvPath)
      dv = GraftDv.read(dvP.getFileSystem(shared), dvP)
    }

    def fieldInFile(name: String): Option[String] =
      GraftDataSource.resolveInFile(fileSchema, name, aliases)

    // split the required fields: data columns present in this file (read
    // through the vectorized reader under their in-file name at the
    // required type) vs per-partition constants (buckets, _cell, _file,
    // existence defaults, missing-column nulls)
    final case class Const(dt: DataType, value: Any)
    val resolved: Array[Either[Const, String]] = required.fields.map { f =>
      if (GraftDataSource.isBucket(f.name))
        Left(Const(f.dataType, p.buckets.get(f.name).map { v =>
          f.dataType match {
            case IntegerType => v.toInt: Any
            case _           => v: Any
          }
        }.orNull))
      else if (f.name == GraftDataSource.CellColumn)
        Left(Const(f.dataType,
          UTF8String.fromString(GraftDataSource.cellString(p.buckets))))
      else if (f.name == GraftDataSource.FileColumn)
        Left(Const(f.dataType, UTF8String.fromString(p.file)))
      else fieldInFile(f.name) match {
        case Some(inFileName) => Right(inFileName)
        case None if f.metadata.contains("EXISTS_DEFAULT") =>
          Left(Const(f.dataType,
            org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
              .getExistenceDefaultValue(f)))
        case None => Left(Const(f.dataType, null))
      }
    }
    val dataIdx = resolved.zipWithIndex.collect { case (Right(_), i) => i }
    val constIdx = resolved.zipWithIndex.collect { case (Left(_), i) => i }
    val requestedSchema = StructType(dataIdx.map { i =>
      StructField(resolved(i).toOption.get, required.fields(i).dataType,
        nullable = true)
    })
    val constSchema = StructType(constIdx.map { i =>
      StructField(required.fields(i).name, required.fields(i).dataType,
        nullable = true)
    })
    val constRow: InternalRow = new GenericInternalRow(
      constIdx.map(i => resolved(i).swap.toOption.get.value: Any))

    if (dataIdx.isEmpty) {
      // every required column is a per-partition constant for this file:
      // serve (rowCount - |dv|) rows of constants in capacity-sized batches
      constOnlyRemaining = rowCount - dv.length
      val cols: Array[ColumnVector] = required.fields.indices.map { i =>
        val c = new org.apache.spark.sql.execution.vectorized
          .ConstantColumnVector(GraftColumnarPartitionReader.Capacity,
            required.fields(i).dataType)
        // dataIdx is empty, so constIdx covers every required index in
        // order: position in constRow == required position
        org.apache.spark.sql.execution.vectorized.ColumnVectorUtils
          .populate(c, constRow, i)
        c: ColumnVector
      }.toArray
      out = new ColumnarBatch(cols)
      current = out
    } else {

    // ---- hadoop conf the vectorized reader's ReadSupport consults ----
    val conf = new Configuration(shared)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport]
        .getName)
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      requestedSchema.json)
    conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    conf.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    conf.set(SQLConf.CASE_SENSITIVE.key, "false")
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "true")
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    conf.set(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, "false")
    // block-level predicate only: stats row-group skip, no record/page
    // filtering (Spark re-checks residuals row-exactly above the scan)
    conf.set(ParquetInputFormat.RECORD_FILTERING_ENABLED, "false")
    conf.set(ParquetInputFormat.COLUMN_INDEX_FILTERING_ENABLED, "false")
    conf.set(ParquetInputFormat.DICTIONARY_FILTERING_ENABLED, "false")
    val types = required.fields.map(f => f.name -> f.dataType).toMap
    // a dv'd file takes NO block-level predicate: a stats row-group skip
    // would silently desynchronize physical ordinals from the vector (the
    // same rule the row reader applies via needsOrdinals)
    val preds =
      if (dv.nonEmpty) Nil
      else residual.toSeq
        .filter(_.references.forall(r => fileSchema.containsField(r) &&
          GraftDataSource.parquetPredicateCompatible(fileSchema, r, types.get(r))))
        .flatMap(GraftDataSource.toParquetPredicate(_, types))
    preds.reduceOption(
        org.apache.parquet.filter2.predicate.FilterApi.and(_, _))
      .foreach(ParquetInputFormat.setFilterPredicate(conf, _))

    reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, GraftColumnarPartitionReader.Capacity)
    val split = new FileSplit(filePath, 0, fileLen, Array.empty[String])
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    // footer reuse only when no predicate: a filtered read re-opens so the
    // parquet reader applies its own block-level row-group filtering
    val footerOpt: Option[org.apache.parquet.hadoop.metadata.ParquetMetadata] =
      if (preds.isEmpty) Some(footer) else None
    var ok = false
    try {
      reader.initialize(split, ctx,
        if (footerOpt.isDefined) Some(inFile) else None, None, footerOpt)
      reader.initBatch(constSchema, constRow)
      val rb = reader.resultBatch()
      // reorder to the required column order: data columns come first in
      // requested order, then the constant columns initBatch appended
      val dataPos = dataIdx.zipWithIndex.toMap
      val constPos = constIdx.zipWithIndex.toMap
      val cols: Array[ColumnVector] = required.fields.indices.map { i =>
        dataPos.get(i) match {
          case Some(dp) => rb.column(dp)
          case None     => rb.column(requestedSchema.length + constPos(i))
        }
      }.toArray
      out = new ColumnarBatch(cols)
      if (dv.nonEmpty)
        mappedOut = new ColumnarBatch(
          cols.map(c => new GraftMappedColumnVector(c, mapping): ColumnVector))
      ok = true
    } finally if (!ok) reader.close()
    }
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    if (constOnlyRemaining >= 0L) {
      if (constOnlyRemaining <= 0L) return false
      var n = math.min(constOnlyRemaining,
        GraftColumnarPartitionReader.Capacity.toLong).toInt
      if (limit >= 0 && emitted + n > limit)
        n = (limit - emitted).toInt
      constOnlyRemaining -= n
      out.setNumRows(n)
      emitted += n
      return n > 0
    }
    // dv application: batches stream in physical-ordinal order; a batch
    // containing deleted ordinals is served through the survivor index view
    // (decode stays vectorized, survivors pay one int indirection); a batch
    // with no deletions is served direct. Fully-deleted batches are skipped.
    var live = 0
    var mapped = false
    var more = true
    while (live == 0 && more) {
      if (!reader.nextBatch()) more = false
      else {
        val n = reader.resultBatch().numRows()
        if (dvIdx >= dv.length || dv(dvIdx) >= baseOrdinal + n) {
          live = n
          mapped = false
        } else {
          var i = 0
          while (i < n) {
            if (dvIdx < dv.length && dv(dvIdx) == baseOrdinal + i) dvIdx += 1
            else { mapping(live) = i; live += 1 }
            i += 1
          }
          mapped = true
        }
        baseOrdinal += n
      }
    }
    if (live == 0) return false
    // pushed limit counts LIVE rows (like the row reader); truncate the
    // final batch (mapping/vectors are positional from row 0, so keeping
    // the first k rows is exact)
    if (limit >= 0 && emitted + live > limit)
      live = (limit - emitted).toInt
    current = if (mapped) mappedOut else out
    current.setNumRows(live)
    emitted += live
    live > 0
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = if (reader != null) reader.close()
}

object GraftColumnarPartitionReader {
  /** Rows per ColumnarBatch — matches Spark's vectorized-reader default. */
  val Capacity = 4096
}

/** Read-only view of `base` through a shared survivor index map:
  * accessor(rowId) == base.accessor(map(rowId)). Applies a merge-on-read
  * deletion vector to a ColumnarBatch without copying vectors — the parquet
  * decode stays vectorized and surviving rows pay one int indirection per
  * access. The map array is OWNED by the partition reader and rewritten per
  * batch; only indices below the served batch's numRows are valid. Struct /
  * nested-map children never occur here (GraftColumnar.supportedSchema
  * admits atomics and arrays of atomics only); getArray delegates by mapped
  * ordinal, so element data rides the base vector's own child. */
private[sources] final class GraftMappedColumnVector(
    base: ColumnVector, map: Array[Int])
    extends ColumnVector(base.dataType()) {
  // base vectors are owned (and closed) by the parquet reader
  override def close(): Unit = ()
  // conservative: pre-filter null presence — only ever disables a no-null
  // fast path, never claims a null row is non-null
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = base.numNulls
  override def isNullAt(rowId: Int): Boolean = base.isNullAt(map(rowId))
  override def getBoolean(rowId: Int): Boolean = base.getBoolean(map(rowId))
  override def getByte(rowId: Int): Byte = base.getByte(map(rowId))
  override def getShort(rowId: Int): Short = base.getShort(map(rowId))
  override def getInt(rowId: Int): Int = base.getInt(map(rowId))
  override def getLong(rowId: Int): Long = base.getLong(map(rowId))
  override def getFloat(rowId: Int): Float = base.getFloat(map(rowId))
  override def getDouble(rowId: Int): Double = base.getDouble(map(rowId))
  override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(map(rowId))
  override def getMap(ordinal: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(map(ordinal))
  override def getDecimal(rowId: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    base.getDecimal(map(rowId), precision, scale)
  override def getUTF8String(rowId: Int): UTF8String =
    base.getUTF8String(map(rowId))
  override def getBinary(rowId: Int): Array[Byte] = base.getBinary(map(rowId))
  override def getChild(ordinal: Int): ColumnVector = base.getChild(ordinal)
}
