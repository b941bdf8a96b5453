package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector,
  OnHeapColumnVector}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The connector's one parquet decode path (guide §1.2 per-task work):
  * every graft scan — batch, streaming, change feed, row-level DML — reads
  * its chunk files through Spark's `VectorizedParquetRecordReader` (the
  * columnar decoder vanilla parquet scans use) and serves `ColumnarBatch`es
  * straight to the exec layer, where whole-stage codegen consumes vectors.
  *
  * Data columns decode as atomics or arrays of atomics, what worlds store
  * ([[GraftColumnar.requireSupported]]). Everything resolved PER FILE —
  * rename aliases, schema-evolution null columns, ADD COLUMN existence
  * defaults, INT32→BIGINT widened files (the vectorized reader widens
  * natively since Spark 4.0), legacy INT96 timestamps — is resolved here:
  * present data fields are requested under their in-file name at the
  * required type; per-file constants (bucket values, `_cell`, `_file`, the
  * change feed's `_change_type`, defaults, missing-column nulls) ride
  * `initBatch`'s partition-value vectors; a final wrapper batch reorders
  * the vectors to the required column order.
  *
  * `_pos`, the row address, is one `LongType` vector per batch holding the
  * physical ordinal of each served row. Merge-on-read deletion vectors are
  * applied as a surviving-row index view over each batch
  * ([[GraftMappedColumnVector]]) — no copy, one int indirection per access;
  * `_pos` is filled from the same survivor mapping. A file with no required
  * data column (bucket-only and count-only projections, `_file`/`_pos`
  * addresses, files older than every projected column) opens no parquet
  * reader: its batches are constant vectors sized from the footer row count.
  *
  * Residual filters become block-level parquet predicates (row-group skip
  * by stats; Spark re-checks residuals above the scan, so the predicate only
  * ever has to keep a superset) — except on a file with a deletion vector or
  * a read that requires `_pos`: a skipped row group would shift every
  * physical ordinal after it. Record- and page-level parquet filtering are
  * disabled — batch semantics want whole row groups, and the skipping that
  * matters at 100 TB (files via blooms/zone maps, row groups via stats)
  * happens before any page is read.
  *
  * Per-file work is the footer open and the decode only. The Hadoop conf is
  * the session's, shipped once per scan by [[GraftReaderFactory]]; the
  * reader clones it only to set the keys the vectorized reader consults, and
  * opens the footer with read options built from it ([[GraftHadoop]]). No
  * default Hadoop XML is parsed per file.
  */
object GraftColumnar {
  private def atomicOk(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | BinaryType | TimestampType => true
    case _ => false
  }

  /** Refuses a data column a file stores under a type outside atomics and
    * arrays of atomics. Checked per file, for stored columns only: a column
    * a file lacks reads as its existence default or NULL, whatever its type. */
  def requireSupported(f: StructField): Unit = {
    val ok = f.dataType match {
      case ArrayType(et, _) => atomicOk(et)
      case dt               => atomicOk(dt)
    }
    if (!ok) throw new UnsupportedOperationException(
      s"graft source: unsupported type ${f.dataType} for column ${f.name}")
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
  import GraftColumnarPartitionReader.{Capacity, Const, Data, Pos, Source}

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
  // physical ordinal of the next row the file yields
  private var baseOrdinal = 0L
  private val mapping = new Array[Int](Capacity)
  // the `_pos` vector, refilled per batch (null when `_pos` is not required)
  private var pos: OnHeapColumnVector = _
  // rows left to serve when no required data column is in this file:
  // batches are constant vectors, no parquet reader at all (−1 = reader)
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

    val resolved: Array[Source] = required.fields.map { f =>
      if (GraftDataSource.isBucket(f.name))
        // a bucket the path does not bind (file written under an older grid
        // geometry, read through a post-regrid schema) is NULL
        Const(p.buckets.get(f.name).map { v =>
          f.dataType match {
            case IntegerType => v.toInt: Any
            case _           => v: Any
          }
        }.orNull)
      else if (f.name == GraftDataSource.CellColumn)
        Const(UTF8String.fromString(GraftDataSource.cellString(p.buckets)))
      else if (f.name == GraftDataSource.FileColumn)
        Const(UTF8String.fromString(p.file))
      else if (f.name == GraftDataSource.PosColumn) Pos
      // the CDC tag is a per-file constant ONLY on change-feed reads: a
      // table whose own data carries a _change_type column reads it as data
      // everywhere else (follow mode refuses such tables)
      else if (f.name == GraftDataSource.ChangeColumn && p.changeTag != null)
        Const(UTF8String.fromString(p.changeTag))
      else GraftDataSource.resolveInFile(fileSchema, f.name, aliases) match {
        case Some(inFileName) =>
          GraftColumnar.requireSupported(f)
          Data(inFileName)
        case None if f.metadata.contains("EXISTS_DEFAULT") =>
          // column added with a DEFAULT after this file was written
          Const(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .getExistenceDefaultValue(f))
        case None => Const(null)
      }
    }
    // (required index, in-file name) / (required index, value)
    val data = resolved.zipWithIndex.collect { case (Data(n), i) => (i, n) }
    val consts = resolved.zipWithIndex.collect { case (Const(v), i) => (i, v) }
    if (resolved.contains(Pos)) pos = new OnHeapColumnVector(Capacity, LongType)
    val requestedSchema = StructType(data.map { case (i, n) =>
      StructField(n, required.fields(i).dataType, nullable = true)
    })
    val constSchema = StructType(consts.map { case (i, _) =>
      StructField(required.fields(i).name, required.fields(i).dataType,
        nullable = true)
    })
    val constRow: InternalRow = new GenericInternalRow(consts.map(_._2))
    // the served batch's columns in required order, given the vector of the
    // k-th data column and of the k-th constant
    def inRequiredOrder(dataCol: Int => ColumnVector,
        constCol: Int => ColumnVector): Array[ColumnVector] = {
      val dataPos = data.map(_._1).zipWithIndex.toMap
      val constPos = consts.map(_._1).zipWithIndex.toMap
      required.fields.indices.map { i =>
        dataPos.get(i).map(dataCol).orElse(constPos.get(i).map(constCol))
          .getOrElse(pos): ColumnVector
      }.toArray
    }

    if (data.isEmpty) {
      constOnlyRemaining = rowCount - dv.length
      out = new ColumnarBatch(inRequiredOrder(_ => null, { k =>
        val c = new ConstantColumnVector(Capacity, constSchema(k).dataType)
        ColumnVectorUtils.populate(c, constRow, k)
        c
      }))
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
    // no block-level predicate when physical ordinals matter: a stats
    // row-group skip would desynchronize them from the vector
    val preds =
      if (dv.nonEmpty || pos != null) Nil
      else residual.toSeq
        .filter(_.references.forall(r => fileSchema.containsField(r) &&
          GraftDataSource.parquetPredicateCompatible(fileSchema, r, types.get(r))))
        .flatMap(GraftDataSource.toParquetPredicate(_, types))
    preds.reduceOption(
        org.apache.parquet.filter2.predicate.FilterApi.and(_, _))
      .foreach(ParquetInputFormat.setFilterPredicate(conf, _))

    reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, Capacity)
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
      // data columns come first in requested order, then the constant
      // columns initBatch appended
      val cols = inRequiredOrder(rb.column, k => rb.column(data.length + k))
      out = new ColumnarBatch(cols)
      if (dv.nonEmpty)
        mappedOut = new ColumnarBatch(cols.map(c =>
          if (c eq pos) c else new GraftMappedColumnVector(c, mapping)))
      ok = true
    } finally if (!ok) close()
    }
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    if (constOnlyRemaining >= 0L) {
      var n = math.min(constOnlyRemaining, Capacity.toLong).toInt
      if (limit >= 0 && emitted + n > limit)
        n = (limit - emitted).toInt
      if (n <= 0) return false
      constOnlyRemaining -= n
      if (pos != null) {
        // walk the ordinals, skipping the deleted ones
        var i = 0
        while (i < n) {
          while (dvIdx < dv.length && dv(dvIdx) == baseOrdinal) {
            dvIdx += 1
            baseOrdinal += 1
          }
          pos.putLong(i, baseOrdinal)
          baseOrdinal += 1
          i += 1
        }
      }
      out.setNumRows(n)
      emitted += n
      return true
    }
    // dv application: batches stream in physical-ordinal order; a batch
    // containing deleted ordinals is served through the survivor index view
    // (decode stays vectorized, survivors pay one int indirection); a batch
    // with no deletions is served direct. Fully-deleted batches are skipped.
    var live = 0
    var mapped = false
    var more = true
    var batchBase = 0L
    while (live == 0 && more) {
      if (!reader.nextBatch()) more = false
      else {
        val n = reader.resultBatch().numRows()
        batchBase = baseOrdinal
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
    // a pushed limit counts LIVE rows; truncate the final batch (mapping and
    // vectors are positional from row 0, so keeping the first k is exact)
    if (limit >= 0 && emitted + live > limit)
      live = (limit - emitted).toInt
    if (pos != null) {
      var i = 0
      while (i < live) {
        pos.putLong(i, batchBase + (if (mapped) mapping(i) else i))
        i += 1
      }
    }
    current = if (mapped) mappedOut else out
    current.setNumRows(live)
    emitted += live
    live > 0
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    if (reader != null) reader.close()
    if (pos != null) pos.close()
  }
}

object GraftColumnarPartitionReader {
  /** Rows per ColumnarBatch — matches Spark's vectorized-reader default. */
  val Capacity = 4096

  /** Where one required column's values come from in one file. */
  private sealed trait Source
  private final case class Const(value: Any) extends Source
  private final case class Data(inFile: String) extends Source
  private case object Pos extends Source
}

/** Read-only view of `base` through a shared survivor index map:
  * accessor(rowId) == base.accessor(map(rowId)). Applies a merge-on-read
  * deletion vector to a ColumnarBatch without copying vectors — the parquet
  * decode stays vectorized and surviving rows pay one int indirection per
  * access. The map array is OWNED by the partition reader and rewritten per
  * batch; only indices below the served batch's numRows are valid. Struct /
  * nested-map children never occur here (GraftColumnar.requireSupported
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
