package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-level COLUMN STATISTICS for the cost-based optimizer — the
  * `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` face every warehouse
  * engine grows once joins stop being hinted by hand.
  *
  * `CALL <cat>.system.analyze(table => 't')` runs ONE distributed
  * aggregate over the live table (every statistic for every requested
  * column folds into a single job — no per-column passes) and persists a
  * `_graft_colstats` sidecar: per column, the distinct-value count
  * (HyperLogLog++ by default, `exact => true` for a full count-distinct),
  * null count, integral/floating min/max, and avg/max byte lengths,
  * stamped with the commit version it described. The connector's
  * `estimateStatistics` then serves the sidecar through DSv2
  * `Statistics.columnStats()`, which Spark folds into per-attribute
  * catalyst stats (`DataSourceV2Relation.transformV2Stats`) — so with
  * `spark.sql.cbo.enabled` a graft world participates in join reordering
  * and filter-selectivity estimation exactly like an ANALYZEd native
  * table: `WHERE k = v` estimates rows/ndv(k), a join on a high-NDV key
  * stops being sized as a cross-product-shaped guess.
  *
  * Scale/staleness posture (the standard one — Spark's own ANALYZE works
  * this way): stats are advisory planning inputs, not correctness inputs;
  * they go stale as commits land and a re-ANALYZE refreshes them. Serving
  * guards stay conservative where the ESTIMATE could mislead: a column
  * whose declared type no longer matches the sidecar's (rename landed on
  * a fresh column, widening retyped it) is not served, and a version-
  * pinned (time-travel) scan serves nothing — the sidecar describes the
  * live table. The sidecar is O(columns), one small file; reading it adds
  * nothing measurable to planning, which already walks the manifest.
  *
  * Reference anchor: the reference carries no optimizer statistics at all
  * (a point-addressed KV grid needs none — /root/reference/src/lib.rs);
  * this is a beyond-ref face the relational layer over the same grid
  * needs at 100 TB, where a mis-sided join is a cluster-hour mistake.
  *
  * Clones start stats-less by design: a `system.clone` target reads the
  * source AT A PINNED VERSION through its pointer, and pinned reads never
  * serve this sidecar — re-ANALYZE the clone once it diverges.
  */
private[graft] object GraftColStats {
  private val FileName = "_graft_colstats"
  private val Absent = "\\N"

  /** One column's persisted statistics. `min`/`max` are the decimal string
    * renderings of integral/floating values (absent for other types —
    * estimation only consumes numeric bounds). `hist` is the optional
    * equi-height histogram: (rows-per-bin, bins as (lo, hi, ndv)). */
  final case class ColStat(name: String, dtype: String, ndv: Long,
      nulls: Long, min: Option[String], max: Option[String],
      avgLen: Long, maxLen: Long,
      hist: Option[(Double, Seq[(Double, Double, Long)])] = None)

  final case class TableStats(version: Long, rows: Long, exact: Boolean,
      cols: Seq[ColStat])

  private def fileOf(path: String) = new Path(path, FileName)

  private def fsOf(path: String): FileSystem =
    GraftHadoop.fs(path)

  /** Types whose min/max are computed, persisted, and served. Floating
    * bounds need the NaN-free projection at aggregation time (Spark's
    * min/max order NaN ABOVE every double — the same contamination that
    * bars the parquet-footer PUSHDOWN path in GraftStats), and the serve
    * side additionally refuses any non-finite bound from an older
    * sidecar. */
  private def numericBounds(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType => true
    case _ => false
  }

  private def statEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BinaryType | BooleanType | DateType |
         TimestampType | _: DecimalType => true
    case _ => false // nested/array payloads: no meaningful scalar stats
  }

  /** Compute statistics with ONE aggregate job (two with histograms — the
    * endpoint pass folds into job one, per-bin NDVs need the endpoints
    * first, exactly Spark's own ANALYZE shape) and persist the sidecar.
    * `columns` empty = every stat-eligible top-level column.
    * `histogramBins` > 0 adds an equi-height histogram per numeric column,
    * which upgrades CBO range-predicate estimation from uniform-spread
    * interpolation to distribution-aware — the difference between
    * "v <= 5 is 0.5% of a skewed table" and the truth. */
  def analyze(spark: SparkSession, path: String, columns: Seq[String],
      exact: Boolean, histogramBins: Int = 0): TableStats = {
    require(histogramBins >= 0 && histogramBins <= 256,
      s"system.analyze: histogram bins $histogramBins out of [0, 256]")
    val schema = GraftDataSource.sidecarSchema(path)
    val fields =
      if (columns.isEmpty) schema.fields.toSeq.filter(f => statEligible(f.dataType))
      else columns.distinct.map { c =>
        schema.fields.find(_.name == c).getOrElse(throw new IllegalArgumentException(
          s"system.analyze: no column '$c' in $path"))
      }.map { f =>
        require(statEligible(f.dataType),
          s"system.analyze: column '${f.name}' is ${f.dataType.simpleString} — " +
            "no scalar statistics for nested types")
        f
      }
    fields.foreach(f => require(!f.name.exists(ch => ch == '\t' || ch == '\n'),
      s"system.analyze: column name '${f.name}' contains tab/newline"))

    val df = spark.read.format("graft").load(path)
    val histFields =
      if (histogramBins > 0) fields.filter(f => numericBounds(f.dataType))
      else Seq.empty
    // every statistic folds into one aggregate row: k columns cost one
    // scan + one partial-agg shuffle, never k jobs
    val aggs = Seq(count(lit(1)).as("_rows")) ++ histFields.map { f =>
      // equi-height endpoints ride the SAME job: n+1 approximate
      // percentiles of the column as double (NaN-free projection — a NaN
      // endpoint would serve NaN bin bounds)
      val src = f.dataType match {
        case FloatType | DoubleType =>
          when(!isnan(col(f.name)), col(f.name)).cast(DoubleType)
        case _ => col(f.name).cast(DoubleType)
      }
      percentile_approx(src,
        array((0 to histogramBins).map(i =>
          lit(i.toDouble / histogramBins)): _*),
        lit(10000)).as(s"pct_${f.name}")
    } ++ histFields.collect {
      // the histogram's height denominator: rows the bins actually cover
      // (NaN rows fall outside every bin, so nn_ — which counts them as
      // non-null — would overstate per-bin mass)
      case f if f.dataType == FloatType || f.dataType == DoubleType =>
        count(when(!isnan(col(f.name)), col(f.name)))
          .cast(LongType).as(s"hn_${f.name}")
    } ++ fields.flatMap { f =>
      val c = col(f.name)
      val ndv = if (exact) countDistinct(c) else approx_count_distinct(c)
      val base = Seq(
        ndv.cast(LongType).as(s"ndv_${f.name}"),
        count(c).cast(LongType).as(s"nn_${f.name}"))
      val bounds =
        if (numericBounds(f.dataType)) {
          // Spark's min/max order NaN ABOVE every value (it would become
          // the served max and poison range estimation with NaN
          // arithmetic) — aggregate over the NaN-free projection, the
          // same contamination the footer-stats pushdown refuses
          val cc = f.dataType match {
            case FloatType | DoubleType => when(!isnan(c), c)
            case _ => c
          }
          Seq(min(cc).cast(StringType).as(s"min_${f.name}"),
            max(cc).cast(StringType).as(s"max_${f.name}"))
        } else Seq.empty
      val lens = f.dataType match {
        case StringType =>
          Seq(ceil(avg(octet_length(c))).cast(LongType).as(s"al_${f.name}"),
            max(octet_length(c)).cast(LongType).as(s"ml_${f.name}"))
        case BinaryType =>
          Seq(ceil(avg(length(c))).cast(LongType).as(s"al_${f.name}"),
            max(length(c)).cast(LongType).as(s"ml_${f.name}"))
        case _ => Seq.empty
      }
      base ++ bounds ++ lens
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def longAt(n: String): Long =
      if (row.isNullAt(row.fieldIndex(n))) 0L else row.getLong(row.fieldIndex(n))
    def strAt(n: String): Option[String] =
      if (!row.schema.fieldNames.contains(n) || row.isNullAt(row.fieldIndex(n)))
        None
      else Some(row.getString(row.fieldIndex(n)))
    val rows = longAt("_rows")
    // histogram pass 2: per-bin NDVs need the endpoints from pass 1, so
    // they cost one MORE job (bins × columns conditional sketches folded
    // into a single aggregate) — never a job per column or per bin
    val hists: Map[String, (Double, Seq[(Double, Double, Long)])] =
      if (histFields.isEmpty) Map.empty
      else {
        val endpoints: Map[String, Seq[Double]] = histFields.flatMap { f =>
          val i = row.fieldIndex(s"pct_${f.name}")
          if (row.isNullAt(i)) None // all-null column: no histogram
          else {
            // a column holding ±Infinity yields non-finite endpoints —
            // served bins would poison range arithmetic; skip its
            // histogram (NDV/null/bounds still serve, bounds NaN-guarded)
            val eps = row.getSeq[Double](i)
            if (eps.forall(java.lang.Double.isFinite)) Some(f.name -> eps)
            else None
          }
        }.toMap
        val binAggs = endpoints.toSeq.flatMap { case (n, eps) =>
          (0 until histogramBins).map { b =>
            val c = col(n).cast(DoubleType)
            val cond =
              if (b == 0) c >= eps(b) && c <= eps(b + 1)
              else c > eps(b) && c <= eps(b + 1)
            approx_count_distinct(when(cond, col(n))).as(s"bndv_${b}_$n")
          }
        }
        if (binAggs.isEmpty) Map.empty
        else {
          val brow = df.agg(binAggs.head, binAggs.tail: _*).collect()(0)
          endpoints.map { case (n, eps) =>
            val bins = (0 until histogramBins).map { b =>
              val i = brow.fieldIndex(s"bndv_${b}_$n")
              (eps(b), eps(b + 1),
                if (brow.isNullAt(i)) 0L else brow.getLong(i))
            }
            val covered =
              if (row.schema.fieldNames.contains(s"hn_$n")) longAt(s"hn_$n")
              else longAt(s"nn_$n")
            n -> (covered.toDouble / histogramBins, bins)
          }
        }
      }
    val stats = fields.map { f =>
      val fixedLen = f.dataType.defaultSize.toLong
      ColStat(f.name, f.dataType.simpleString,
        ndv = longAt(s"ndv_${f.name}"),
        nulls = rows - longAt(s"nn_${f.name}"),
        min = strAt(s"min_${f.name}"), max = strAt(s"max_${f.name}"),
        avgLen = if (row.schema.fieldNames.contains(s"al_${f.name}"))
          longAt(s"al_${f.name}") max 1L else fixedLen,
        maxLen = if (row.schema.fieldNames.contains(s"ml_${f.name}"))
          longAt(s"ml_${f.name}") max 1L else fixedLen,
        hist = hists.get(f.name))
    }
    val fs = fsOf(path)
    val version = GraftVersions.latestVersion(fs, new Path(path)).getOrElse(-1L)
    val ts = TableStats(version, rows, exact, stats)
    write(fs, path, ts)
    ts
  }

  // histogram section separator: a column line always carries 8 tab-split
  // fields, so this 1-field marker can never be mistaken for one
  private val HistMark = "---hist---"

  private def write(fs: FileSystem, path: String, ts: TableStats): Unit = {
    val sb = new StringBuilder
    sb.append(s"graft-colstats-v1\t${ts.version}\t${ts.rows}\t${ts.exact}\n")
    ts.cols.foreach { c =>
      sb.append(Seq(c.name, c.dtype, c.ndv, c.nulls,
        c.min.getOrElse(Absent), c.max.getOrElse(Absent),
        c.avgLen, c.maxLen).mkString("\t")).append('\n')
    }
    val withHist = ts.cols.filter(_.hist.isDefined)
    if (withHist.nonEmpty) {
      sb.append(HistMark).append('\n')
      withHist.foreach { c =>
        val (h, bins) = c.hist.get
        sb.append(Seq(c.name, h,
          bins.map { case (lo, hi, ndv) => s"$lo:$hi:$ndv" }.mkString(";"))
          .mkString("\t")).append('\n')
      }
    }
    val out = GraftHadoop.create(fs, fileOf(path), overwrite = true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
  }

  def read(path: String): Option[TableStats] = {
    val fs = fsOf(path)
    val p = fileOf(path)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    val head = lines.head.split("\t", -1)
    require(head(0) == "graft-colstats-v1",
      s"unrecognized colstats sidecar header at $p: ${lines.head}")
    val split = lines.tail.indexOf(HistMark)
    val (colLines, histLines) =
      if (split < 0) (lines.tail.toSeq, Seq.empty[String])
      else (lines.tail.take(split).toSeq, lines.tail.drop(split + 1).toSeq)
    val hists = histLines.map { l =>
      val a = l.split("\t", -1)
      a(0) -> (a(1).toDouble, a(2).split(";").toSeq.map { b =>
        val f = b.split(":", -1)
        (f(0).toDouble, f(1).toDouble, f(2).toLong)
      })
    }.toMap
    val cols = colLines.map { l =>
      val a = l.split("\t", -1)
      ColStat(a(0), a(1), a(2).toLong, a(3).toLong,
        if (a(4) == Absent) None else Some(a(4)),
        if (a(5) == Absent) None else Some(a(5)),
        a(6).toLong, a(7).toLong, hist = hists.get(a(0)))
    }
    Some(TableStats(head(1).toLong, head(2).toLong, head(3).toBoolean, cols))
  }

  /** The serving side: the DSv2 column-stats map for one scan's read
    * schema. Conservative by construction — a column is served only when
    * its current declared type still matches the analyzed type (rename
    * evolution lands the name on a different physical column; widening
    * retypes it — both read as "stale, skip") and its name round-trips
    * through `FieldReference.describe` (Spark matches attributes by that
    * string). Any sidecar trouble degrades to "no stats", never to a
    * failed plan. */
  /** [[read]] that never throws — planning degrades to "no stats" on any
    * sidecar trouble. */
  def readSafe(path: String): Option[TableStats] =
    try read(path) catch { case _: Exception => None }

  def columnStatsFor(ts: Option[TableStats], required: StructType)
      : java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      ColumnStatistics]()
    ts.foreach { t =>
      val byName = t.cols.map(c => c.name -> c).toMap
      required.fields.foreach { f =>
        byName.get(f.name).foreach { c =>
          val ref = Expressions.column(f.name)
          if (c.dtype == f.dataType.simpleString && ref.describe() == f.name) {
            val boxed: String => Option[Object] = s =>
              try Some(f.dataType match {
                case ByteType    => java.lang.Byte.valueOf(s)
                case ShortType   => java.lang.Short.valueOf(s)
                case IntegerType => java.lang.Integer.valueOf(s)
                case LongType    => java.lang.Long.valueOf(s)
                // non-finite bounds (NaN/Inf from a pre-guard sidecar)
                // would poison range arithmetic — never serve them
                case FloatType =>
                  val v = java.lang.Float.valueOf(s)
                  if (java.lang.Float.isFinite(v)) v else null
                case DoubleType =>
                  val v = java.lang.Double.valueOf(s)
                  if (java.lang.Double.isFinite(v)) v else null
                case _ => null
              }) catch { case _: NumberFormatException => None }
            val mn = c.min.flatMap(boxed).filter(_ != null)
            val mx = c.max.flatMap(boxed).filter(_ != null)
            // a pre-guard sidecar may carry non-finite bin bounds — the
            // same refusal as min/max: never serve them
            val hg = c.hist.filter { case (h, bs) =>
              java.lang.Double.isFinite(h) && bs.forall { case (lo, hi, _) =>
                java.lang.Double.isFinite(lo) && java.lang.Double.isFinite(hi)
              }
            }.map { case (h, bs) =>
              new org.apache.spark.sql.connector.read.colstats.Histogram {
                override def height(): Double = h
                override def bins() = bs.map { case (bLo, bHi, bNdv) =>
                  new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                    override def lo(): Double = bLo
                    override def hi(): Double = bHi
                    override def ndv(): Long = bNdv
                  }
                }.toArray
              }
            }
            out.put(ref, new ColumnStatistics {
              override def distinctCount() = java.util.OptionalLong.of(c.ndv)
              override def nullCount() = java.util.OptionalLong.of(c.nulls)
              override def min(): java.util.Optional[Object] =
                mn.map(java.util.Optional.of[Object])
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                mx.map(java.util.Optional.of[Object])
                  .getOrElse(java.util.Optional.empty[Object]())
              override def avgLen() = java.util.OptionalLong.of(c.avgLen)
              override def maxLen() = java.util.OptionalLong.of(c.maxLen)
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                hg.map(java.util.Optional.of[
                    org.apache.spark.sql.connector.read.colstats.Histogram])
                  .getOrElse(java.util.Optional.empty())
            })
          }
        }
      }
    }
    out
  }
}

/** `CALL <cat>.system.analyze(table => 't' [, columns => 'a,b']
  * [, exact => true])` — compute and persist column statistics for the
  * CBO ([[GraftColStats]]). Returns (analyzed_columns, rows, version). */
class GraftAnalyzeProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.catalyst.InternalRow

  override def name(): String = "analyze"
  override def description(): String =
    "compute column NDV/null/min-max/length statistics for the CBO (one aggregate job)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "analyze"
    override def description(): String = GraftAnalyzeProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("columns", StringType).defaultValue("''")
        .comment("comma-separated column subset; empty = all eligible").build(),
      ProcedureParameter.in("exact", BooleanType).defaultValue("false")
        .comment("true = exact count-distinct; default HyperLogLog++").build(),
      ProcedureParameter.in("histogram", IntegerType).defaultValue("0")
        .comment("equi-height histogram bins per numeric column; 0 = off")
        .build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val table = input.getUTF8String(0).toString
      val columns =
        if (input.isNullAt(1)) Seq.empty
        else input.getUTF8String(1).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
      val exact = !input.isNullAt(2) && input.getBoolean(2)
      val bins = if (input.isNullAt(3)) 0 else input.getInt(3)
      val spark = org.apache.spark.sql.SparkSession.active
      val ts = GraftColStats.analyze(spark, cat.tablePath(table), columns,
        exact, bins)
      GraftProcedures.scanOf(
        StructType(Seq(
          StructField("analyzed_columns", LongType, nullable = false),
          StructField("rows", LongType, nullable = false),
          StructField("version", LongType, nullable = false))),
        Array(InternalRow(ts.cols.size.toLong, ts.rows, ts.version)))
    }
  }
}
