package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter,
  GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Or}

/** Per-chunk file skipping for POINT LOOKUPS and RANGE predicates on
  * registered non-bucket columns (blooms/dictionaries for equality, footer
  * min/max statistics for ranges).
  *
  * The chunk grid prunes by DIMENSION ranges (directory-exact, free), but a
  * lookup on a column that is not a dim — "fetch document 91847 by id" —
  * must otherwise plan every chunk file the bucket filters leave alive and
  * let each reader's row-group statistics reject it. At a 100k-chunk grid
  * that is 100k scheduled tasks for a one-row answer. Parquet's native
  * column bloom filters close the gap at BOTH levels:
  *
  *   - file level (driver, here): planning reads each candidate footer's
  *     bloom pages and drops files where every row group definitively lacks
  *     the sought value — the task is never scheduled. Footer+bloom reads
  *     are metadata-sized (the adaptive writer keeps blooms at
  *     ~1.2 KB/1k-distinct-values) and run through a parallel collection,
  *     the same cost class as the pushed-top-N footer walk.
  *   - row-group level (executors, for free): the residual filters already
  *     ride to [[GraftColumnarPartitionReader]] as block-level parquet
  *     predicates, and parquet-mr's row-group filter consults the same
  *     blooms (stats -> dictionary -> bloom) before decoding any page.
  *
  * Which columns carry blooms is a TABLE property persisted in a
  * `_graft_bloom` sidecar (one column name per line) so that every write
  * path — `World.create`'s Spark-parquet writes, the connector's
  * [[GraftDataWriter]], upsert/COW/streaming staging — keeps blooming the
  * same columns without the caller re-passing the option, mirroring how the
  * `_graft_schema.json` sidecar makes the schema a property of the path.
  *
  * The reference anchor is `Select::hint` (/root/reference/src/world/
  * select.rs) — a row-exact id restriction the engine promises to serve
  * WITHOUT widening to the enclosing chunk scan; blooms are the
  * file-format-native way to keep that promise for non-dim columns.
  *
  * Registered columns are also tested against RANGE residuals using footer
  * min/max statistics (integral columns only — the same trust policy as the
  * aggregate pushdown): on a dim-sorted or z-ordered layout every file
  * covers a tight value box, so `x BETWEEN a AND b` drops whole FILES at
  * planning the way it already drops row groups at read.
  *
  * Correctness: every refutation source answers "definitely absent" or
  * "maybe present" — skipping is sound, keeping is the safe default. Any
  * column missing a bloom/stats (older files, all-null chunks, unsupported
  * physical type) keeps its files planned; Spark re-applies the full
  * residual predicate above the scan either way.
  */
object GraftBloom {

  val SidecarName = "_graft_bloom"

  /** Write option listing bloom columns, comma-separated. First write with
    * the option persists the sidecar; later writes inherit it. */
  val OptionKey = "graft.bloom.columns"

  def sidecar(root: Path): Path = new Path(root, SidecarName)

  /** [[columns]] from a path string — the driver-side factory-construction
    * convenience (one sidecar read per WRITE, never per task). */
  def columnsOf(path: String): Seq[String] = {
    val fs = GraftHadoop.fs(path)
    columns(fs, new Path(path))
  }

  /** Bloom columns of a table path; empty when the sidecar is absent. */
  def columns(fs: FileSystem, root: Path): Seq[String] = {
    val p = sidecar(root)
    if (!fs.exists(p)) Nil
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    }
  }

  /** Union `cols` into the sidecar (creating it if needed). Driver-side,
    * idempotent; a no-op when `cols` adds nothing. */
  def register(fs: FileSystem, root: Path, cols: Seq[String]): Unit = {
    val existing = columns(fs, root)
    val merged = (existing ++ cols).distinct
    if (merged != existing || (!fs.exists(sidecar(root)) && merged.nonEmpty)) {
      val out = GraftHadoop.create(fs, sidecar(root), overwrite = true)
      try out.write((merged.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Spark-parquet writer options enabling blooms on `cols` — the adaptive
    * sizer observes the true per-chunk NDV instead of reserving the 1 MiB
    * worst case, so small chunks pay bytes proportional to their cardinality. */
  def writerOptions(cols: Seq[String]): Map[String, String] =
    if (cols.isEmpty) Map.empty
    else Map("parquet.bloom.filter.adaptive.enabled" -> "true") ++
      cols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")

  /** One testable conjunct of the pushed residual: either an equality set
    * (bloom/dictionary refutation — ANY candidate present keeps the file),
    * a range bound (footer min/max refutation; `op` uses the parquet
    * leaf convention 2=lt 3=ltEq 4=gt 5=gtEq), or a disjunction of them. */
  private[sources] sealed trait SkipAtom { def cols: Seq[String] }
  /** An atom over one column — what the footer/bloom tier can test. */
  private[sources] sealed trait ColAtom extends SkipAtom {
    def col: String
    def cols: Seq[String] = Seq(col)
  }
  private[sources] final case class EqAtom(col: String, values: Array[Any])
    extends ColAtom
  private[sources] final case class RangeAtom(col: String, op: Int, v: Long)
    extends ColAtom
  /** Range bound over a STRING column (UTF-8 byte order — matches both
    * parquet's BINARY(UTF8) unsigned comparator and Spark's string
    * ordering). Tested against manifest string zone maps with
    * truncation-safe prefix semantics ([[GraftStats.boundsMightMatch]])
    * and against footer binary statistics (valid bounds by the parquet
    * contract even when the writer truncated them). */
  private[sources] final case class StrRangeAtom(col: String, op: Int, v: String)
    extends ColAtom
  /** `leg1 OR leg2 OR ...`, each leg the conjunction of its atoms. A file
    * is kept when ANY leg might match. A leg holds the atoms of the
    * conjuncts that translated; dropping an untranslatable conjunct only
    * widens the leg, so the refutation stays sound. Tested against zone
    * maps only: the footer/bloom tier could only answer "maybe" for it, so
    * it never reaches [[fileMightMatch]]. */
  private[sources] final case class OrAtom(legs: Seq[Seq[SkipAtom]])
    extends SkipAtom {
    def cols: Seq[String] = legs.flatten.flatMap(_.cols).distinct
  }

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long  => Some(l)
    case i: Int   => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte  => Some(b.toLong)
    // TIMESTAMP predicates compare as epoch MICROSECONDS — the engine's
    // one timestamp representation (the writer emits INT64 micros, the
    // reader decodes INT64 as micros), so the int64 zone-map/footer bounds
    // of a timestamp column are directly comparable. Time-range pruning is
    // the canonical 100-TB scan: `ts >= now() - interval 1 day` drops
    // every file outside the window at planning.
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None // float min-max stats are untrusted (see agg pushdown)
  }

  private def rangeAtom(c: String, op: Int, v: Any): Seq[SkipAtom] = v match {
    case s: String => Seq(StrRangeAtom(c, op, s))
    case other     => asLong(other).map(RangeAtom(c, op, _)).toSeq
  }

  /** The atoms of a pushed residual conjunction that file-level skipping
    * can test against registered columns. A disjunction becomes an
    * [[OrAtom]] only when every leg yields at least one atom: a leg with
    * none could match anything, and so could the whole disjunction. */
  private[sources] def skipAtoms(residual: Array[Filter],
      cols: Set[String]): Seq[SkipAtom] =
    residual.toSeq.flatMap {
      case And(l, r) => skipAtoms(Array(l, r), cols)
      case Or(l, r) =>
        val legs = Seq(l, r).map(f => skipAtoms(Array(f), cols))
        if (legs.forall(_.nonEmpty)) Seq(OrAtom(legs)) else Nil
      case EqualTo(c, v) if cols(c) && v != null => Seq(EqAtom(c, Array[Any](v)))
      case EqualNullSafe(c, v) if cols(c) && v != null =>
        Seq(EqAtom(c, Array[Any](v)))
      case In(c, vs) if cols(c) && vs.nonEmpty && vs.forall(_ != null) =>
        Seq(EqAtom(c, vs.toArray[Any]))
      case GreaterThan(c, v) if cols(c) => rangeAtom(c, 4, v)
      case GreaterThanOrEqual(c, v) if cols(c) => rangeAtom(c, 5, v)
      case LessThan(c, v) if cols(c) => rangeAtom(c, 2, v)
      case LessThanOrEqual(c, v) if cols(c) => rangeAtom(c, 3, v)
      case _ => Nil
    }

  /** True unless some atom is DEFINITELY unsatisfiable in every row group
    * of the file (the atoms are AND'd: one impossible atom kills the file).
    * One footer open for all atoms. Equality refutation comes from the
    * column's bloom when present, or from its DICTIONARY when the chunk is
    * fully dictionary-encoded — parquet deliberately omits blooms for
    * dict-only chunks (the dictionary already lists every distinct value,
    * exactly), which is precisely the low-cardinality case where a lookup
    * like `tenant = 'x'` wants file skipping. RANGE refutation comes from
    * footer min/max statistics, integral columns only (float stats are
    * NaN-contaminated, string stats may be truncated — the same trust
    * policy as the aggregate pushdown); on a dim-sorted or z-ordered
    * layout every file covers a tight value box, so range predicates drop
    * whole files the way they already drop row groups. Missing
    * blooms/stats / unsupported types answer "maybe" (file kept). */
  def fileMightMatch(conf: Configuration, file: String,
      atoms: Seq[ColAtom]): Boolean = {
    val pfr = GraftHadoop.openFooter(new Path(file), conf)
    try {
      val schema = pfr.getFooter.getFileMetaData.getSchema
      val groups = pfr.getRowGroups
      // the file survives iff EVERY atom might hold in SOME row group; an
      // atom impossible everywhere contradicts the conjunction outright
      atoms.forall { atom =>
        val col = atom.col
        if (!schema.containsField(col)) true
        else {
          val idx = schema.getFieldIndex(col)
          val prim = schema.getType(idx).asPrimitiveType.getPrimitiveTypeName
          var someGroupMight = false
          val it = groups.iterator()
          while (it.hasNext && !someGroupMight) {
            val rg = it.next()
            val ccmd = rg.getColumns.asScala.find(
              _.getPath.toDotString == col)
            someGroupMight = ccmd match {
              case Some(cc) => atom match {
                case EqAtom(_, values) =>
                  val bloom = pfr.getBloomFilterDataReader(rg).readBloomFilter(cc)
                  if (bloom != null)
                    values.exists { v =>
                      hashOf(bloom, prim, v) match {
                        case Some(h) => bloom.findHash(h)
                        case None    => true // untestable type: keep
                      }
                    }
                  else !dictionaryRefutes(pfr, rg, cc, schema, col, prim, values)
                case RangeAtom(_, op, v) =>
                  rangeMight(cc, prim, op, v)
                case StrRangeAtom(_, op, v) =>
                  strRangeMight(cc, prim, op, v)
              }
              case None => true
            }
          }
          someGroupMight
        }
      }
    } finally pfr.close()
  }

  /** Could some non-null value of this row-group chunk satisfy `op v`?
    * True when stats are absent/untrusted. */
  private def rangeMight(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      prim: PrimitiveTypeName, op: Int, v: Long): Boolean = {
    if (prim != PrimitiveTypeName.INT64 && prim != PrimitiveTypeName.INT32)
      return true
    val st = cc.getStatistics
    if (st == null || !st.hasNonNullValue) return true // all-null or no stats: a
    // range predicate over an all-null group is false, but "no stats" is
    // indistinguishable from unset counts on foreign writers — keep
    val (mn, mx) = (st.genericGetMin(), st.genericGetMax()) match {
      case (a: java.lang.Integer, b: java.lang.Integer) =>
        (a.longValue, b.longValue)
      case (a: java.lang.Long, b: java.lang.Long) => (a.longValue, b.longValue)
      case _ => return true
    }
    op match {
      case 2 => mn < v   // lt
      case 3 => mn <= v  // ltEq
      case 4 => mx > v   // gt
      case _ => mx >= v  // gtEq
    }
  }

  /** Could some non-null value of this chunk satisfy `op v` for a STRING
    * column? Footer binary min/max are VALID BOUNDS by the parquet
    * contract — a stats-truncating writer truncates min downward and max
    * upward — so comparing them in the unsigned byte order refutes soundly
    * even when the stored bound was never attained (what makes MIN/MAX
    * aggregate pushdown reject strings does not apply to range pruning). */
  private def strRangeMight(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      prim: PrimitiveTypeName, op: Int, v: String): Boolean = {
    if (prim != PrimitiveTypeName.BINARY) return true
    val st = cc.getStatistics
    if (st == null || !st.hasNonNullValue) return true
    val (mn, mx) = (st.genericGetMin(), st.genericGetMax()) match {
      case (a: org.apache.parquet.io.api.Binary,
            b: org.apache.parquet.io.api.Binary) => (a.getBytes, b.getBytes)
      case _ => return true
    }
    val vb = v.getBytes("UTF-8")
    op match {
      case 2 => java.util.Arrays.compareUnsigned(mn, vb) < 0
      case 3 => java.util.Arrays.compareUnsigned(mn, vb) <= 0
      case 4 => java.util.Arrays.compareUnsigned(mx, vb) > 0
      case _ => java.util.Arrays.compareUnsigned(mx, vb) >= 0
    }
  }

  /** Exact dictionary refutation for a bloom-less chunk: sound only when
    * EVERY data page is dictionary-encoded (encoding stats prove it — the
    * same guard parquet-mr's own DictionaryFilter uses) and the dictionary
    * page is readable; then "no dictionary entry equals any candidate"
    * means the value cannot appear in this row group. */
  private def dictionaryRefutes(pfr: ParquetFileReader,
      rg: org.apache.parquet.hadoop.metadata.BlockMetaData,
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      schema: org.apache.parquet.schema.MessageType, col: String,
      prim: PrimitiveTypeName, values: Array[Any]): Boolean = {
    val stats = cc.getEncodingStats
    if (stats == null || stats.hasNonDictionaryEncodedPages || !cc.hasDictionaryPage)
      return false
    val desc = schema.getColumnDescription(Array(col))
    // ascribe the public interface: the concrete DictionaryPageReader class
    // is package-private in parquet-hadoop
    val store: org.apache.parquet.column.page.DictionaryPageReadStore =
      pfr.getDictionaryReader(rg)
    val page = store.readDictionaryPage(desc)
    if (page == null) return false
    val dict = page.getEncoding.initDictionary(desc, page)
    val n = dict.getMaxId
    def present(v: Any): Boolean = (prim, v) match {
      case (PrimitiveTypeName.INT64, x: java.lang.Number) =>
        val t = x.longValue; (0 to n).exists(dict.decodeToLong(_) == t)
      case (PrimitiveTypeName.INT32, x: java.lang.Number) =>
        val t = x.intValue; (0 to n).exists(dict.decodeToInt(_) == t)
      case (PrimitiveTypeName.DOUBLE, x: java.lang.Number) =>
        val t = x.doubleValue; (0 to n).exists(dict.decodeToDouble(_) == t)
      case (PrimitiveTypeName.FLOAT, x: java.lang.Number) =>
        val t = x.floatValue; (0 to n).exists(dict.decodeToFloat(_) == t)
      case (PrimitiveTypeName.BINARY, s: String) =>
        val t = Binary.fromString(s); (0 to n).exists(dict.decodeToBinary(_) == t)
      case (PrimitiveTypeName.BINARY, b: Array[Byte]) =>
        val t = Binary.fromConstantByteArray(b)
        (0 to n).exists(dict.decodeToBinary(_) == t)
      case _ => true // untestable type: treat as possibly present
    }
    !values.exists(present)
  }

  /** Hash a Spark filter value against the column's PHYSICAL type — the
    * bloom stores hashes of plain-encoded values, so an INT64 column must
    * hash a long even if the predicate arrived as an Int. Unknown pairings
    * return None (file kept). */
  private def hashOf(bloom: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      prim: PrimitiveTypeName, v: Any): Option[Long] = (prim, v) match {
    case (PrimitiveTypeName.INT64, n: java.lang.Number) => Some(bloom.hash(n.longValue))
    case (PrimitiveTypeName.INT32, n: java.lang.Number) => Some(bloom.hash(n.intValue))
    case (PrimitiveTypeName.DOUBLE, n: java.lang.Number) => Some(bloom.hash(n.doubleValue))
    case (PrimitiveTypeName.FLOAT, n: java.lang.Number) => Some(bloom.hash(n.floatValue))
    case (PrimitiveTypeName.BINARY, s: String) => Some(bloom.hash(Binary.fromString(s)))
    case (PrimitiveTypeName.BINARY, b: Array[Byte]) =>
      Some(bloom.hash(Binary.fromConstantByteArray(b)))
    case _ => None
  }

  private implicit class JListOps[A](l: java.util.List[A]) {
    def asScala: Seq[A] = {
      val b = Seq.newBuilder[A]
      val it = l.iterator(); while (it.hasNext) b += it.next()
      b.result()
    }
  }
}
