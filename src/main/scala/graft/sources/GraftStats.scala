package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Commit-time ZONE MAPS: per-file min/max bounds for integral data
  * columns, captured from the parquet footer ONCE when the commit seals and
  * carried in the version manifest ([[GraftVersions.ManifestEntry]] third
  * field) forever after — files are immutable, so their bounds are too.
  *
  * Why the manifest and not the footer: [[GraftBloom.fileMightMatch]]
  * already refutes files from footer statistics, but that is one footer
  * open PER CANDIDATE FILE PER QUERY — at a 100k-file grid on an object
  * store that is 100k metadata round-trips to answer a range scan that
  * touches three files. The manifest is read ONCE per plan regardless of
  * file count (it already carries sizes for the same reason), so bounds
  * riding in it make planning-time range/equality refutation FREE: the
  * footer walk then opens only stats-survivors, and a scan whose atoms are
  * all range-shaped never opens a footer at all. This is the standard
  * zone-map / min-max-index design of the table-format generation
  * (Iceberg's per-file `lower_bounds`/`upper_bounds`, Delta's stats JSON),
  * re-expressed over the chunk grid: the grid prunes by DIMENSION
  * directories for free, the zone map prunes by every OTHER integral
  * column the same way whenever the layout correlates it with write order
  * (time-ordered ingest, monotonically assigned ids, regrid/z-order
  * rewrites).
  *
  * Trust policy matches the aggregate pushdown and [[GraftBloom]]'s range
  * path: INT32/INT64 physical columns only (float stats are
  * NaN-contaminated, binary stats may be truncated by foreign writers). A
  * column is captured only when EVERY row group carries a usable
  * Statistics object for it — a single stats-less group makes the file's
  * bounds unknowable and the column is simply omitted (kept = never
  * wrongly pruned). All-null files get no entry (no non-null value can
  * match a comparison, and pruning on IS NULL is out of scope without
  * null counts).
  *
  * Capture is ON by default and declared OFF (or narrowed to named
  * columns) via the `_graft_stats` sidecar — `CALL system.set_stats(tbl,
  * 'off' | 'auto' | 'c1,c2')` — because the cost is one footer read per
  * NEW file per commit (the file the committing task just wrote and still
  * has page-cached), against a read-side saving proportional to grid size
  * times query rate.
  *
  * Reference anchor: the reference prunes scans exclusively by the dims
  * encoded in chunk positions (`/root/reference/src/range.rs:101-109`);
  * the zone map extends that "planning never touches refuted data"
  * promise to non-dim columns.
  */
object GraftStats {

  val SidecarName = "_graft_stats"
  /** Write/procedure value disabling capture; anything else is a column
    * list; an absent sidecar means AUTO (all integral data columns). */
  val Off = "off"
  val Auto = "auto"
  /** Captured columns per file are capped: bounds are two longs plus the
    * name per column per manifest line, and a 500-column table would bloat
    * every manifest for pruning that realistically keys off a few. */
  val MaxCols = 16

  def sidecar(root: Path): Path = new Path(root, SidecarName)

  /** Driver-side parquet footer opens performed for stats capture — test
    * observability: GraftStatsSpec pins that sealing a connector-written
    * commit performs ZERO of these (the writer tasks already carried the
    * bounds in their commit messages; [[enrich]] is the fallback for
    * foreign files only). */
  val footerOpens = new java.util.concurrent.atomic.AtomicLong()

  sealed trait Mode
  case object AutoMode extends Mode
  case object OffMode extends Mode
  final case class ColsMode(cols: Seq[String]) extends Mode

  def mode(fs: FileSystem, root: Path): Mode = {
    val p = sidecar(root)
    if (!fs.exists(p)) AutoMode
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      txt.toLowerCase match {
        case Off  => OffMode
        case Auto | "" => AutoMode
        case _ => ColsMode(txt.split("[,\n]").map(_.trim).filter(_.nonEmpty).toSeq)
      }
    }
  }

  /** Persist the declared mode (driver-side, idempotent). */
  def declare(fs: FileSystem, root: Path, value: String): Unit = {
    fs.mkdirs(root)
    val out = fs.create(sidecar(root), true)
    try out.write((value.trim + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** Resolve the declared capture mode from a table path (driver-side —
    * the writer factories resolve once per write and serialize the answer
    * to tasks, so executor-side capture never reads the sidecar). */
  def modeOf(path: String): Mode = {
    val fs = GraftHadoop.fs(path)
    mode(fs, new Path(path))
  }

  /** A declared mode as the rewrite-side capture spec ([[GraftDv
    * .rewriteLive]]): None = capture off; Some(None) = auto (all eligible
    * columns); Some(Some(cols)) = narrowed to the declared set. */
  def wantedOf(mode: Mode): Option[Option[Set[String]]] = mode match {
    case OffMode => None
    case ColsMode(cols) => Some(Some(cols.toSet))
    case AutoMode => Some(None)
  }

  /** A name the `col=min:max;...` manifest field can carry verbatim. */
  private[sources] def safeName(c: String): Boolean =
    !c.exists(ch => ch == '=' || ch == ';' || ch == ':' || ch == '\t' || ch == '\n')

  /** STRING zone maps store a bounded PREFIX of each bound (hex-encoded,
    * `+`-suffixed when the stored value was cut), not the value itself — a
    * 16-byte cap keeps a wide-string table from bloating every manifest
    * line. Prefix semantics stay SOUND on both sides: a prefix of the min
    * is still a lower bound (prefix <= value in byte order), and a
    * truncated max refutes only through its prefix-SUCCESSOR (the smallest
    * byte string above everything carrying that prefix) — so a bound cut
    * mid-value can never refute a boundary value. The footer values this
    * captures are themselves valid bounds even from stats-truncating
    * writers (parquet truncates min down, max up); what disqualifies
    * string footer stats for MIN/MAX aggregate pushdown (bounds may be
    * unattained) does not apply to pruning. */
  val MaxStrPrefix = 16
  private val TruncMark = "+"

  private[sources] def encodeStrBound(bytes: Array[Byte]): String =
    bytes.take(MaxStrPrefix).map("%02x".format(_)).mkString +
      (if (bytes.length > MaxStrPrefix) TruncMark else "")

  private[sources] def decodeStrBound(s: String): (Array[Byte], Boolean) = {
    val trunc = s.endsWith(TruncMark)
    val hex = if (trunc) s.dropRight(1) else s
    (hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, trunc)
  }

  /** Smallest byte string strictly greater than EVERY string with prefix
    * `p` (increment-with-carry); None when p is all 0xFF (no successor —
    * the caller keeps the file). */
  private def succ(p: Array[Byte]): Option[Array[Byte]] = {
    val out = p.clone()
    var i = out.length - 1
    while (i >= 0) {
      if (out(i) != -1) { out(i) = (out(i) + 1).toByte; return Some(out.take(i + 1)) }
      i -= 1
    }
    None
  }

  /** Footer-aggregated bounds of one file's data columns: (integral
    * min/max, string prefix bounds, physical row count — the same footer
    * open serves all three). Unreadable/foreign files answer empty/−1
    * (kept, never pruned). */
  def ofFile(conf: Configuration, file: Path, wanted: Option[Set[String]],
      countOpen: Boolean = true)
      : (Map[String, (Long, Long)], Map[String, (String, String)], Long) =
    try {
      if (countOpen) footerOpens.incrementAndGet()
      val pfr = GraftHadoop.openFooter(file, conf)
      try {
        val rowCount = pfr.getRecordCount
        val schema = pfr.getFooter.getFileMetaData.getSchema
        val blocks = pfr.getRowGroups
        import scala.jdk.CollectionConverters._
        def isStr(t: org.apache.parquet.schema.PrimitiveType): Boolean =
          t.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
            t.getLogicalTypeAnnotation != null &&
            t.getLogicalTypeAnnotation.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation
                .StringLogicalTypeAnnotation]
        val fields = schema.getFields.asScala.iterator
          .filter(_.isPrimitive)
          .map(_.asPrimitiveType)
          .filter(t => t.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
            t.getPrimitiveTypeName == PrimitiveTypeName.INT64 || isStr(t))
          .filter(t => safeName(t.getName))
          .filter(t => wanted.forall(_.contains(t.getName)))
          .take(MaxCols)
          .toSeq
        val ints = Map.newBuilder[String, (Long, Long)]
        val strs = Map.newBuilder[String, (String, String)]
        fields.foreach { field =>
          val c = field.getName
          val stringCol = isStr(field)
          var mn = Long.MaxValue
          var mx = Long.MinValue
          var smn: Array[Byte] = null
          var smx: Array[Byte] = null
          var usable = true
          var any = false
          blocks.asScala.foreach { b =>
            if (usable) b.getColumns.asScala.find(_.getPath.toDotString == c) match {
              case Some(cc) =>
                val st = cc.getStatistics
                if (st == null || !(st.hasNonNullValue || st.isNumNullsSet))
                  usable = false // stats-less group: bounds unknowable
                else if (st.hasNonNullValue) {
                  (st.genericGetMin(), st.genericGetMax()) match {
                    case (a: java.lang.Integer, z: java.lang.Integer) =>
                      mn = math.min(mn, a.longValue); mx = math.max(mx, z.longValue)
                      any = true
                    case (a: java.lang.Long, z: java.lang.Long) =>
                      mn = math.min(mn, a.longValue); mx = math.max(mx, z.longValue)
                      any = true
                    case (a: org.apache.parquet.io.api.Binary,
                          z: org.apache.parquet.io.api.Binary) if stringCol =>
                      val ab = a.getBytes; val zb = z.getBytes
                      if (smn == null ||
                          java.util.Arrays.compareUnsigned(ab, smn) < 0) smn = ab
                      if (smx == null ||
                          java.util.Arrays.compareUnsigned(zb, smx) > 0) smx = zb
                      any = true
                    case _ => usable = false
                  }
                } // else: all-null group, contributes nothing
              case None => usable = false // column absent from this group?!
            }
          }
          if (usable && any) {
            if (stringCol) strs += c -> (encodeStrBound(smn), encodeStrBound(smx))
            else ints += c -> (mn, mx)
          }
        }
        (ints.result(), strs.result(), rowCount)
      } finally pfr.close()
    } catch {
      case scala.util.control.NonFatal(_) => (Map.empty, Map.empty, -1L)
    }

  /** Attach zone maps to a commit's added entries (the [[GraftVersions
    * .sealCommit]] hook — ONE place covers every write path: batch append,
    * overwrite, upsert/COW, streaming epochs, maintenance rewrites,
    * regrid, branches). FALLBACK ONLY: connector-written files arrive with
    * bounds + row counts already captured EXECUTOR-SIDE by the writing
    * task ([[WriterStatsTracker]], carried in [[GraftCommitMessage]]) — a
    * non-negative `rows` marks such an entry and it passes through
    * untouched (its stats may be legitimately empty: a table with no
    * integral/string data columns). Footer reads here cover only files our
    * writer never saw — foreign parquet, upsert staging consumed through
    * `World.insert`, pre-versioning baselines — because a driver-side
    * footer open per new file would put 10k GETs inside the commit latency
    * of a 10k-file initial load. A declared-off table passes through. */
  def enrich(fs: FileSystem, root: Path,
      added: Seq[GraftVersions.ManifestEntry]): Seq[GraftVersions.ManifestEntry] = {
    if (added.isEmpty ||
        added.forall(e => e.stats.nonEmpty || e.sstats.nonEmpty || e.rows >= 0L))
      return added
    mode(fs, root) match {
      case OffMode => added
      case m =>
        val wanted: Option[Set[String]] = m match {
          case ColsMode(cols) => Some(cols.toSet)
          case _ => None
        }
        val conf = fs.getConf
        import scala.collection.parallel.CollectionConverters._
        added.par.map { e =>
          if (e.stats.nonEmpty || e.sstats.nonEmpty || e.rows >= 0L ||
              e.size == 0L) e
          else {
            val (ints, strs, rows) = ofFile(conf, new Path(root, e.rel), wanted)
            e.copy(stats = ints, sstats = strs, rows = rows)
          }
        }.seq
    }
  }

  /** One file's writer-captured statistics, riding the task → driver
    * commit message: integral bounds, string prefix bounds (already in
    * [[encodeStrBound]] form), and the exact physical row count. */
  final case class GraftFileStats(ints: Map[String, (Long, Long)],
      strs: Map[String, (String, String)], rows: Long)

  /** The column set a writer task captures for one table, resolved ONCE
    * driver-side (factory construction) and serialized to tasks: data
    * columns whose type the zone map trusts (INT32/INT64 physical —
    * Integer/Long/Timestamp — and UTF8 strings), same [[safeName]] filter,
    * same [[MaxCols]] cap, same schema order as [[ofFile]] reads them back
    * from a footer, so writer-captured and footer-captured manifests agree
    * byte-for-byte. `kind`: 0 = int32, 1 = int64/timestamp-micros,
    * 2 = string. */
  final case class CaptureCol(idx: Int, name: String, kind: Int)

  def captureCols(mode: Mode,
      fields: Seq[(Int, org.apache.spark.sql.types.StructField)]): Array[CaptureCol] =
    mode match {
      case OffMode => Array.empty
      case m =>
        import org.apache.spark.sql.types._
        val wanted: Option[Set[String]] = m match {
          case ColsMode(cols) => Some(cols.toSet)
          case _ => None
        }
        fields.iterator.flatMap { case (i, f) =>
          val kind = f.dataType match {
            case IntegerType => 0
            case LongType | TimestampType => 1
            case StringType => 2
            case _ => -1
          }
          if (kind >= 0 && safeName(f.name) && wanted.forall(_.contains(f.name)))
            Some(CaptureCol(i, f.name, kind))
          else None
        }.take(MaxCols).toArray
    }

  /** Per-file accumulator the writer task drives as it routes rows — the
    * SumTracker pattern extended to zone maps: exact min/max per captured
    * column plus the row count, so the seal needs NO footer read for files
    * our writer produced. String bounds keep a CAPPED COPY
    * ([[MaxStrPrefix]] + 1 bytes — enough to reproduce [[encodeStrBound]]
    * exactly, prefix and truncation mark both; the extra byte distinguishes
    * exactly-16 from longer) because the incoming bytes alias the reused
    * row buffer. Values equal through the cap encode identically, so
    * keeping either as the bound is sound. */
  final class WriterStatsTracker(cols: Array[CaptureCol]) {
    private val mn = Array.fill(cols.length)(Long.MaxValue)
    private val mx = Array.fill(cols.length)(Long.MinValue)
    private val anyV = new Array[Boolean](cols.length)
    private val smn = new Array[Array[Byte]](cols.length)
    private val smx = new Array[Array[Byte]](cols.length)
    var rows = 0L

    def addInt(j: Int, v: Long): Unit = {
      if (v < mn(j)) mn(j) = v
      if (v > mx(j)) mx(j) = v
      anyV(j) = true
    }

    def addStr(j: Int, b: Array[Byte]): Unit = {
      val cap = math.min(b.length, MaxStrPrefix + 1)
      if (smn(j) == null ||
          java.util.Arrays.compareUnsigned(b, 0, cap, smn(j), 0, smn(j).length) < 0)
        smn(j) = java.util.Arrays.copyOf(b, cap)
      if (smx(j) == null ||
          java.util.Arrays.compareUnsigned(b, 0, cap, smx(j), 0, smx(j).length) > 0)
        smx(j) = java.util.Arrays.copyOf(b, cap)
      anyV(j) = true
    }

    def result: GraftFileStats = {
      val ints = Map.newBuilder[String, (Long, Long)]
      val strs = Map.newBuilder[String, (String, String)]
      var j = 0
      while (j < cols.length) {
        if (anyV(j)) { // all-null columns get no entry, same as ofFile
          if (cols(j).kind == 2)
            strs += cols(j).name -> (encodeStrBound(smn(j)), encodeStrBound(smx(j)))
          else ints += cols(j).name -> (mn(j), mx(j))
        }
        j += 1
      }
      GraftFileStats(ints.result(), strs.result(), rows)
    }
  }

  /** Could some non-null value inside the bounds satisfy every atom (a
    * disjunction: any of its legs)? The
    * planning-time twin of [[GraftBloom.fileMightMatch]], answered from
    * the manifest with zero I/O. `aliases` maps a CURRENT column name to
    * the spellings old files may have been written under (rename
    * evolution) — a file's bounds are keyed by its own spelling, so each
    * atom checks all of them. Missing bounds / untestable atom values
    * answer true (file kept). String atoms test against the PREFIX bounds
    * (`sbounds`): the stored min prefix is a valid lower bound as-is, and
    * a truncated max refutes only values at or above its prefix-successor
    * — a boundary value sharing the cut prefix is always kept. */
  def boundsMightMatch(bounds: Map[String, (Long, Long)],
      sbounds: Map[String, (String, String)],
      atoms: Seq[GraftBloom.SkipAtom],
      aliases: Map[String, Seq[String]]): Boolean = {
    if ((bounds.isEmpty && sbounds.isEmpty) || atoms.isEmpty) return true
    // strictly-above-the-max test under prefix semantics: is `vb` provably
    // greater than every value the (possibly truncated) stored max bounds?
    def aboveMax(vb: Array[Byte], maxEnc: String, orEqual: Boolean): Boolean = {
      val (p, trunc) = decodeStrBound(maxEnc)
      if (!trunc) {
        val c = java.util.Arrays.compareUnsigned(vb, p)
        if (orEqual) c >= 0 else c > 0
      } else succ(p) match {
        // every bounded value is < succ(p): v >= succ(p) proves v > max
        case Some(s) => java.util.Arrays.compareUnsigned(vb, s) >= 0
        case None    => false // all-0xFF prefix: nothing provable
      }
    }
    def belowMin(vb: Array[Byte], minEnc: String, orEqual: Boolean): Boolean = {
      // the stored min prefix is <= the true min in byte order, truncated
      // or not, so v < prefix proves v < min
      val (p, _) = decodeStrBound(minEnc)
      val c = java.util.Arrays.compareUnsigned(vb, p)
      if (orEqual) c <= 0 else c < 0
    }
    def might(atom: GraftBloom.SkipAtom): Boolean = atom match {
      case GraftBloom.OrAtom(legs) => legs.exists(_.forall(might))
      case a: GraftBloom.ColAtom => colMight(a)
    }
    def colMight(atom: GraftBloom.ColAtom): Boolean = {
      val names = atom.col +: aliases.getOrElse(atom.col, Nil)
      def intBound = names.iterator.flatMap(bounds.get).nextOption()
      def strBound = names.iterator.flatMap(sbounds.get).nextOption()
      atom match {
        case GraftBloom.EqAtom(_, values) =>
          values.exists {
            case n: java.lang.Number => intBound match {
              case None => true
              case Some((mn, mx)) =>
                // fractional doubles can't equal an integral column value,
                // but a whole-valued one can — compare on the long floor
                // only when exact, else keep
                n match {
                  case d: java.lang.Double if d.doubleValue != d.longValue => false
                  case f: java.lang.Float if f.floatValue != f.longValue => false
                  case _ => val v = n.longValue; v >= mn && v <= mx
                }
            }
            case s: String => strBound match {
              case None => true
              case Some((mnE, mxE)) =>
                val vb = s.getBytes("UTF-8")
                !belowMin(vb, mnE, orEqual = false) &&
                  !aboveMax(vb, mxE, orEqual = false)
            }
            case _ => true // untestable candidate type: keep
          }
        case GraftBloom.RangeAtom(_, op, v) => intBound match {
          case None => true
          case Some((mn, mx)) => op match {
            case 2 => mn < v   // lt
            case 3 => mn <= v  // ltEq
            case 4 => mx > v   // gt
            case _ => mx >= v  // gtEq
          }
        }
        case GraftBloom.StrRangeAtom(_, op, v) => strBound match {
          case None => true
          case Some((mnE, mxE)) =>
            val vb = v.getBytes("UTF-8")
            op match {
              // lt: refuted iff min >= v (then no value < v)
              case 2 => !belowMin(vb, mnE, orEqual = true)
              // ltEq: refuted iff min > v
              case 3 => !belowMin(vb, mnE, orEqual = false)
              // gt: refuted iff max <= v, i.e. v at/above the max bound
              case 4 => !aboveMax(vb, mxE, orEqual = true)
              // gtEq: refuted iff max < v
              case _ => !aboveMax(vb, mxE, orEqual = false)
            }
        }
      }
    }
    atoms.forall(might)
  }
}
