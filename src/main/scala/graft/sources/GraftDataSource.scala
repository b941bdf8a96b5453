package graft.sources

import java.util.regex.Pattern

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector over the world chunk-grid layout — the Spark
  * analog of the reference's pluggable `IoHandle`
  * (/root/reference/src/lib.rs:76-97, readme.md:23-25): the engine's storage
  * is an *interface*, not a hard-wired format. `spark.read.format("graft")
  * .load(worldPath)` reads the same grid the parquet path reads, but through
  * this connector's own planning:
  *
  *   - the schema comes from the `_graft_schema.json` sidecar World.create
  *     writes (so an empty world stays readable — the reference's
  *     `NotFound -> empty` contract);
  *   - bucket predicates (`c0 = 3`, `c1 BETWEEN ...`) are consumed in
  *     `pushFilters` and applied to the DIRECTORY listing — pruned chunks
  *     are never planned as input partitions, the exact analog of
  *     `FsHandle::read_chunk` only being called for selected chunk positions;
  *   - column pruning reaches the parquet footer as a projected read schema.
  *
  * One InputPartition per chunk file keeps planning trivially parallel; at
  * cluster scale the listing cost is bounded by the (pruned) chunk count.
  * Local-filesystem Hadoop conf is rebuilt on executors (single-JVM target);
  * a cluster deployment would broadcast a SerializableConfiguration.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft source requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = GraftDataSource.sidecarSchema(pathOf(options))
    if ("changes".equalsIgnoreCase(options.get("graft.follow"))) {
      require(!base.fieldNames.contains(GraftDataSource.ChangeColumn),
        s"graft.follow: the table already has a ${GraftDataSource.ChangeColumn} column")
      base.add(GraftDataSource.ChangeColumn,
        org.apache.spark.sql.types.StringType, nullable = false)
    } else base
  }

  // a WRITE carries its own schema (the query's), so planning one must not
  // require a sidecar to exist yet — without this, the virgin-path write
  // fails at inferSchema before commit could ever create the sidecar
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // option("graft.snapshot", n | tag): pin the path-API read to commit n
    // (the DataFrame-side twin of the catalog's VERSION AS OF; tag names
    // resolve through the tag files system.tag writes);
    // option("graft.changes", "base,target"): the files of `target` absent
    // from `base` — one side of the chunk-granular change feed
    val pin = Option(properties.get("graft.snapshot")).map { v =>
      val root = new Path(properties.get("path"))
      GraftPin(GraftVersions.resolveVersion(
        GraftHadoop.fs(root), root, v))
    }
      .orElse(Option(properties.get("graft.changes")).map { s =>
        s.split(",", 2) match {
          case Array(b, t) => GraftDiffPin(b.trim.toLong, t.trim.toLong)
          case _ => throw new IllegalArgumentException(
            s"graft.changes takes 'baseVersion,targetVersion', got '$s'")
        }
      })
      // zero-copy clone directory (a `_graft_clone` pointer): reads resolve
      // through the SOURCE's manifests at the pinned version; the pin also
      // makes every mutation and streaming read refuse (GraftClone)
      .orElse {
        val root = new Path(properties.get("path"))
        GraftClone.pointer(
          GraftHadoop.fs(root), root)
          .map { case (src, v) => GraftClonePin(src, v) }
      }
      // option("graft.branch", b): read/append against a WAP branch's head
      // (system.branch forks it; system.fast_forward publishes)
      .orElse(Option(properties.get("graft.branch")).map(GraftBranchPin(_)))
    // option("graft.startingVersion", n | "latest"): where a STREAMING read
    // begins — version n's changes onward (inclusive), or only commits
    // sealed after the stream starts. Absent = the whole current state
    // first (the historical default).
    // option("graft.follow", "changes"): the STREAMING change-data-feed
    // face — each micro-batch carries the rows added AND removed by the
    // commits it spans, tagged by a _change_type column (delete sides read
    // out of retained history). Requires a version-logged world.
    val follow = Option(properties.get("graft.follow")).map { m =>
      require(m.equalsIgnoreCase("changes"),
        s"graft.follow supports only 'changes', got '$m'")
      true
    }.getOrElse(false)
    new GraftTable(properties.get("path"), schema, pin,
      Option(properties.get("graft.startingVersion")), follow,
      Option(properties.get("graft.maxVersionsPerTrigger")).map(_.toLong),
      Option(properties.get("graft.maxBytesPerTrigger")).map(_.toLong))
  }
}

/** A read pinned to the version log: one committed snapshot, or the
  * file-level difference between two commits (a change-feed side). Pinned
  * tables plan from manifests instead of the live walk and refuse every
  * mutation and streaming read. */
private[graft] sealed trait GraftTimePin {
  def describe: String
  /** (file, buckets, manifest entry — size −1 unknown, stats = zone map). */
  def files(fs: FileSystem, root: Path,
      pushed: Array[Filter]): Seq[(Path, Map[String, Long], GraftVersions.ManifestEntry)]
}
private[graft] final case class GraftPin(v: Long) extends GraftTimePin {
  def describe: String = s"Snapshot: v$v"
  def files(fs: FileSystem, root: Path,
      pushed: Array[Filter]): Seq[(Path, Map[String, Long], GraftVersions.ManifestEntry)] =
    GraftVersions.snapshotFiles(fs, root, v, pushed)
}
private[graft] final case class GraftDiffPin(base: Long, target: Long)
    extends GraftTimePin {
  def describe: String = s"Changes: v$base..v$target"
  def files(fs: FileSystem, root: Path,
      pushed: Array[Filter]): Seq[(Path, Map[String, Long], GraftVersions.ManifestEntry)] =
    GraftVersions.diffFiles(fs, root, base, target, pushed)
}
/** A WAP branch's head: resolves the branch's newest staged manifest
  * (or its fork when the branch has no commits). Unlike the frozen pins
  * this one is WRITABLE — appends through the same handle seal branch
  * commits — but row-level/overwrite/streaming mutations stay refused. */
private[graft] final case class GraftBranchPin(name: String)
    extends GraftTimePin {
  def describe: String = s"Branch: $name"
  def files(fs: FileSystem, root: Path,
      pushed: Array[Filter]): Seq[(Path, Map[String, Long], GraftVersions.ManifestEntry)] =
    GraftVersions.branchHeadEntries(fs, root, name)
      .map(e => (e, GraftVersions.bucketsOf(e.rel)))
      .filter { case (_, b) => pushed.forall(GraftDataSource.evalOnBuckets(_, b)) }
      .map { case (e, b) => (new Path(root, e.rel), b, e) }
}

/** A zero-copy clone's pin: resolves against the SOURCE table's version
  * manifests (the passed `root` is the clone directory, which holds only
  * the pointer + sidecars — see [[GraftClone]]). */
private[graft] final case class GraftClonePin(src: String, v: Long)
    extends GraftTimePin {
  def describe: String = s"Clone: $src@v$v"
  def files(fs: FileSystem, root: Path,
      pushed: Array[Filter]): Seq[(Path, Map[String, Long], GraftVersions.ManifestEntry)] = {
    val sroot = new Path(src)
    val sfs = GraftHadoop.fs(sroot)
    GraftVersions.snapshotFiles(sfs, sroot, v, pushed)
  }
}

object GraftDataSource {
  private[sources] val BucketCol = Pattern.compile("^c\\d+$")

  def sidecarSchema(path: String): StructType = {
    val fs = GraftHadoop.fs(path)
    val p = new Path(s"$path/_graft_schema.json")
    require(fs.exists(p), s"no _graft_schema.json under $path — not a world?")
    val in = fs.open(p)
    val json = new String(in.readAllBytes(), "UTF-8"); in.close()
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Write the schema sidecar if the path doesn't carry one yet — makes the
    * connector sink self-sufficient on a VIRGIN path: a world created purely
    * by `df.write.format("graft").save(p)` is immediately readable back
    * through [[sidecarSchema]], matching the reference's `FsHandle::
    * write_chunk` needing no prior setup (/root/reference/tokio-fs/src/
    * lib.rs:84-107). Never overwrites: an existing sidecar (World.create's,
    * or a previous write's) stays authoritative for readers of data already
    * on disk. Two writers racing on a virgin path both pass the `exists`
    * probe; the loser's exclusive create fails, and the winner's sidecar
    * is the one that stays. */
  private[sources] def writeSidecarIfAbsent(path: String, schema: StructType): Unit = {
    val fs = GraftHadoop.fs(path)
    val p = new Path(s"$path/_graft_schema.json")
    if (!fs.exists(p)) {
      try {
        val out = GraftHadoop.create(fs, p, overwrite = false)
        try out.write(schema.json.getBytes("UTF-8")) finally out.close()
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
    }
  }

  /** Column-RENAME sidecar (`_graft_renames`): one line per renamed
    * column, `current\taliases (newest first)` — the name-mapping that lets
    * files written BEFORE a rename keep serving the new name without a
    * byte rewritten, the same contract the reference keeps for format
    * evolution (`/root/reference/src/lib.rs:41`: old payloads decode under
    * the new shape via `decode(version, dims, buf)`). Readers resolve a
    * projected column per FILE: the current name when the file carries it,
    * else the newest alias it does carry (see [[resolveInFile]]). The old
    * name simultaneously joins `_graft_dropped`, so a later ADD can never
    * resurrect pre-rename bytes under a reused name. */
  private[sources] val RenamesSidecarName = "_graft_renames"

  /** current name → aliases, NEWEST FIRST (a→b→c stores c → [b, a]). */
  def renamesOf(path: String): Map[String, Seq[String]] = {
    val fs = GraftHadoop.fs(path)
    val p = new Path(path, RenamesSidecarName)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      txt.split("\n").map(_.trim).filter(_.nonEmpty).flatMap { line =>
        line.split("\t").toSeq match {
          case cur +: aliases if aliases.nonEmpty => Some(cur -> aliases)
          case _ => None
        }
      }.toMap
    }
  }

  private[sources] def writeRenames(path: String,
      m: Map[String, Seq[String]]): Unit = {
    val fs = GraftHadoop.fs(path)
    val p = new Path(path, RenamesSidecarName)
    if (m.isEmpty) { fs.delete(p, false); return }
    val out = GraftHadoop.create(fs, p, overwrite = true)
    try out.write(m.toSeq.sortBy(_._1)
      .map { case (c, as) => (c +: as).mkString("\t") }.mkString("\n")
      .concat("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The field name `name` resolves to inside one parquet file: the current
    * name if the file carries it, else the NEWEST alias it carries, else
    * None (field predates every spelling → NULL column, exactly like an
    * ADDed column). Newest-first order matters when a name was recycled
    * through multiple renames: later files' spelling wins. */
  private[sources] def resolveInFile(
      fileSchema: org.apache.parquet.schema.MessageType, name: String,
      aliases: Map[String, Seq[String]]): Option[String] =
    if (fileSchema.containsField(name)) Some(name)
    else aliases.getOrElse(name, Nil).find(fileSchema.containsField)

  /** Name of the chunk-cell metadata column (see [[GraftTable.metadataColumns]]). */
  private[sources] val CellColumn = "_cell"
  /** Row-address metadata columns: the data file a row lives in (absolute
    * path) and its PHYSICAL ordinal within that file — together the stable
    * row id the merge-on-read DELETE's delta write keys its deletion
    * vectors by (and a queryable debugging aid, like other formats'
    * `_file`/`_pos`). `_pos` counts physical rows, so it is stable under
    * later deletes: a row's address never changes while its file lives. */
  private[sources] val FileColumn = "_file"
  private[sources] val PosColumn = "_pos"
  /** CDC tag column of `graft.follow = changes` streams ("insert"/"delete");
    * a per-partition constant like bucket values, never persisted. */
  private[sources] val ChangeColumn = "_change_type"
  /** Footer key-value metadata key carrying per-file integral column sums
    * (`col=sum,nonNullCount;...`) — written by SumTracker, read by the SUM
    * aggregate pushdown. */
  private[sources] val SumsMetaKey = "graft.sums"

  /** Canonical relative-path form of a cell's bucket tuple: `c0=…/c1=…`. */
  private[sources] def cellString(buckets: Map[String, Long]): String =
    buckets.toSeq.sortBy { case (k, _) => k.drop(1).toInt }
      .map { case (k, v) => s"$k=$v" }.mkString("/")

  private[sources] def isBucket(name: String): Boolean =
    BucketCol.matcher(name).matches()

  /** Evaluate a pushed source filter against one chunk's bucket values. */
  private[sources] def evalOnBuckets(f: Filter, b: Map[String, Long]): Boolean = {
    // a filter referencing a bucket column this file's path does not bind
    // (pre-regrid files under a geometry that added dims) is undecidable
    // here — keep the file, the row-level recheck is exact. Checked BEFORE
    // evaluation so a Not(...) can never flip "unknown" into a wrong prune.
    if (!f.references.forall(b.contains)) return true
    def v(x: Any): Long = x match {
      case l: Long => l; case i: Int => i.toLong
      case s: Short => s.toLong; case by: Byte => by.toLong
      case other => throw new IllegalArgumentException(s"non-integral bucket literal $other")
    }
    f match {
      case _: AlwaysTrue            => true
      case _: AlwaysFalse           => false
      case EqualTo(a, x)            => b(a) == v(x)
      case GreaterThan(a, x)        => b(a) > v(x)
      case GreaterThanOrEqual(a, x) => b(a) >= v(x)
      case LessThan(a, x)           => b(a) < v(x)
      case LessThanOrEqual(a, x)    => b(a) <= v(x)
      case In(a, xs)                => xs.exists(x => b(a) == v(x))
      case And(l, r)                => evalOnBuckets(l, b) && evalOnBuckets(r, b)
      case Or(l, r)                 => evalOnBuckets(l, b) || evalOnBuckets(r, b)
      case Not(c)                   => !evalOnBuckets(c, b)
      case _                        => true // unknown shape: keep the chunk
    }
  }

  /** Three-valued evaluation against a PARTIAL bucket binding (outer
    * directory levels bound, inner ones not yet): Some(v) when the filter is
    * decidable from the bound columns alone, None when it still depends on
    * an unbound one. Lets the planner drop a whole c0=… subtree before
    * listing anything under it — on a large unpruned grid the directory walk
    * itself is the planning cost, so pruning must happen on the way DOWN,
    * not at the leaves. With every column bound this is exactly
    * [[evalOnBuckets]]. */
  private[sources] def evalPartial(f: Filter, b: Map[String, Long]): Option[Boolean] = {
    def v(x: Any): Long = x match {
      case l: Long => l; case i: Int => i.toLong
      case s: Short => s.toLong; case by: Byte => by.toLong
      case other => throw new IllegalArgumentException(s"non-integral bucket literal $other")
    }
    f match {
      case _: AlwaysTrue            => Some(true)
      case _: AlwaysFalse           => Some(false)
      case EqualTo(a, x)            => b.get(a).map(_ == v(x))
      case GreaterThan(a, x)        => b.get(a).map(_ > v(x))
      case GreaterThanOrEqual(a, x) => b.get(a).map(_ >= v(x))
      case LessThan(a, x)           => b.get(a).map(_ < v(x))
      case LessThanOrEqual(a, x)    => b.get(a).map(_ <= v(x))
      case In(a, xs)                => b.get(a).map(bv => xs.exists(x => bv == v(x)))
      case And(l, r) => (evalPartial(l, b), evalPartial(r, b)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true))            => Some(true)
        case _                                   => None
      }
      case Or(l, r) => (evalPartial(l, b), evalPartial(r, b)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false))        => Some(false)
        case _                                 => None
      }
      case Not(c) => evalPartial(c, b).map(!_)
      case _      => Some(true) // unknown shape: keep the subtree
    }
  }

  /** May a chunk under this partial binding still satisfy the filter? */
  private[sources] def mayMatch(f: Filter, b: Map[String, Long]): Boolean =
    evalPartial(f, b).getOrElse(true)

  /** Walk the nested c0=<v>/c1=<v>/… chunk-grid directories under `root`,
    * returning each leaf chunk dir with its full bucket binding. Two
    * planning-cost controls for big grids: (a) pushed filters decidable from
    * the columns bound so far drop whole subtrees BEFORE anything under them
    * is listed (a c0-equality on a 100x100 grid lists 1/100th of the tree);
    * (b) surviving subtrees list in parallel — the walk is remote-metadata
    * latency-bound, not CPU-bound, and sequential listing of a wide grid
    * serializes thousands of round-trips on the driver. Shared by the batch
    * scan and the micro-batch stream (pruning applies before offsets form).
    */
  private[graft] def walkChunks(fs: FileSystem, root: Path,
      pushed: Array[Filter]): Seq[(Path, Map[String, Long])] = {
    import scala.collection.parallel.CollectionConverters._
    def chunks(dir: Path, acc: Map[String, Long]): Seq[(Path, Map[String, Long])] = {
      val entries = fs.listStatus(dir).toSeq
      val subdirs = entries.filter(e => e.isDirectory &&
        e.getPath.getName.contains("=") &&
        isBucket(e.getPath.getName.split("=")(0)))
      if (subdirs.isEmpty) Seq((dir, acc))
      else {
        val kept = subdirs.flatMap { s =>
          val Array(k, v) = s.getPath.getName.split("=", 2)
          val bound = acc + (k -> v.toLong)
          if (pushed.forall(mayMatch(_, bound))) Some((s.getPath, bound)) else None
        }
        if (kept.sizeIs > 4) kept.par.flatMap { case (p, b) => chunks(p, b) }.seq.toSeq
        else kept.flatMap { case (p, b) => chunks(p, b) }
      }
    }
    chunks(root, Map.empty)
      .filter { case (_, b) => b.nonEmpty } // skip the root when world is empty
      .filter { case (_, b) => pushed.forall(evalOnBuckets(_, b)) }
  }

  /** Live cells of the world — (cell dir, buckets, data files) — resolved
    * through the LATEST MANIFEST whenever the commit log is authoritative
    * (sealed versions exist, no World-rewrite barrier pending), else by the
    * pruned parallel grid walk. Manifest-only retirement leaves superseded
    * files IN PLACE, so a physical listing of a versioned barrier-free
    * world would over-read — every live read path routes through here. The
    * manifest branch is also the cheaper one at scale: one small-file read
    * replaces the recursive grid listing entirely (bucket pruning becomes
    * string filtering on rel paths). */
  /** One planned file: absolute path, manifest-carried size, the
    * manifest-carried zone map (empty = unknown, never pruned), and the
    * file's deletion vector if one is attached — (ABSOLUTE sidecar path,
    * deleted-row count), already resolved against the same root as the
    * data path so readers need no second resolution. */
  private[graft] final case class FileRef(path: Path, size: Long,
      stats: Map[String, (Long, Long)] = Map.empty,
      dv: Option[(String, Long)] = None,
      sstats: Map[String, (String, String)] = Map.empty,
      rows: Long = -1L) {
    /** Live rows, when the manifest knows the physical count. */
    def liveRows: Long =
      if (rows < 0L) -1L else rows - dv.map(_._2).getOrElse(0L)
  }

  private[graft] def liveCells(fs: FileSystem, root: Path,
      pushed: Array[Filter]): Seq[(Path, Map[String, Long], Seq[FileRef])] =
    GraftVersions.liveEntries(fs, root) match {
      case Some(entries) =>
        entries.map(e => (e, GraftVersions.bucketsOf(e.rel)))
          .filter { case (_, b) =>
            b.nonEmpty && pushed.forall(evalOnBuckets(_, b)) }
          .groupBy { case (e, _) => e.rel.split('/').dropRight(1).mkString("/") }
          .toSeq.map { case (cellRel, group) =>
            (new Path(root, cellRel), group.head._2,
              group.map { case (e, _) =>
                FileRef(new Path(root, e.rel), e.size, e.stats,
                  e.dv.map { case (r, n) => (new Path(root, r).toString, n) },
                  e.sstats, e.rows)
              })
          }
      case None =>
        if (!fs.exists(root)) Seq.empty
        else walkChunks(fs, root, pushed).map { case (d, b) =>
          (d, b, chunkFileStatuses(fs, d).map(st => FileRef(st.getPath, st.getLen)))
        }
    }

  /** Data files of one chunk dir (skips _sidecars and .hidden files). */
  private[sources] def chunkFileStatuses(fs: FileSystem,
      dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(e => e.isFile && !e.getPath.getName.startsWith("_") &&
        !e.getPath.getName.startsWith("."))

  private[sources] def chunkFiles(fs: FileSystem, dir: Path): Seq[Path] =
    chunkFileStatuses(fs, dir).map(_.getPath)

  /** Aggregates whose per-file partial is a pure function of the file's
    * LIVE row count and its directory constants — answerable from the
    * manifest alone (no footer open) and exact over deletion vectors. */
  private[sources] def rowCountDerivable(a: PushedAgg): Boolean = a match {
    case PCountStar => true
    case PCount(c)  => isBucket(c)
    case PSum(c)    => isBucket(c)
    case PMin(c)    => isBucket(c)
    case PMax(c)    => isBucket(c)
  }

  /** Translate a residual (data-column) Spark filter into a parquet
    * `FilterPredicate` for ROW-GROUP SKIPPING and record-level filtering
    * inside surviving chunks — the intra-chunk complement of directory
    * pruning, and what makes the Z-ORDERED layout pay through the
    * connector (z-sorted files keep every dim's per-row-group min/max
    * envelope tight, so a pushed dim predicate skips whole groups no
    * matter which dim it constrains).
    *
    * Soundness: every translation keeps a SUPERSET of the SQL-true rows
    * (parquet's 2-valued NOT keeps nulls SQL would drop; everything else
    * matches SQL null semantics), and the same filters are also returned
    * to Spark as residual, so the re-check above the scan drops any
    * surplus. Untranslatable shapes (NaN literals, unsupported types,
    * exotic predicates) return None and simply aren't pushed. */
  /** Does this file store column `a` at the physical width
    * [[toParquetPredicate]] will assume for `dt`? Pre-type-widening files
    * keep the narrower primitive (INT32 under a now-BIGINT column) and a
    * typed parquet predicate against them throws at evaluation. */
  private[sources] def parquetPredicateCompatible(
      fileSchema: org.apache.parquet.schema.MessageType, a: String,
      dt: Option[DataType]): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val fld = fileSchema.getType(fileSchema.getFieldIndex(a))
    if (!fld.isPrimitive) return false
    val pt = fld.asPrimitiveType().getPrimitiveTypeName
    dt match {
      case Some(LongType)                           => pt == INT64
      case Some(IntegerType | ShortType | ByteType) => pt == INT32
      case Some(DoubleType)                         => pt == DOUBLE
      case Some(FloatType)                          => pt == FLOAT
      case Some(BooleanType)                        => pt == BOOLEAN
      case Some(StringType | BinaryType)            => pt == BINARY
      case Some(TimestampType)                      => pt == INT64
      case _                                        => false
    }
  }

  private[sources] def toParquetPredicate(f: Filter,
      types: Map[String, DataType]): Option[org.apache.parquet.filter2
      .predicate.FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    def nanGuard(v: Any): Boolean = v match {
      case d: Double => d.isNaN
      case fl: Float => fl.isNaN
      case _         => false
    }
    // op: 0 = eq, 1 = notEq, 2 = lt, 3 = ltEq, 4 = gt, 5 = gtEq
    def leaf(a: String, v: Any, op: Int): Option[org.apache.parquet.filter2
        .predicate.FilterPredicate] = {
      if (nanGuard(v)) return None
      types.get(a).flatMap {
        case LongType =>
          val c = FilterApi.longColumn(a)
          val x: java.lang.Long = v match {
            case null => null
            case l: Long => l; case i: Int => i.toLong; case s: Short => s.toLong
            case b: Byte => b.toLong; case _ => return None
          }
          Some(op match {
            case 0 => FilterApi.eq(c, x);   case 1 => FilterApi.notEq(c, x)
            case 2 => FilterApi.lt(c, x);   case 3 => FilterApi.ltEq(c, x)
            case 4 => FilterApi.gt(c, x);   case _ => FilterApi.gtEq(c, x)
          })
        case IntegerType =>
          val c = FilterApi.intColumn(a)
          val x: java.lang.Integer = v match {
            case null => null
            case i: Int => i; case s: Short => s.toInt; case b: Byte => b.toInt
            case l: Long if l == l.toInt.toLong => l.toInt
            case _ => return None
          }
          Some(op match {
            case 0 => FilterApi.eq(c, x);   case 1 => FilterApi.notEq(c, x)
            case 2 => FilterApi.lt(c, x);   case 3 => FilterApi.ltEq(c, x)
            case 4 => FilterApi.gt(c, x);   case _ => FilterApi.gtEq(c, x)
          })
        case DoubleType =>
          val c = FilterApi.doubleColumn(a)
          val x: java.lang.Double = v match {
            case null => null
            case d: Double => d; case fl: Float => fl.toDouble; case _ => return None
          }
          Some(op match {
            case 0 => FilterApi.eq(c, x);   case 1 => FilterApi.notEq(c, x)
            case 2 => FilterApi.lt(c, x);   case 3 => FilterApi.ltEq(c, x)
            case 4 => FilterApi.gt(c, x);   case _ => FilterApi.gtEq(c, x)
          })
        case FloatType =>
          val c = FilterApi.floatColumn(a)
          val x: java.lang.Float = v match {
            case null => null
            case fl: Float => fl; case _ => return None
          }
          Some(op match {
            case 0 => FilterApi.eq(c, x);   case 1 => FilterApi.notEq(c, x)
            case 2 => FilterApi.lt(c, x);   case 3 => FilterApi.ltEq(c, x)
            case 4 => FilterApi.gt(c, x);   case _ => FilterApi.gtEq(c, x)
          })
        case StringType =>
          val c = FilterApi.binaryColumn(a)
          val x: Binary = v match {
            case null => null
            case s: String => Binary.fromString(s); case _ => return None
          }
          Some(op match {
            case 0 => FilterApi.eq(c, x);   case 1 => FilterApi.notEq(c, x)
            case 2 => FilterApi.lt(c, x);   case 3 => FilterApi.ltEq(c, x)
            case 4 => FilterApi.gt(c, x);   case _ => FilterApi.gtEq(c, x)
          })
        case BooleanType =>
          val c = FilterApi.booleanColumn(a)
          val x: java.lang.Boolean = v match {
            case null => null
            case b: Boolean => b; case _ => return None
          }
          op match {
            case 0 => Some(FilterApi.eq(c, x))
            case 1 => Some(FilterApi.notEq(c, x))
            case _ => None // no ordering on booleans
          }
        case _ => None
      }
    }
    // (predicate, exact): exact means the parquet predicate keeps EXACTLY
    // the SQL-true rows; inexact means a strict superset (still sound to
    // push — Spark re-checks — but NOT safe to negate: NOT(superset) drops
    // rows SQL keeps). Leaves are exact; And/Or preserve exactness when all
    // legs translate exactly; a partially-translated And is a superset;
    // Not demands an exact child and yields a superset (parquet's 2-valued
    // NOT keeps nulls SQL's 3-valued NOT drops).
    def tr(f: Filter): Option[(org.apache.parquet.filter2.predicate
        .FilterPredicate, Boolean)] = f match {
      case EqualTo(a, v)            => leaf(a, v, 0).map((_, true))
      case GreaterThan(a, v)        => leaf(a, v, 4).map((_, true))
      case GreaterThanOrEqual(a, v) => leaf(a, v, 5).map((_, true))
      case LessThan(a, v)           => leaf(a, v, 2).map((_, true))
      case LessThanOrEqual(a, v)    => leaf(a, v, 3).map((_, true))
      case IsNull(a)                => leaf(a, null, 0).map((_, true))
      case IsNotNull(a)             => leaf(a, null, 1).map((_, true))
      case In(a, vs) if vs.nonEmpty && vs.length <= 32 =>
        val legs = vs.toSeq.map(v => leaf(a, v, 0))
        if (legs.forall(_.isDefined))
          Some((legs.map(_.get).reduce(org.apache.parquet.filter2.predicate
            .FilterApi.or(_, _)), true))
        else None
      case And(l, r) =>
        // one translatable leg still helps: a conjunct may push alone,
        // keeping a superset of the conjunction
        (tr(l), tr(r)) match {
          case (Some((a, ea)), Some((b, eb))) =>
            Some((org.apache.parquet.filter2.predicate.FilterApi.and(a, b),
              ea && eb))
          case (Some((a, _)), None) => Some((a, false))
          case (None, Some((b, _))) => Some((b, false))
          case _ => None
        }
      case Or(l, r) =>
        // OR needs BOTH legs — a one-sided OR would drop rows
        for { (a, ea) <- tr(l); (b, eb) <- tr(r) }
          yield (org.apache.parquet.filter2.predicate.FilterApi.or(a, b),
            ea && eb)
      case Not(c) =>
        tr(c).collect { case (p, true) =>
          (org.apache.parquet.filter2.predicate.FilterApi.not(p), false)
        }
      case _ => None
    }
    tr(f).map(_._1)
  }

  /** Does this filter reference only bucket columns, in shapes we can
    * evaluate exactly against directory values? */
  private[sources] def bucketOnly(f: Filter): Boolean = f match {
    case _: AlwaysTrue | _: AlwaysFalse => true
    case EqualTo(a, _) => isBucket(a)
    case GreaterThan(a, _) => isBucket(a)
    case GreaterThanOrEqual(a, _) => isBucket(a)
    case LessThan(a, _) => isBucket(a)
    case LessThanOrEqual(a, _) => isBucket(a)
    case In(a, _) => isBucket(a)
    case And(l, r) => bucketOnly(l) && bucketOnly(r)
    case Or(l, r) => bucketOnly(l) && bucketOnly(r)
    case Not(c) => bucketOnly(c)
    case IsNotNull(a) => isBucket(a) // always true for bucket cols
    case _ => false
  }
}

/** `pin`: when set, the table is pinned to the version log
  * ([[GraftVersions]]) — a committed snapshot or a version diff — scans
  * read exactly the manifest-derived files (live or retired into history)
  * and every mutation is refused. Reached via the catalog's `VERSION AS
  * OF` / `TIMESTAMP AS OF` or the path API's `option("graft.snapshot", n)`
  * / `option("graft.changes", "base,target")`. */
class GraftTable(path: String, schema: StructType,
    pin: Option[GraftTimePin] = None,
    startingVersion: Option[String] = None,
    follow: Boolean = false,
    maxVersionsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    // true when loaded through GraftCatalog: catalog-routed writes can
    // resolve connector functions (zvalue sort ordering) against the
    // catalog's FunctionCatalog face; path-routed writes cannot and take
    // the lexicographic z-column fallback (see GraftZOrder)
    viaCatalog: Boolean = false,
    // the session declared graft.wap.branch=<name> but this table has no
    // such branch: reads fall back to main (a WAP session's SOURCE tables
    // need no fork), writes refuse loudly (staging must never silently
    // leak to main)
    wapMissing: Option[String] = None) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String =
    s"graft:$path" + pin.map(p => s"@${p.describe}").getOrElse("")

  private def readOnly(op: String): Unit = pin.foreach {
    case _: GraftBranchPin => // a branch head is writable (append commits)
    case p => throw new UnsupportedOperationException(
      s"graft: $op on a version-pinned table (${p.describe}) — pinned " +
        "reads are read-only")
  }

  private def noBranch(op: String): Unit = pin.foreach {
    case b: GraftBranchPin => throw new UnsupportedOperationException(
      s"graft: $op on branch '${b.name}' — publish with " +
        "system.fast_forward first, then run it on main")
    case _ =>
  }

  private def branchName: Option[String] =
    pin.collect { case GraftBranchPin(n) => n }

  private def wapGuard(op: String): Unit = wapMissing.foreach { b =>
    throw new UnsupportedOperationException(
      s"graft: $op under graft.wap.branch='$b', but $path has no such " +
        s"branch — CALL system.branch(table, '$b') to fork it first " +
        "(writes never silently leak to main while WAP staging is declared)")
  }

  /** `_cell`: the chunk-cell a row lives in (its directory's relative path,
    * `c0=…/c1=…`) — the grid's analog of other formats' `_file` metadata
    * column. Queryable directly (`SELECT _cell, * FROM t`), and REQUIRED by
    * the row-level operation: Spark only routes rows through the write-side
    * projection when the operation demands metadata attributes, so `_cell`
    * is also what keeps `__row_operation` out of the replacement writer. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftDataSource.CellColumn
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "chunk cell (relative directory) of the row"
      },
      // the row-address pair backing merge-on-read DELETE ([[GraftDv]]):
      // Spark's delta rewrite reads them as the rowId and the dv write
      // turns them into per-file position vectors
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftDataSource.FileColumn
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file (absolute path) of the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftDataSource.PosColumn
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "physical row ordinal within the data file"
      })

  /** `UPDATE` / `MERGE INTO` / row-exact `DELETE` as a group-based
    * copy-on-write rewrite whose replace unit is the chunk — see
    * [[GraftRowLevelOperation]]. Bucket-only DELETEs still take the
    * metadata-only [[deleteWhere]] path (Spark prefers `SupportsDelete`
    * when `canDeleteWhere` accepts); everything it refuses lands here and
    * becomes a candidate-chunk rewrite instead of a hard failure. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    readOnly("row-level operation")
    wapGuard("row-level operation")
    new GraftRowLevelBuilder(path, schema, info, branchName)
  }

  /** `DELETE FROM` with a bucket-only condition — the SQL face of the
    * reference's whole-chunk `destroy` (/root/reference/src/world/iter.rs:
    * 254-265): matching chunk DIRECTORIES are removed, a pure metadata
    * operation that never reads a row. Row-level conditions are refused
    * (canDeleteWhere = false), which makes Spark fail the statement rather
    * than silently over- or under-delete — row-exact deletion is
    * `World.destroy`'s rewrite path, a data operation the caller must opt
    * into. The inherited default `truncateTable()` routes `TRUNCATE TABLE`
    * here as delete-everything. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean = filters.forall(GraftDataSource.bucketOnly)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Unit = {
    readOnly("DELETE")
    wapGuard("DELETE")
    val fs = GraftHadoop.fs(path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(root)) {
      // versioned commit: the dropped chunks' files fall out of the sealed
      // manifest (their bytes stay in place for snapshot reads — a pure
      // metadata DELETE even at the storage layer), so the pre-DELETE state
      // stays addressable and rollback-able. The victim set is pruned by
      // the DELETE's own bucket filters against the predecessor manifest —
      // or, for WAP staging, the branch head, retiring from the branch
      // chain only.
      val c = branchName match {
        case Some(b) => GraftVersions.beginBranchCommit(fs, root, b)
        case None => GraftVersions.beginCommit(fs, root)
      }
      val removed = GraftStage.liveWithBuckets(fs, root, c)
        .filter { case (_, b) =>
          filters.forall(GraftDataSource.evalOnBuckets(_, b)) }
        .map(_._1).toSet
      GraftVersions.sealCommit(fs, root, c, removed, Seq.empty)
    }
  }
  override def schema(): StructType = schema
  // the chunk grid IS a partitioning on the bucket columns; reporting it
  // lets catalog DML resolve INSERT OVERWRITE to dynamic per-chunk
  // replacement under partitionOverwriteMode=dynamic
  override def partitioning(): Array[Transform] =
    schema.fields.map(_.name).filter(GraftDataSource.isBucket)
      .map(n => org.apache.spark.sql.connector.expressions.Expressions
        .identity(n): Transform)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, schema, pin = pin,
      startingVersion = startingVersion, follow = follow,
      maxVersionsPerTrigger = maxVersionsPerTrigger,
      maxBytesPerTrigger = maxBytesPerTrigger)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    readOnly("write")
    wapGuard("write")
    if (follow) throw new UnsupportedOperationException(
      "graft: cannot write through a graft.follow change-feed handle")
    new GraftWriteBuilder(path, info, viaCatalog, branchDefault = branchName)
  }
}

/** One aggregate the scan can answer from metadata alone. Bucket columns are
  * directory constants (min = max = the dir value, never null); data columns
  * come from parquet footer statistics, with a per-file data-scan fallback
  * when a footer lacks usable stats — the pushdown never has to *reject* a
  * file at read time. */
sealed trait PushedAgg extends Serializable { def name: String }
case object PCountStar extends PushedAgg { val name = "COUNT(*)" }
final case class PCount(col: String) extends PushedAgg { def name = s"COUNT($col)" }
final case class PMin(col: String) extends PushedAgg { def name = s"MIN($col)" }
final case class PMax(col: String) extends PushedAgg { def name = s"MAX($col)" }
final case class PSum(col: String) extends PushedAgg { def name = s"SUM($col)" }

class GraftScanBuilder(path: String, schema: StructType,
    // set by row-level operations (UPDATE/DELETE/MERGE rewrites): records
    // every chunk dir the scan plans, so the operation's write can replace
    // exactly the groups that were read. Also disables aggregate/limit/topN
    // pushdown — a copy-on-write scan must surface every row of its
    // candidate groups, not a summary or prefix of them.
    rowLevelFiles: Option[java.util.Set[String]] = None,
    // version pin (snapshot or diff): plan from the version manifests
    // instead of the live walk. Bucket pruning, column pruning, and
    // aggregate pushdown still apply (footer statistics read identically
    // from history files); limit / topN pushdowns are declined — their
    // early-stop walks assume the live tree's directory order.
    pin: Option[GraftTimePin] = None,
    // streaming start cursor / CDC mode / admission cap (see
    // GraftMicroBatchStream) — batch scans ignore the first and last and
    // refuse the CDC mode
    startingVersion: Option[String] = None,
    follow: Boolean = false,
    maxVersionsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN {
  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAggs: Seq[PushedAgg] = Nil
  private var groupCols: Array[String] = Array.empty
  private var limit = -1
  private var topN: Array[(String, Boolean)] = Array.empty

  /** PARTIAL limit pushdown (`isPartiallyPushed` default true): each chunk
    * reader stops after `limit` rows instead of draining its file, and
    * Spark's own Limit still enforces the global bound — so `df.limit(10)`
    * over a petabyte world touches at most 10 rows per surviving chunk
    * file. Sound with pushed bucket filters (directory-exact, no residual
    * re-check can disqualify an emitted row). */
  override def pushLimit(l: Int): Boolean =
    if (rowLevelFiles.isDefined || pin.isDefined) false
    else { limit = l; true }

  // both SupportsPushDownLimit and SupportsPushDownTopN declare the same
  // default; Scala requires the diamond be resolved explicitly — and both
  // of this builder's pushdowns ARE partial (Spark re-applies the bound)
  override def isPartiallyPushed(): Boolean = true

  /** PARTIAL top-N pushdown for BUCKET-ONLY sort orders: `ORDER BY c0 DESC
    * LIMIT n` walks the chunk grid in key order and keeps only the leading
    * chunk dirs whose cumulative footer row counts reach n — the rest of
    * the world is never planned, let alone read. Sound because every row of
    * a chunk file shares its full bucket tuple: (a) all rows sorting
    * STRICTLY before the cutoff key live in kept dirs, and ties at the
    * cutoff may fill the remaining slots from any file (SQL top-N ties are
    * arbitrary), so the kept set contains a valid top-n multiset; (b) the
    * per-file reader stop at n rows keeps any file's contribution
    * sufficient for the same reason. Spark's final TakeOrdered re-sorts the
    * kept prefix (`isPartiallyPushed` = true). A sort order touching ANY
    * data column is rejected whole — honoring a bucket-only prefix of it
    * could drop a tie row the full order would have selected. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions
      .SortOrder], l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    val cols = orders.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            GraftDataSource.isBucket(nr.fieldNames()(0)) =>
          Some((nr.fieldNames()(0), o.direction() == SortDirection.ASCENDING))
        case _ => None
      }
    }
    if (rowLevelFiles.isEmpty && pin.isEmpty && cols.nonEmpty &&
        cols.forall(_.isDefined)) {
      topN = cols.map(_.get); limit = l; true
    } else false
  }

  private var residualFilters: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (prunable, residual) = filters.partition(GraftDataSource.bucketOnly)
    pushed = prunable
    // residual (data-column) filters go back to Spark for the exact
    // re-check, AND ride along to the chunk readers as parquet row-group /
    // record predicates (vanilla parquet's pushed-and-rechecked discipline).
    // EXCEPT for a row-level operation's scan: Spark pushes the command's
    // POSITIVE condition there to prune candidate GROUPS, while the
    // copy-on-write query keeps the rows NOT matching it — filtering
    // records (or even row groups) inside a planned chunk would silently
    // drop the survivor rows the rewrite must re-emit. Bucket filters stay:
    // a dir they prune is not planned, hence not replaced, hence intact.
    if (rowLevelFiles.isEmpty) residualFilters = residual
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT(*) / COUNT(col) / MIN(col) / MAX(col) — ungrouped or grouped by
    * bucket columns — are answered from parquet footer metadata: row counts,
    * per-column null counts, and per-column min/max statistics. One metadata
    * read per surviving chunk file, zero data pages. Grouping works because
    * bucket values are directory constants: every row of a chunk file shares
    * them, so a per-file (bucket values, partial aggregates) row IS that
    * file's exact group contribution.
    *
    * Sound because (a) Spark only attempts aggregate pushdown when every
    * filter was consumed by `pushFilters`, and our pushed bucket filters are
    * directory-exact (no residual rows to re-check); (b) the pushdown is
    * PARTIAL (`supportCompletePushDown` default false): Spark's final
    * aggregation recombines the per-file rows (COUNT→sum, MIN→min, MAX→max),
    * so multi-file chunks and empty worlds need no special casing; (c) a
    * file whose footer lacks usable stats is aggregated by scanning just
    * that file (reader-side fallback), never by guessing.
    *
    * MIN/MAX is restricted to INTEGRAL data columns (+ any bucket column,
    * whose min = max = the directory value). Floating-point stats are
    * rejected because parquet-mr's DoubleStatistics compares with < over
    * possibly-NaN values (a NaN-contaminated file yields min/max the engine
    * cannot trust); string/binary stats are rejected because writers may
    * truncate them (the footer value is then a bound, not an attained
    * value). Both restrictions mirror Spark's own parquet aggregate
    * pushdown. */
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions
      .aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    def oneCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
        case _ => None
      }
    // a column added WITH a DEFAULT poisons footer-derived partials: files
    // written before the column existed must read back as the existence
    // default, but their footers (and the all-null fallback for the
    // column-less file) describe NULLs — decline, Spark's row scan fills
    // the default correctly
    def noExistsDefault(c: String): Boolean = GraftDataSource.isBucket(c) ||
      schema.fields.find(_.name == c)
        .forall(!_.metadata.contains("EXISTS_DEFAULT"))
    def minMaxable(c: String): Boolean = GraftDataSource.isBucket(c) ||
      (noExistsDefault(c) &&
        schema.fields.find(_.name == c).exists(_.dataType match {
          case IntegerType | LongType | ShortType | ByteType => true
          case _ => false
        }))
    val gb = agg.groupByExpressions.map(e =>
      oneCol(e).filter(GraftDataSource.isBucket))
    val aggs = agg.aggregateExpressions.map {
      case _: CountStar => Some(PCountStar)
      case c: Count if !c.isDistinct =>
        oneCol(c.column).filter(noExistsDefault).map(PCount)
      case m: Min => oneCol(m.column).filter(minMaxable).map(PMin)
      case m: Max => oneCol(m.column).filter(minMaxable).map(PMax)
      // SUM: integral columns only — the writer's footer sums (SumTracker)
      // are exact longs; a bucket column's sum is its directory value times
      // the row count. Double sums are rejected: the partial would depend
      // on file layout, which a pushed metadata answer must never do.
      case sm: Sum if !sm.isDistinct => oneCol(sm.column).filter(minMaxable).map(PSum)
      case _ => None
    }
    val ok = rowLevelFiles.isEmpty &&
      gb.forall(_.isDefined) && aggs.nonEmpty && aggs.forall(_.isDefined) &&
      // merge-on-read deletion vectors poison footer-derived DATA-column
      // partials (column stats, null counts, and sums all describe deleted
      // rows too), so those decline wholesale when any planned entry is
      // vectored — Spark falls back to the row scan, which applies the
      // vectors. ROW-COUNT-derivable aggregates (COUNT(*) and bucket-column
      // count/min/max/sum — directory constants times live rows) stay
      // pushed: the manifest carries each vector's exact cardinality, so
      // the live count per file is known without touching anything. One
      // manifest read, only paid when the aggregate shape already matched.
      (aggs.forall(_.exists(GraftDataSource.rowCountDerivable)) ||
        !anyDeletionVectors)
    if (ok) { pushedAggs = aggs.map(_.get).toSeq; groupCols = gb.map(_.get) }
    ok
  }

  private def anyDeletionVectors: Boolean = {
    val fs = GraftHadoop.fs(path)
    val root = new Path(path)
    val entries = pin match {
      case Some(tp) => tp.files(fs, root, Array.empty).map(_._3)
      case None => GraftVersions.liveEntries(fs, root).getOrElse(Nil)
    }
    entries.exists(_.dv.isDefined)
  }

  override def build(): Scan =
    if (pushedAggs.nonEmpty)
      new GraftAggScan(path, schema, pushed, pushedAggs, groupCols, pin)
    else new GraftScan(path, required, pushed, limit, topN, residualFilters,
      rowLevelFiles, pin, startingVersion, follow, maxVersionsPerTrigger,
      maxBytesPerTrigger)
}

/** The pushed-aggregate scan: partitions are splits of chunk files, rows
  * are one per file: (group bucket values..., one partial value per pushed
  * aggregate).
  * Batch-only (the streaming path never sees it — aggregate pushdown is a
  * batch-plan rewrite). Group columns come FIRST in the row, matching
  * V2ScanRelationPushDown's positional zip of grouping expressions with the
  * scan's leading output attributes. */
class GraftAggScan(path: String, tableSchema: StructType, pushed: Array[Filter],
    aggs: Seq[PushedAgg], groupCols: Array[String] = Array.empty,
    pin: Option[GraftTimePin] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with GraftNumFilesMetric.Reporting {
  private def colType(c: String): DataType =
    if (GraftDataSource.isBucket(c)) LongType
    else tableSchema.fields.find(_.name == c).map(_.dataType).getOrElse(LongType)

  /** The partial-aggregate rows are keyed by the group columns (leading
    * output columns), and rows of one chunk file agree on all of them — so
    * the scan reports the same key-grouped partitioning the row scan does.
    * With `spark.sql.sources.v2.bucketing.enabled` (true by default in
    * Spark 4.1) this removes the exchange above a bucket-grouped
    * aggregation (Spark's final agg runs in place over the key-grouped
    * footer rows), and a JOIN of two worlds' per-cell summaries plans with
    * zero exchanges end-to-end — both sides of the join are metadata
    * reads. */
  override def outputPartitioning(): org.apache.spark.sql.connector.read
      .partitioning.Partitioning =
    if (groupCols.isEmpty)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    else {
      val n = files.map { case (_, b, _, _, _) => groupCols.toSeq.map(b(_)) }
        .distinct.size
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        groupCols.map(k => org.apache.spark.sql.connector.expressions.Expressions
          .identity(k): org.apache.spark.sql.connector.expressions.Expression),
        math.max(n, 1))
    }

  // one file per entry with its bucket binding, size + manifest row/dv
  // counts: the live-cell resolution (latest manifest when authoritative,
  // pruned walk otherwise), or the version pin's manifest-resolved files
  // (footer metadata reads work identically on retired-in-place files)
  @transient private lazy val files: Seq[(Path, Map[String, Long], Long, Long, Long)] = {
    val fs = GraftHadoop.fs(path)
    pin match {
      case Some(p) => p.files(fs, new Path(path), pushed)
        .map { case (f, b, e) => (f, b, e.size, e.rows, e.dv.map(_._2).getOrElse(0L)) }
      case None =>
        GraftDataSource.liveCells(fs, new Path(path), pushed)
          .flatMap { case (_, b, fls) => fls.map(fr =>
            (fr.path, b, fr.size, fr.rows, fr.dv.map(_._2).getOrElse(0L))) }
    }
  }

  override def readSchema(): StructType =
    StructType(groupCols.map(c => StructField(c, LongType, nullable = false)).toSeq ++
      aggs.map {
        case PCountStar  => StructField("count(*)", LongType, nullable = false)
        case PCount(c)   => StructField(s"count($c)", LongType, nullable = false)
        case PMin(c)     => StructField(s"min($c)", colType(c), nullable = true)
        case PMax(c)     => StructField(s"max($c)", colType(c), nullable = true)
        // sum over any integral width is a LongType partial (matches
        // Spark's Sum(int/long).dataType, which the pushdown validator
        // checks the scan schema against)
        case PSum(c)     => StructField(s"sum($c)", LongType, nullable = true)
      })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftAggScan path=$path" +
      pin.map(p => s", ${p.describe}").getOrElse("") +
      s", PushedBucketFilters: [${pushed.mkString(", ")}], " +
      s"PushedAggregation: [${aggs.map(_.name).mkString(", ")}]" +
      (if (groupCols.isEmpty) "" else s", PushedGroupBy: [${groupCols.mkString(", ")}]")

  /** A grouped scan plans one file per partition (key-grouped, like the
    * row scan); an ungrouped one packs its files into splits
    * ([[GraftSplits]]) — a manifest-answered COUNT(*) then costs a few
    * tasks, not one per file. */
  override def planInputPartitions(): Array[InputPartition] = {
    val specs = files.map { case (f, b, size, rows, dvCount) =>
      (GraftAggFile(f.toString, groupCols.map(b(_)), b, rows, dvCount), size)
    }
    plannedFiles = specs.size
    val splits =
      if (groupCols.nonEmpty) specs.map(Seq(_))
      else GraftSplits.pack(specs)(_._2)
    splits.map(split => GraftAggPartition(split.map(_._1).toArray): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory(aggs, StructType(tableSchema.fields
      .filter(f => !GraftDataSource.isBucket(f.name)).toSeq),
      GraftHadoop.ship(), GraftDataSource.renamesOf(path))
}

/** One chunk file of a pushed-aggregate split. */
final case class GraftAggFile(file: String, groupVals: Array[Long],
    buckets: Map[String, Long],
    // manifest-carried physical row count (−1 = unknown) and deletion-
    // vector cardinality: row-count-derivable aggregates answer from these
    // with no footer open at all
    rows: Long = -1L, dvCount: Long = 0L)

/** The files one pushed-aggregate task answers, one partial row each. A
  * grouped scan plans one file per split, so the key is that file's. */
final case class GraftAggPartition(files: Array[GraftAggFile])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(files.head.groupVals.map(v => v: Any))
}

/** Computes each pushed aggregate's per-file partial from the footer:
  * record counts for COUNT(*), `valueCount - numNulls` for COUNT(col),
  * column-chunk statistics folded across row groups for MIN/MAX. If any
  * needed statistic is absent or unusable in this file's footer (stats-less
  * writer, unset null counts), the reader falls back to scanning JUST the
  * data columns the aggregates need from this one file — other files still
  * answer from metadata. Distinguishes "all values null" (numNulls set and
  * equal to the value count → partial NULL / 0) from "no stats" (fallback). */
class GraftAggReaderFactory(aggs: Seq[PushedAgg], dataSchema: StructType,
    hadoopConf: GraftHadoop.Shipped,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val files = partition.asInstanceOf[GraftAggPartition].files
      private var nextFile = 0
      // the file whose partial row is current
      private var p: GraftAggFile = _
      private var vals: Array[Any] = _

      private def compute(): Array[Any] = {
        // MANIFEST fast path: every requested partial derives from the
        // live row count (manifest rows − deletion-vector cardinality) and
        // the directory constants — ZERO footer I/O. At a 100k-file grid
        // this makes COUNT(*) one manifest read instead of 100k footer
        // probes. A fully-vectored file contributes 0 / NULL partials,
        // matching SQL aggregates over zero rows.
        if (p.rows >= 0L &&
            aggs.forall(GraftDataSource.rowCountDerivable)) {
          val live = p.rows - p.dvCount
          return aggs.map[Any] {
            case PCountStar => live
            case PCount(_)  => live // bucket column: never null
            case PSum(c)    => if (live == 0L) null else p.buckets(c) * live
            case PMin(c)    => if (live == 0L) null else p.buckets(c)
            case PMax(c)    => if (live == 0L) null else p.buckets(c)
          }.toArray
        }
        val pfr = GraftHadoop.openFooter(new Path(p.file), hadoopConf.value)
        // a RENAMED column's stats/sums live under the name this file was
        // written with — resolve once per file (identity when no renames)
        val footerSchema = pfr.getFooter.getFileMetaData.getSchema
        def rn(c: String): String =
          GraftDataSource.resolveInFile(footerSchema, c, aliases).getOrElse(c)
        val (rowCount, blocks, kvSums) =
          try (pfr.getRecordCount, {
            import scala.jdk.CollectionConverters._
            pfr.getFooter.getBlocks.asScala.toSeq
          }, {
            // connector-written files carry exact per-column sums
            // (SumTracker); Spark-parquet-written worlds lack the key and
            // their files fall back to the single-file scan below
            val raw = pfr.getFooter.getFileMetaData.getKeyValueMetaData
              .get(GraftDataSource.SumsMetaKey)
            if (raw == null) Map.empty[String, (Long, Long)]
            else raw.split(";").filter(_.nonEmpty).flatMap { ent =>
              ent.split("=", 2) match {
                case Array(c, sv) => sv.split(",", 2) match {
                  case Array(a, b) =>
                    scala.util.Try((c, (a.toLong, b.toLong))).toOption
                  case _ => None
                }
                case _ => None
              }
            }.toMap
          }) finally pfr.close()
        import scala.jdk.CollectionConverters._
        // per data column: Some(per-block stats) when every block carries a
        // usable Statistics object for it; None → that column needs the scan
        def colStats(c: String): Option[Seq[org.apache.parquet.column.statistics
            .Statistics[_]]] = {
          val perBlock = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == c).map(_.getStatistics))
          if (perBlock.forall(s => s.exists(st => st != null &&
              (st.hasNonNullValue || st.isNumNullsSet)))) Some(perBlock.map(_.get))
          else None
        }
        // legacy (rows-less) entries with a deletion vector reach here for
        // row-count-derivable shapes: the footer count is physical, so the
        // vector's cardinality debits it (0 for vector-free files)
        val liveCount = rowCount - p.dvCount
        def fromFooter(a: PushedAgg): Option[Any] = a match {
          case PCountStar => Some(liveCount)
          case PCount(c) if GraftDataSource.isBucket(c) => Some(liveCount)
          case PCount(c) =>
            if (!dataSchema.fieldNames.contains(c)) Some(0L) // evolved-in column
            else colStats(rn(c)).flatMap { sts =>
              val counts = sts.zip(blocks).map { case (st, b) =>
                if (!st.isNumNullsSet) None
                else {
                  val vc = b.getColumns.asScala
                    .find(_.getPath.toDotString == rn(c)).get.getValueCount
                  Some(vc - st.getNumNulls)
                }
              }
              if (counts.forall(_.isDefined)) Some(counts.map(_.get).sum) else None
            }
          case PMin(c) if GraftDataSource.isBucket(c) =>
            Some(if (liveCount == 0L) null else p.buckets(c))
          case PMax(c) if GraftDataSource.isBucket(c) =>
            Some(if (liveCount == 0L) null else p.buckets(c))
          case PMin(c) => foldStats(c, keepMin = true)
          case PMax(c) => foldStats(c, keepMin = false)
          // bucket value is a directory constant: its sum IS value*rows
          case PSum(c) if GraftDataSource.isBucket(c) =>
            Some(if (liveCount == 0L) null else p.buckets(c) * liveCount)
          case PSum(c) =>
            if (!dataSchema.fieldNames.contains(c)) Some(null) // evolved-in: all null
            else kvSums.get(rn(c)).map { case (sum, n) =>
              if (n == 0L) null else (sum: Any) // SQL SUM of no rows is NULL
            }
        }
        def foldStats(c: String, keepMin: Boolean): Option[Any] = {
          if (!dataSchema.fieldNames.contains(c)) return Some(null) // all-null column
          colStats(rn(c)).flatMap { sts =>
            var acc: Option[Long] = None
            var usable = true
            sts.foreach { st =>
              if (st.hasNonNullValue) {
                val v = (if (keepMin) st.genericGetMin() else st.genericGetMax()) match {
                  case i: java.lang.Integer => i.longValue()
                  case l: java.lang.Long    => l.longValue()
                  case other                => usable = false; 0L
                }
                if (usable) acc = Some(acc.fold(v)(a =>
                  if (keepMin) math.min(a, v) else math.max(a, v)))
              }
              // !hasNonNullValue with numNulls set = all-null block: skip
            }
            if (!usable) None
            else Some(acc.map(narrow(c, _)).orNull)
          }
        }

        val fromMeta = aggs.map(fromFooter)
        if (fromMeta.forall(_.isDefined)) fromMeta.map(_.get).toArray
        else scanFile()
      }

      /** Stats-less fallback: one columnar pass over this file's needed data
        * columns. */
      private def scanFile(): Array[Any] = {
        val needed = aggs.collect {
          case PCount(c) if !GraftDataSource.isBucket(c) => c
          case PMin(c) if !GraftDataSource.isBucket(c)   => c
          case PMax(c) if !GraftDataSource.isBucket(c)   => c
          case PSum(c) if !GraftDataSource.isBucket(c)   => c
        }.distinct.filter(dataSchema.fieldNames.contains).toIndexedSeq
        // MIN/MAX/SUM columns are integral (pushAggregation admits no other);
        // a COUNT-only column needs just its nulls
        val integral = needed.map(c => dataSchema(c).dataType match {
          case LongType | IntegerType | ShortType | ByteType => true
          case _ => false
        })
        val nonNull = new Array[Long](needed.length)
        val mins = Array.fill(needed.length)(Long.MaxValue)
        val maxs = Array.fill(needed.length)(Long.MinValue)
        val sums = new Array[Long](needed.length)
        var rowCount = 0L
        // pre-rename files store a column under an alias; a column the file
        // lacks reads as NULL
        val reader = new GraftColumnarPartitionReader(
          GraftFileSpec(p.file, p.buckets), -1L,
          StructType(needed.map(dataSchema(_))), hadoopConf.value,
          aliases = aliases)
        try while (reader.next()) {
          val batch = reader.get()
          val n = batch.numRows()
          rowCount += n
          var j = 0
          while (j < needed.length) {
            val col = batch.column(j)
            var i = 0
            while (i < n) {
              if (!col.isNullAt(i)) {
                nonNull(j) += 1L
                if (integral(j)) {
                  val v = col.dataType match {
                    case LongType    => col.getLong(i)
                    case IntegerType => col.getInt(i).toLong
                    case ShortType   => col.getShort(i).toLong
                    case _           => col.getByte(i).toLong
                  }
                  mins(j) = math.min(mins(j), v)
                  maxs(j) = math.max(maxs(j), v)
                  sums(j) += v
                }
              }
              i += 1
            }
            j += 1
          }
        } finally reader.close()
        // a statistic of column c; NULL when c holds no value in this file
        def stat(c: String)(f: Int => Any): Any = {
          val j = needed.indexOf(c)
          if (j < 0 || nonNull(j) == 0L) null else f(j)
        }
        aggs.map {
          case PCountStar => rowCount: Any
          case PCount(c) =>
            if (GraftDataSource.isBucket(c)) rowCount
            else { val j = needed.indexOf(c); if (j < 0) 0L else nonNull(j) }
          case PMin(c) =>
            if (GraftDataSource.isBucket(c)) p.buckets(c)
            else stat(c)(j => narrow(c, mins(j)))
          case PMax(c) =>
            if (GraftDataSource.isBucket(c)) p.buckets(c)
            else stat(c)(j => narrow(c, maxs(j)))
          case PSum(c) =>
            if (GraftDataSource.isBucket(c)) p.buckets(c) * rowCount
            else stat(c)(sums(_)) // SUM over no values is NULL
        }.toArray
      }

      private def narrow(c: String, v: Long): Any =
        dataSchema.fields.find(_.name == c).map(_.dataType) match {
          case Some(IntegerType) => v.toInt
          case Some(ShortType)   => v.toShort
          case Some(ByteType)    => v.toByte
          case _                 => v
        }

      override def next(): Boolean =
        if (nextFile >= files.length) false
        else { p = files(nextFile); nextFile += 1; vals = compute(); true }
      override def get(): InternalRow =
        new GenericInternalRow(p.groupVals.map(v => v: Any) ++ vals)
      override def close(): Unit = ()
    }
}

/** One chunk file of a planned split, with its cell's bucket values. */
final case class GraftFileSpec(file: String, buckets: Map[String, Long],
    // merge-on-read deletion vector of this file: absolute sidecar path +
    // deleted-row count (null = no deletes); the reader skips exactly
    // these physical ordinals
    dvPath: String = null, dvCount: Long = 0L,
    // CDC streams only: "insert"/"delete", surfaced as the _change_type
    // per-file constant (null = not a change-feed read)
    changeTag: String = null)

/** One split: the chunk files one task reads, in order, through the
  * columnar reader ([[GraftColumnarPartitionReader]]) — batch, streaming and
  * change-feed scans alike, whatever the projection. `keyVals` are the
  * files' bucket values projected to the scan's reported partitioning keys
  * (canonical c0..cN order) — the `partitionKey` contract
  * that lets Spark group chunk files into key-aligned partitions for
  * storage-partitioned joins. Empty when the scan reports no partitioning
  * (bucket columns pruned from the output); a keyed split holds one file.
  * A pushed `limit` bounds the rows of the whole split. */
final case class GraftInputPartition(files: Array[GraftFileSpec],
    limit: Int = -1, keyVals: Array[Long] = Array.empty)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(keyVals.map(v => v: Any))
}

/** Packs chunk files into splits the way Spark's own file scan does
  * (`FilePartition.maxSplitBytes` / `getFilePartitions`): a split holds up
  * to `min(maxPartitionBytes, max(openCostInBytes, Σ(size + openCost) /
  * minPartitionNum))` bytes, each file costing its size plus the open
  * cost; files are taken largest first and a split closes when the next
  * file would overflow it. The inputs are the session's
  * `spark.sql.files.maxPartitionBytes`, `spark.sql.files.openCostInBytes`
  * and `spark.sql.files.minPartitionNum` (default: the leaf-node default
  * parallelism). Chunk files are never cut. Inside a split, files keep
  * their input order. */
object GraftSplits {
  def pack[T](items: Seq[T])(size: T => Long): Seq[Seq[T]] = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val minPartitions = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(org.apache.spark.sql.internal.SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism))
    // a pre-size-format manifest entry (size −1) costs the open cost alone
    def len(t: T): Long = math.max(size(t), 0L)
    val total = items.map(len(_) + openCost).sum
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, total / minPartitions))
    val splits = Seq.newBuilder[Seq[(T, Int)]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[(T, Int)]
    var curSize = 0L
    items.zipWithIndex.sortBy { case (t, _) => -len(t) }.foreach { case (t, i) =>
      if (cur.nonEmpty && curSize + len(t) > maxSplit) {
        splits += cur.toSeq; cur.clear(); curSize = 0L
      }
      cur += ((t, i)); curSize += len(t) + openCost
    }
    if (cur.nonEmpty) splits += cur.toSeq
    splits.result().map(_.sortBy(_._2).map(_._1))
  }
}

class GraftScan(path: String, required: StructType, pushed: Array[Filter],
    limit: Int = -1, topN: Array[(String, Boolean)] = Array.empty,
    residual: Array[Filter] = Array.empty,
    fileRecorder: Option[java.util.Set[String]] = None,
    pin: Option[GraftTimePin] = None,
    startingVersion: Option[String] = None,
    follow: Boolean = false,
    maxVersionsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with GraftNumFilesMetric.Reporting {
  override def readSchema(): StructType = required
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED
  override def toBatch: Batch = {
    if (follow) throw new UnsupportedOperationException(
      "graft.follow is a streaming option; the batch change feed is " +
        "option(\"graft.changes\", \"base,target\") / GraftChanges.between")
    this
  }

  // pinned plan: manifest-resolved (file, buckets) pairs surviving the
  // pushed bucket filters — the version-log substitute for the live walk
  @transient private lazy val pinnedWalk: Seq[(Path, Map[String, Long], GraftVersions.ManifestEntry)] = {
    val fs = GraftHadoop.fs(path)
    pin.get.files(fs, new Path(path), pushed)
  }

  // join-derived runtime filters (the dynamic-partition-pruning analog for
  // the chunk grid): Spark's PartitionPruning rule plants an IN-subquery of
  // the build side's join keys on any column listed here, and delivers the
  // materialized values through filter() at execution — BEFORE
  // planInputPartitions enumerates chunk files, so a selective dimension
  // join reads only the chunks its keys land in, exactly like a static
  // bucket predicate. Bucket-only shapes are accepted; anything else is
  // ignored (runtime filters are an optimization, never a correctness gate).
  private var runtime: Array[Filter] = Array.empty
  // join-delivered atoms on BLOOM-REGISTERED data columns: the build side's
  // materialized keys feed the same file-level bloom/dictionary/min-max
  // skip as a static point predicate — at 100 TB a selective dimension
  // join over a non-dim key (e.g. doc_id) skips the files that provably
  // hold none of the keys, without any bucket alignment. Capped per atom:
  // probing a bloom per (file x key) is only worth it for selective builds.
  private var runtimeBloom: Seq[GraftBloom.ColAtom] = Nil
  private val RuntimeKeyCap = 1024

  @transient private lazy val skipCols: Set[String] = {
    val fs = GraftHadoop.fs(path)
    GraftBloom.columns(fs, new Path(path)).toSet
  }

  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    if (pin.isDefined) Array.empty // frozen file list: nothing to narrow
    else if (fileRecorder.isDefined) {
      // Row-level rewrite scan. Spark's RowLevelOperationRuntimeGroupFiltering
      // builds ONE IN-subquery over ALL advertised attributes jointly, and a
      // multi-attribute subquery surfaces as `named_struct(...) IN subquery`,
      // which no source-filter translation supports — the planner logs
      // "Can't translate ... unsupported expression" and delivers NOTHING,
      // silently turning a one-cell MERGE into a full-grid rewrite.
      // Advertise exactly ONE attribute so the runtime filter stays a
      // translatable single-column In: the first bucket column (directory-
      // grain pruning, zero footer reads — the scalable default), falling
      // back to a bloom-registered data column for projections without one.
      // Ordinary scans are unaffected: join DPP plants one subquery PER key.
      (required.fields.map(_.name).find(GraftDataSource.isBucket)
          orElse required.fields.map(_.name)
            .filterNot(GraftDataSource.isBucket).find(skipCols))
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
        .toArray
    } else (required.fields.filter(f => GraftDataSource.isBucket(f.name)).map(_.name)
        ++ required.fields.map(_.name)
          .filterNot(GraftDataSource.isBucket).filter(skipCols))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    runtime = filters.filter(GraftDataSource.bucketOnly)
    runtimeBloom = GraftBloom.skipAtoms(
        filters.filterNot(GraftDataSource.bucketOnly), skipCols)
      .collect {
        case a @ GraftBloom.EqAtom(_, vs) if vs.length <= RuntimeKeyCap => a
        case a: GraftBloom.RangeAtom => a
        case a: GraftBloom.StrRangeAtom => a
      }
    cachedCells = null // pruning changed: re-list on next planning call
  }

  // The live-cell resolution — latest manifest when the commit log is
  // authoritative, pruned grid walk otherwise (GraftDataSource.liveCells) —
  // backs both partition planning and the partitioning report; cache it so
  // reporting KeyGroupedPartitioning doesn't double the listing (on a big
  // grid the listing IS the planning cost; in manifest mode it is one
  // small-file read).
  @transient private var cachedCells:
    Seq[(Path, Map[String, Long], Seq[GraftDataSource.FileRef])] = null
  private def liveCellList()
      : Seq[(Path, Map[String, Long], Seq[GraftDataSource.FileRef])] = {
    if (cachedCells == null) {
      val fs = GraftHadoop.fs(path)
      cachedCells = GraftDataSource.liveCells(fs, new Path(path), pushed ++ runtime)
    }
    cachedCells
  }

  /** Bucket columns surviving column pruning, canonical c0..cN order — the
    * partitioning keys this scan can promise. Any subset of the grid dims is
    * sound: rows of one chunk file share ALL bucket values, so they agree on
    * any projection of them; Spark groups files whose projected key ties. */
  private def keyCols: Array[String] =
    required.fields.map(_.name).filter(GraftDataSource.isBucket)
      .sortBy(_.drop(1).toInt)

  /** Storage-partitioned-join contract: rows are clustered by chunk, so the
    * scan reports `KeyGroupedPartitioning` over its surviving bucket columns.
    * Under `spark.sql.sources.v2.bucketing.enabled`, two worlds sharing a
    * grid join on bucket columns with NO exchange on either side — the Spark
    * restatement of the reference's aligned chunk iteration (two `Select`s
    * over the same grid visit cells in lockstep, /root/reference/src/world/
    * iter.rs). At 100 TB this is the difference between a full-table shuffle
    * of both sides and a join that never leaves the chunk files. Spark acts
    * on it whenever `spark.sql.sources.v2.bucketing.enabled` holds, which
    * is the default in Spark 4.1; that is why a keyed scan plans one file
    * per partition and leaves the grouping to Spark. */
  override def outputPartitioning(): org.apache.spark.sql.connector.read
      .partitioning.Partitioning = {
    val keys = keyCols
    if (keys.isEmpty)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    else {
      val cells =
        if (pin.isDefined) pinnedWalk.map { case (_, b, _) => b }
        else liveCellList().map { case (_, b, _) => b }
      val n = cells.map(b => keys.toSeq.map(b(_))).distinct.size
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        keys.map(k => org.apache.spark.sql.connector.expressions.Expressions
          .identity(k): org.apache.spark.sql.connector.expressions.Expression),
        math.max(n, 1))
    }
  }

  /** Post-prune size report: the byte sum of the chunk files the pushed
    * bucket filters leave alive — the same file-length estimate vanilla
    * FileScan reports. Without it a V2 relation sizes as
    * `defaultSizeInBytes` (effectively infinite) and a kilobyte dimension
    * world can never win auto-broadcast; with it, `world JOIN fact` plans a
    * BroadcastHashJoin with no hint, and a bucket-pruned scan reports only
    * its surviving chunks (so selective reads broadcast even when the full
    * world would not). Metadata-only: one directory walk, no footers read,
    * `numRows` left unreported exactly like vanilla parquet. */
  override def estimateStatistics(): Statistics = {
    import scala.collection.parallel.CollectionConverters._
    val fs = GraftHadoop.fs(path)
    val bytes =
      if (pin.isDefined)
        pinnedWalk.map { case (f, _, e) =>
          if (e.size >= 0L) e.size else fs.getFileStatus(f).getLen }.sum
      else liveCellList().par.map { case (dir, _, files) =>
        // sizes ride the live resolution (manifest-carried, or the walk's
        // own statuses) — zero extra round trips. A pre-size-format
        // manifest line (size −1) falls back to one listing for its cell,
        // filtered to live names so retired-in-place bytes never inflate
        // the broadcast decision.
        if (files.forall(_.size >= 0L)) files.map(_.size).sum
        else {
          val live = files.map(_.path.getName).toSet
          if (!fs.exists(dir)) 0L
          else fs.listStatus(dir).filter(st => st.isFile &&
            live.contains(st.getPath.getName)).map(_.getLen).sum
        }
      }.sum
    // EXACT live row count when every planned entry carries a manifest
    // row count (dv cardinality debited): reported only when complete —
    // a partial sum would mislead the planner worse than no estimate
    val rowCounts: Seq[Long] =
      if (pin.isDefined)
        pinnedWalk.map { case (_, _, e) =>
          if (e.rows < 0L) -1L else e.rows - e.dv.map(_._2).getOrElse(0L) }
      else liveCellList().flatMap(_._3).map(_.liveRows)
    // one ANALYZE-sidecar read shared by the row-count fallback and the
    // column-stats report; pinned scans read a state it never described
    val sidecarStats =
      if (pin.isDefined) None else GraftColStats.readSafe(path)
    val rows =
      if (rowCounts.nonEmpty && rowCounts.forall(_ >= 0L))
        java.util.OptionalLong.of(rowCounts.sum)
      else if (pin.isEmpty && pushed.isEmpty && runtime.isEmpty)
        // manifest counts incomplete (pre-count manifests, unversioned
        // world) and the scan is UNPRUNED: an ANALYZE-time row count is a
        // stale-but-sane CBO base estimate — the same advisory contract
        // as the column stats. A pruned scan must not report the whole
        // table's rows, so it stays unreported like vanilla parquet.
        sidecarStats match {
          case Some(ts) => java.util.OptionalLong.of(ts.rows)
          case None => java.util.OptionalLong.empty()
        }
      else java.util.OptionalLong.empty()
    // ANALYZE-computed column stats (NDV/nulls/bounds/lengths) ride the
    // same report when a `_graft_colstats` sidecar exists: Spark folds
    // them into per-attribute catalyst stats, so under spark.sql.cbo the
    // world joins/filters get real selectivity estimates. Live scans
    // only — a version pin reads a state the sidecar never described.
    val colStats = GraftColStats.columnStatsFor(sidecarStats, required)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pin.isEmpty,
      "graft: a version pin is a frozen commit — streaming reads take the live table")
    new GraftMicroBatchStream(path, required, pushed, startingVersion, follow,
      maxVersionsPerTrigger, maxBytesPerTrigger)
  }
  override def description(): String =
    s"GraftScan path=$path" +
      pin.map(p => s", ${p.describe}").getOrElse("") +
      s", PushedBucketFilters: [${pushed.mkString(", ")}]" +
      (if (limit < 0) "" else s", PushedLimit: $limit") +
      (if (topN.isEmpty) "" else s", PushedTopN: [${topN.map { case (c, asc) =>
        s"$c ${if (asc) "ASC" else "DESC"}" }.mkString(", ")}]") +
      (if (residual.isEmpty) ""
       else s", RowGroupFilters: [${residual.mkString(", ")}]") +
      (if (runtime.isEmpty) "" else s", RuntimeBucketFilters: [${runtime.mkString(", ")}]") +
      (if (runtimeBloom.isEmpty) ""
       else s", RuntimeBloomSkipCols: [${runtimeBloom.flatMap(_.cols).distinct.mkString(", ")}]") +
      (if (bloomAtoms.isEmpty) ""
       else s", BloomSkipCols: [${bloomAtoms.flatMap(_.cols).distinct.mkString(", ")}]") +
      (if (zoneAtoms.isEmpty) ""
       else s", ZoneSkipCols: [${zoneAtoms.flatMap(_.cols).distinct.mkString(", ")}]")

  /** Residual equality/range atoms testable against the table's registered
    * skip columns (the `_graft_bloom` sidecar) — non-empty exactly when
    * this scan is a point lookup or registered-column range scan that
    * file-level skipping can serve. Disjunctions are left to the zone
    * maps: the footer tier could only answer "maybe" for them. */
  @transient private lazy val bloomAtoms: Seq[GraftBloom.ColAtom] = {
    val fs = GraftHadoop.fs(path)
    val cols = GraftBloom.columns(fs, new Path(path)).toSet
    if (cols.isEmpty) Nil
    else GraftBloom.skipAtoms(residual, cols).collect { case a: GraftBloom.ColAtom => a }
  }

  /** Residual atoms testable against MANIFEST-carried zone maps — built
    * over EVERY residual column (not just bloom-registered ones), because
    * the zone-map test is zero-I/O: bounds either rode the one manifest
    * read or the file is kept. Registration still gates the footer walk
    * ([[bloomAtoms]]) — its per-file cost stays opt-in. */
  @transient private lazy val zoneAtoms: Seq[GraftBloom.SkipAtom] =
    GraftBloom.skipAtoms(residual, residual.flatMap(_.references).toSet)

  @transient private lazy val renameAliases: Map[String, Seq[String]] =
    GraftDataSource.renamesOf(path)

  /** File-level skip, two tiers: (1) ZONE MAPS — drop files whose
    * manifest-carried min/max bounds refute a pushed range/equality atom,
    * zero I/O ([[GraftStats]]); (2) BLOOMS — parallel footer reads over
    * the zone survivors proving equality atoms absent (same cost class as
    * the pushed-top-N footer walk). A no-atom scan pays nothing. Both
    * refutations are proofs, so recording only the survivors for row-level
    * rewrites stays sound. See [[GraftBloom]]. */
  private def bloomSurvivors(
      files: Seq[(GraftDataSource.FileRef, Map[String, Long])])
      : Seq[(GraftDataSource.FileRef, Map[String, Long])] = {
    // dv'd files still prune by zone maps and blooms: both are computed
    // over the full file (deleted rows included), so refutation remains a
    // PROOF that no live row matches — only ever conservative
    val zAtoms = zoneAtoms ++ runtimeBloom
    val zoned =
      if (zAtoms.isEmpty) files
      else files.filter { case (fr, _) =>
        GraftStats.boundsMightMatch(fr.stats, fr.sstats, zAtoms, renameAliases)
      }
    val atoms = bloomAtoms ++ runtimeBloom
    if (atoms.isEmpty) zoned
    else {
      import scala.collection.parallel.CollectionConverters._
      val conf = GraftHadoop.conf
      zoned.par.filter { case (fr, _) =>
        GraftBloom.fileMightMatch(conf, fr.path.toString, atoms)
      }.seq
    }
  }

  /** Chunk files the pushed bucket filters and the top-N walk leave for
    * file-level skipping, each with its cell's bucket values. Pinned scans
    * take the version manifest's files (limit/top-N pushdowns and runtime
    * filters are declined in pinned mode). */
  private def candidates(): Seq[(GraftDataSource.FileRef, Map[String, Long])] =
    if (pin.isDefined) pinnedWalk.map { case (f, b, e) =>
      (GraftDataSource.FileRef(f, e.size, e.stats,
        GraftDv.absOf(f.toString, e).map((_, e.dv.get._2)), e.sstats, e.rows), b)
    }
    else {
      val cells =
        if (topN.isEmpty || limit < 0) liveCellList()
        else {
          // pushed top-N: visit chunk cells in sort-key order, stop once the
          // kept cells' footer row counts cover the limit — at most
          // ceil(limit / rows-per-chunk) + 1 cells survive, and only their
          // footers are ever opened (metadata reads bounded by the kept
          // prefix, not the grid)
          val ord = new Ordering[Map[String, Long]] {
            def compare(a: Map[String, Long], b: Map[String, Long]): Int = {
              var i = 0
              while (i < topN.length) {
                val (c, asc) = topN(i)
                val cmp = java.lang.Long.compare(a(c), b(c))
                if (cmp != 0) return if (asc) cmp else -cmp
                i += 1
              }
              0
            }
          }
          val sorted = liveCellList().sortBy(_._2)(ord)
          var cum = 0L
          sorted.takeWhile { case (_, _, files) =>
            val keep = cum < limit
            // LIVE row cover: manifest-carried counts (minus the deletion
            // vector's cardinality) answer with ZERO footer opens; only
            // pre-rows-format entries fall back to one footer read each.
            // Footer counts include dv-deleted rows, so the vector is
            // subtracted either way — over-counting would stop the kept
            // prefix before it actually covers the limit.
            if (keep) cum += files.map { fr =>
              if (fr.liveRows >= 0L) fr.liveRows
              else {
                val pfr = GraftHadoop.openFooter(fr.path, GraftHadoop.conf)
                (try pfr.getRecordCount finally pfr.close()) -
                  fr.dv.map(_._2).getOrElse(0L)
              }
            }.sum
            keep
          }
        }
      cells.flatMap { case (_, b, files) => files.map((_, b)) }
    }

  /** One partition per split of surviving chunk files. A key-grouped scan
    * plans one file per partition and Spark groups them by key; any other
    * scan packs its files into parallelism-sized splits ([[GraftSplits]]).
    * (A pushed top-N always projects its bucket sort columns, so it is
    * key-grouped and its per-file limit stays per file.) */
  override def planInputPartitions(): Array[InputPartition] = {
    val keys = keyCols
    val survivors = bloomSurvivors(candidates())
    // row-level rewrites note every SURVIVING planned file (post bucket +
    // runtime pruning AND post bloom skip — exactly the rows the rewrite
    // will re-emit; the commit retires these rels from the manifest).
    // Recording pre-bloom files would be silent data loss: a runtime
    // join-delivered atom on a bloom-registered column (e.g. MERGE ON a
    // registered doc_id) drops refuted files from the scan, so their rows
    // are never re-emitted — retiring them would delete them. Dropping
    // them from the recorder is sound the other way: bloom refutation is
    // a PROOF the file holds no matching rows, so the rewrite has no
    // business touching it and it stays live. CLEAR-then-record:
    // BatchScanExec plans once before runtime filters arrive and again
    // after — the recorder must reflect only THIS scan's latest plan
    // (each scan instance owns its set; the operation unions sets at
    // commit). A BRANCH pin can back a row-level rewrite (WAP DML): its
    // recorder notes the planned branch-head survivors by full path.
    fileRecorder.foreach { r =>
      r.clear()
      survivors.foreach { case (fr, _) =>
        r.add(if (pin.isDefined) fr.path.toString else fr.path.toUri.getPath) }
    }
    plannedFiles = survivors.size
    val splits =
      if (keys.nonEmpty) survivors.map(Seq(_))
      else GraftSplits.pack(survivors)(_._1.size)
    splits.map { split =>
      GraftInputPartition(split.map { case (fr, b) =>
          GraftFileSpec(fr.path.toString, b,
            dvPath = fr.dv.map(_._1).orNull,
            dvCount = fr.dv.map(_._2).getOrElse(0L))
        }.toArray, limit,
        // getOrElse: a pre-regrid file lacks buckets a later geometry
        // added; -1 groups those files consistently (join conditions are
        // still row-checked — grouping is only co-location)
        keys.map(k => split.head._2.getOrElse(k, -1L))): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, GraftHadoop.ship(), residual, renameAliases)
}

/** Reads every split of a graft scan columnar; the scan declares it
  * (`columnarSupportMode`), so Spark never asks for a row reader. */
class GraftReaderFactory(required: StructType,
    hadoopConf: GraftHadoop.Shipped,
    residual: Array[Filter] = Array.empty,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft source: scans read columnar")

  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new GraftSplitReader[org.apache.spark.sql.vectorized.ColumnarBatch](p,
      (f, limit) => new GraftColumnarPartitionReader(f, limit, required,
        hadoopConf.value, residual, aliases))
  }
}

/** A reader of one chunk file that counts the rows it served. */
private[sources] trait GraftFileReader[T] extends PartitionReader[T] {
  def emittedRows: Long
}

/** Reads a split's chunk files in order, with one file open at a time. A
  * pushed limit bounds the whole split: each file reader gets what is left
  * of it, and no file is opened once it is met (partial pushdown — Spark's
  * own Limit enforces the global bound over the per-split prefixes). */
private[sources] final class GraftSplitReader[T](p: GraftInputPartition,
    open: (GraftFileSpec, Long) => GraftFileReader[T])
    extends PartitionReader[T] {
  private var nextFile = 0
  private var cur: GraftFileReader[T] = _
  // rows served by the files already closed
  private var served = 0L

  override def next(): Boolean = {
    while (p.limit < 0 || served < p.limit) {
      if (cur == null) {
        if (nextFile >= p.files.length) return false
        cur = open(p.files(nextFile), if (p.limit < 0) -1L else p.limit - served)
        nextFile += 1
      }
      if (cur.next()) return true
      served += cur.emittedRows
      cur.close()
      cur = null
    }
    false
  }

  override def get(): T = cur.get()

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** `numFiles`: the chunk files a scan planned, reported from the driver. */
class GraftNumFilesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = GraftNumFilesMetric.Name
  override def description(): String = "number of chunk files planned"
}

object GraftNumFilesMetric {
  val Name = "numFiles"

  /** A scan that reports the chunk files of its latest plan (a planned
    * partition may hold several) as the `numFiles` driver metric. */
  trait Reporting extends Scan {
    @volatile protected var plannedFiles = 0L

    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      Array(new GraftNumFilesMetric)
    override def reportDriverMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
      val n = plannedFiles
      Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = Name
        override def value(): Long = n
      })
    }
  }
}
