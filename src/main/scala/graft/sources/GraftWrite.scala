package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** Write side of the graft DataSource V2 connector — the
  * `FsHandle::write_chunk` analog (/root/reference/tokio-fs/src/lib.rs:
  * 109-128) through the same pluggable-source interface the read path uses:
  * each incoming row is routed to its chunk directory (`c0=<v>/c1=<v>/…`)
  * by its bucket columns, one parquet file per (task, chunk) via the
  * parquet-hadoop Group API. `abort()` deletes the task's files; like
  * Spark's own file sink, a crash between task commits can leave partial
  * files (a table format with an atomic commit log is the production
  * answer — out of scope for the chunk-grid layout the reference defines).
  */
class GraftWriteBuilder(path: String, info: LogicalWriteInfo,
    viaCatalog: Boolean = false,
    // WAP default: a branch-pinned catalog table (graft.wap.branch) routes
    // every batch write through its branch without a per-write option
    branchDefault: Option[String] = None) extends WriteBuilder
    with SupportsOverwrite with SupportsDynamicOverwrite {
  private var overwriteBy: Option[Array[org.apache.spark.sql.sources.Filter]] = None
  private var dynamicOverwrite = false

  /** Overwrite-by-filter (`.mode("overwrite")` = AlwaysTrue = truncate;
    * `overwrite(condition)` via the v2 writer = bucket-scoped): accepted
    * only for bucket-only conditions, which map EXACTLY to chunk
    * directories — a row-level overwrite condition cannot be honored by a
    * grid whose replace unit is the chunk. */
  override def canOverwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean =
    filters.forall(f =>
      f.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue] ||
        GraftDataSource.bucketOnly(f))

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    require(canOverwrite(filters),
      s"graft overwrite condition must be bucket-only, got ${filters.mkString(", ")}")
    overwriteBy = Some(filters); this
  }

  /** Dynamic-partition overwrite: replace exactly the chunks this write
    * produces rows for — the reference's `write_chunk` whole-chunk replace
    * semantics (/root/reference/tokio-fs/src/lib.rs:109-128). */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicOverwrite = true; this
  }

  // cluster by the bucket columns and sort by (buckets, remaining
  // columns): Spark shuffles + sorts BEFORE the writer, so each chunk is
  // written by exactly one task (one file per chunk, not tasks x chunks
  // small files) and the per-task writer map holds ONE open parquet
  // writer at a time instead of every chunk the task touches — the same
  // clustering World.create does, declared through the DSv2 contract
  // (shared via GraftWriteLayout). The trailing dim sort (when the
  // world's dims are registered) tightens intra-file row-group stats for
  // pushed hint filters; an unregistered path still gets the clustering
  // and file-count wins.
  override def build(): Write = {
    // option("graft.bloom.columns", "a,b"): register bloom columns as a
    // TABLE property before any factory resolves them — this write and all
    // later ones (any path) bloom the same columns. See GraftBloom.
    Option(info.options().get(GraftBloom.OptionKey)).foreach { o =>
      GraftBloom.register(
        GraftHadoop.fs(path),
        new Path(path),
        o.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    }
    // option("graft.branch", b) — or the WAP default from a branch-pinned
    // catalog table — seals BRANCH commits, invisible to main readers
    // until system.fast_forward publishes (write-audit-publish staging).
    // Appends and overwrites stage on a branch (r11: overwrites retire
    // their victims from the branch chain only); upserts stage too (r13):
    // World.insertOn resolves conflicts against the BRANCH HEAD (fork
    // state + prior staged commits, vectors applied) and seals on the
    // branch chain, so staged and published victims never mix.
    val branch = Option(info.options().get("graft.branch")).orElse(branchDefault)
    // option("graft.replaceCells", "c0=1/c1=2;c0=3/c1=4"): replace EXACTLY
    // the named chunk cells with this write's rows — the World-rewrite
    // primitive (insert/destroy/update/applyDelta all reduce to "these
    // cells' new content is exactly these rows", where an emptied cell
    // appears in the list with no incoming rows). Routed as a static
    // bucket-scoped overwrite, so the rewrite rides the connector's
    // versioned, CAS-sealed, in-place commit instead of the legacy
    // barrier + double-write swap.
    val replaceCells: Option[Array[org.apache.spark.sql.sources.Filter]] =
      Option(info.options().get("graft.replaceCells")).map { enc =>
        import org.apache.spark.sql.sources.{And, EqualTo, Filter, Or}
        val cells = enc.split(';').filter(_.nonEmpty).map { cell =>
          cell.split('/').map { kv =>
            val Array(c, v) = kv.split("=", 2)
            EqualTo(c, v.toLong): Filter
          }.reduce(And(_, _): Filter)
        }
        require(cells.nonEmpty, "graft.replaceCells: empty cell list")
        Array(cells.reduce(Or(_, _): Filter))
      }
    val batch: BatchWrite =
      if (replaceCells.isDefined)
        new GraftOverwriteWrite(path, info.schema(), replaceCells,
          branch = branch)
      else if (dynamicOverwrite)
        new GraftOverwriteWrite(path, info.schema(), None, branch = branch)
      else if (overwriteBy.isDefined)
        new GraftOverwriteWrite(path, info.schema(), Some(overwriteBy.get),
          branch = branch)
      else if ("upsert".equalsIgnoreCase(info.options().get("graft.mode")))
        new GraftUpsertWrite(path, info.schema(), branch)
      else new GraftBatchWrite(path, info.schema(), branch)
    new Write with RequiresDistributionAndOrdering {
      private val layout = GraftWriteLayout
        .withLayout(path, info.schema(), batch, viaCatalog)
        .asInstanceOf[RequiresDistributionAndOrdering]
      override def toBatch: BatchWrite = batch

      // native `writeStream.format("graft")` — the reference daemon's
      // write-behind (§2.5) as a first-class DSv2 streaming sink. Append
      // output mode appends per-epoch; Complete mode (builder.truncate())
      // replaces the world each epoch; graft.mode=upsert runs World::insert
      // semantics per epoch.
      override def toStreaming:
          org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        val mode =
          if (overwriteBy.exists(_.forall(
              _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])))
            GraftStreamingWrite.Truncate
          else if ("upsert".equalsIgnoreCase(info.options().get("graft.mode")))
            GraftStreamingWrite.Upsert
          else GraftStreamingWrite.Append
        // streaming onto a WAP BRANCH: per-epoch commits append to the
        // branch's own manifest chain, invisible to main until
        // system.fast_forward publishes the drained epochs — continuous
        // ingestion gets the same audit story as batch staging. Upsert
        // epochs stage too (r13): each epoch's World::insert resolves its
        // conflicts against the BRANCH HEAD (fork state + prior staged
        // epochs, World.insertOn) and seals on the branch chain, so a
        // continuous replace-on-conflict feed can be audited before
        // publish. The per-epoch maintenance knobs stay main-log policies
        // that do not apply while staging (retention/compaction run when
        // the branch publishes).
        branch.foreach { b =>
          require(Option(info.options().get("graft.compact.maxFiles")).isEmpty,
            s"graft: graft.compact.maxFiles compacts MAIN's live cells and " +
              s"cannot run while staging on branch '$b' — compact after " +
              "fast_forward")
          require(GraftStage.manifestAuthoritative(path),
            s"graft: streaming onto branch '$b' needs an authoritative " +
              "commit log (versioned, barrier-free)")
        }
        // option("graft.versions.keep", n): retention per epoch. A stream
        // seals a version per epoch FOREVER, so unlike the discrete batch
        // DML commits this path defaults to a bounded log (64 epochs of
        // time travel — Complete-mode streams would otherwise retire a
        // full table copy per epoch until the disk fills); n <= 0 opts
        // into an unbounded log for streams that archive deliberately.
        // Branch streams skip it: expire prunes MAIN manifests, and the
        // branch chain is bounded by its publish/drop lifecycle.
        val keep = Option(info.options().get("graft.versions.keep"))
          .map(_.toInt).getOrElse(GraftStreamingWrite.DefaultVersionsKeep)
        // option("graft.compact.maxFiles", n): per-epoch AUTO-COMPACTION
        // (Append mode) — see GraftStreamingWrite.compactTouchedCells
        new GraftStreamingWrite(path, info.schema(), mode,
          if (keep <= 0 || branch.isDefined) None else Some(keep),
          Option(info.options().get("graft.compact.maxFiles")).map(_.toInt),
          branch)
      }

      override def requiredDistribution():
          org.apache.spark.sql.connector.distributions.Distribution =
        layout.requiredDistribution()

      override def requiredOrdering():
          Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        layout.requiredOrdering()
    }
  }
}

/** `option("graft.mode", "upsert")`: replace-on-conflict by dim 0 through the
  * connector — the `World::insert` semantics
  * (/root/reference/src/world.rs:124-150) the plain append write lacks.
  *
  * On an authoritative log (r14), tasks route rows STRAIGHT INTO their
  * final cell directories (invisible until a manifest references them) and
  * commit() retires the displaced ids by address into deletion vectors,
  * sealing vectors + the tasks' own files in one versioned commit
  * ([[graft.world.World.insertPrewritten]]) — the batch's bytes are
  * written exactly once. Virgin paths and barrier windows stage into a
  * SIBLING grid instead and commit through the classic
  * [[graft.world.World.insert]] (validate + rebucket + partition-scoped
  * rewrite), whose physical-tree readers demand it. A failure before
  * commit leaves the world untouched (unmanifested in-place files are
  * deleted on abort; the staging grid is removed on both commit and
  * abort). The displaced-row count is logged and surfaced on
  * [[GraftUpsertWrite.lastDisplaced]].
  */
class GraftUpsertWrite(path: String, schema: StructType,
    branch: Option[String] = None) extends BatchWrite {
  // per-write unique stage: two concurrent upserts into one table must not
  // interleave staging grids (the first commit's finally-delete would
  // silently drop the second's rows)
  private[graft] val stagePath = GraftStage.uniqueStage(path, "upsert")

  // r14: authoritative-log upserts write IN PLACE (tasks route rows
  // straight into their final cells, invisible until the seal) and the
  // commit retires displaced ids by address + seals the tasks' own files
  // (World.insertPrewritten) — the epoch's bytes are written ONCE, where
  // the staged design wrote them into the stage and then again through
  // the insert's rewrite. Virgin paths and barrier windows keep the stage
  // (their readers walk the physical tree). Decided once, driver-side, at
  // write planning — same discipline as the streaming factory.
  private val inPlace: Boolean = GraftStage.manifestAuthoritative(path)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(if (inPlace) path else stagePath, schema,
      GraftBloom.columnsOf(path),
      GraftChecks.boundFor(org.apache.spark.sql.SparkSession.active, path, schema),
      bucketSourcePath = path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftHadoop.fs(path)
    try {
      val spark = org.apache.spark.sql.SparkSession.active
      val dims = graft.plans.DimPruningRegistry.lookup(path).getOrElse(
        throw new IllegalStateException(
          s"graft upsert needs the world's dim mappings: no world registered for $path " +
            "(instantiate graft.world.World for this path first)"))
      // World.insert/insertPrewritten seal their own versioned commit, so
      // THIS commit needs no seal of its own — the insert's is the upsert's.
      val staged = messages.collect { case m: GraftCommitMessage => m.rows }.sum
      val w = new graft.world.World(spark, path, dims)
      val displaced =
        if (inPlace) {
          val added = GraftStage.messageEntries(new Path(path), messages)
          if (added.isEmpty) 0L
          else {
            // ids from a column-pruned read of exactly the tasks' files
            val files = messages.collect {
              case m: GraftCommitMessage => m.files }.flatten
            val ids = spark.read.option("basePath", path)
              .parquet(files.toSeq: _*)
              .select(dims.head.column)
            w.insertPrewritten(ids, added, branch)
          }
        } else {
          val stagedFiles = GraftStage
            .stagedCells(fs, new Path(stagePath), messages)
            .flatMap(_._3).map(_.getPath)
          if (stagedFiles.isEmpty) 0L
          else {
            val bucketCols = dims.indices.map(i => s"c$i")
            // read exactly the committed files (never whole-dir: a crashed
            // task attempt whose abort never ran may have left debris)
            val stagedDf = spark.read.parquet(stagedFiles.map(_.toString): _*)
              .drop(bucketCols: _*)
            w.insertOn(stagedDf, branch)
          }
        }
      GraftUpsertWrite.summaryByPath.put(path,
        GraftUpsertWrite.UpsertSummary(staged, displaced))
      org.slf4j.LoggerFactory.getLogger(getClass)
        .info(s"graft upsert into $path: $staged row(s) " +
          s"${if (inPlace) "written in place" else "staged"}, $displaced displaced")
      GraftDataSource.writeSidecarIfAbsent(path, schema)
    } finally fs.delete(new Path(stagePath), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftHadoop.fs(path)
    fs.delete(new Path(stagePath), true)
    if (inPlace) messages.foreach {
      // in-place task output of the failed write: unmanifested
      // (invisible), deleted eagerly rather than left to the orphan sweep
      case m: GraftCommitMessage =>
        m.files.foreach(f => fs.delete(new Path(f), false))
      case _ =>
    }
  }
}

object GraftUpsertWrite {
  /** Outcome of a connector upsert: rows staged by the tasks (aggregated
    * from their [[GraftCommitMessage]]s) and rows the insert displaced. */
  final case class UpsertSummary(stagedRows: Long, displacedRows: Long)

  /** Summary of the most recent connector upsert into each target path (the
    * DSv2 BatchWrite API has no caller-facing return channel, so commit()
    * parks it here). Keyed by path so concurrent upserts into DIFFERENT
    * worlds don't race on one global cell; same-path concurrency is already
    * excluded by the world's single-writer contract. */
  val summaryByPath =
    new java.util.concurrent.ConcurrentHashMap[String, UpsertSummary]()

  /** Summary of the last upsert into `path`, if one ran. */
  def lastSummary(path: String): Option[UpsertSummary] =
    Option(summaryByPath.get(path))

  /** Displaced count of the last upsert into `path` (-1 if none ran). */
  def lastDisplaced(path: String): Long =
    lastSummary(path).map(_.displacedRows).getOrElse(-1L)
}

/** Chunk-grid overwrite. `commit()` RETIRES the victim files — those of
  * chunks matching the bucket-only overwrite condition (`filters =
  * Some(...)`; AlwaysTrue = every chunk = truncate), or, in DYNAMIC mode
  * (`filters = None`), exactly the chunk cells the incoming data lands
  * in — by dropping them from the sealed manifest (manifest-only liveness:
  * the bytes stay in place for snapshot reads until retention deletes
  * them), and makes the fresh files live in the same seal.
  *
  * When the commit log is authoritative the fresh files are written
  * IN PLACE — tasks target the final cell directories directly, invisible
  * until the seal, and the commit performs ZERO file moves
  * ([[GraftStage.manifestAuthoritative]]). Unversioned worlds and barrier
  * windows fall back to the staged swap: tasks write a sibling staging
  * grid that commit moves in (physical-walk readers never see a torn
  * state). `forceStaged` keeps the stage for driver-driven uses that pump
  * data through a nested append into the stage (no task message channel).
  *
  * A failure before the manifest seal leaves the world's visible state
  * untouched either way; in-place debris of a crashed write is never in
  * any manifest and falls to the orphan sweep. A full truncate makes the
  * incoming schema authoritative (sidecar rewritten); scoped overwrites
  * keep the existing sidecar. */
class GraftOverwriteWrite(path: String, schema: StructType,
    filters: Option[Array[org.apache.spark.sql.sources.Filter]],
    forceStaged: Boolean = false,
    branch: Option[String] = None) extends BatchWrite {
  // a BRANCH overwrite (WAP) retires its victims from the branch chain
  // only: main readers keep the pre-stage state until fast_forward
  branch.foreach { b => require(
    !forceStaged && GraftStage.manifestAuthoritative(path),
    s"graft: overwrite on branch '$b' needs an authoritative commit log") }
  private[graft] val inPlace: Boolean =
    !forceStaged && GraftStage.manifestAuthoritative(path)
  // per-write unique stage: concurrent overwrites must not interleave grids
  private[graft] val stagePath =
    if (inPlace) path else GraftStage.uniqueStage(path, "overwrite")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(stagePath, schema, GraftBloom.columnsOf(path),
      GraftChecks.boundFor(org.apache.spark.sql.SparkSession.active, path, schema),
      bucketSourcePath = path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftHadoop.fs(path)
    val root = new Path(path)
    val stageRoot = new Path(stagePath)
    val isTruncate = filters.exists(_.forall(
      _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
    def finishSidecar(): Unit =
      if (isTruncate && branch.isEmpty) {
        // truncate replaces the table contents wholesale: the incoming
        // schema is now authoritative for readers. On a BRANCH the sidecar
        // stays untouched — it is table-global, so rewriting it would leak
        // the staged schema to main readers before fast_forward
        val out = GraftHadoop.create(fs,
          new Path(s"$path/_graft_schema.json"), overwrite = true)
        out.write(schema.json.getBytes("UTF-8")); out.close()
      } else GraftDataSource.writeSidecarIfAbsent(path, schema)
    // victims: filter-matching chunks' files (static) or the files of the
    // cells the incoming data lands in (dynamic)
    def victims(liveNow: Seq[(String, Map[String, Long])],
        newCells: Set[Map[String, Long]]): Set[String] = filters match {
      case Some(fs0) =>
        val real = fs0.filterNot(
          _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
        liveNow.filter { case (_, b) =>
          real.forall(GraftDataSource.evalOnBuckets(_, b)) }.map(_._1).toSet
      case None => liveNow.filter { case (_, b) => newCells.contains(b) }
        .map(_._1).toSet
    }
    if (inPlace) {
      // in-place: `added` is exactly the message-listed files, already in
      // their final cells; the predecessor manifest (authoritative by the
      // mode gate; the branch head for WAP overwrites) is the victim
      // list — fresh files are not in it
      val added = GraftStage.messageEntries(root, messages)
      val c = branch match {
        case Some(b) => GraftVersions.beginBranchCommit(fs, root, b)
        case None => GraftVersions.beginCommit(fs, root)
      }
      val removed = victims(GraftStage.liveWithBuckets(fs, root, c),
        added.map(e => GraftVersions.bucketsOf(e.rel)).toSet)
      finishSidecar()
      GraftVersions.sealCommit(fs, root, c, removed, added)
    } else try {
      val staged = GraftStage.stagedCells(fs, stageRoot, messages)
      // begin BEFORE computing victims: a first commit's v0 baseline walk
      // (inside beginCommit) then doubles as the live list below
      val c = GraftVersions.beginCommit(fs, root)
      val removed = victims(GraftStage.liveWithBuckets(fs, root, c),
        staged.map(_._2).toSet)
      // move staged chunk dirs into place (merge into survivors of the same
      // cell — possible only in static mode with a non-covering condition)
      val moved = GraftStage.moveIn(fs, stageRoot, root, staged,
        GraftStage.statsByPath(messages))
      finishSidecar()
      GraftVersions.sealCommit(fs, root, c, removed, moved)
    } finally fs.delete(stageRoot, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftHadoop.fs(path)
    if (inPlace) messages.foreach {
      case m: GraftCommitMessage =>
        m.files.foreach(f => fs.delete(new Path(f), false))
      case _ =>
    } else fs.delete(new Path(stagePath), true)
  }
}

/** The write half of [[GraftRowLevelOperation]]: tasks stage replacement
  * rows into a sibling grid (clustered per cell by the declared
  * distribution), and commit swaps content ATOMICALLY at the manifest
  * seal — the files the operation's scans planned (the groups whose rows
  * the rewrite re-emitted) drop out of the manifest, and the staged cells
  * merge in. The superseded bytes never move (manifest-only liveness:
  * snapshot reads keep resolving them in place until retention). Cells
  * that were never scanned receive their staged rows ADDITIVELY (per-task
  * unique file names never clobber): that is exactly right for rows an
  * UPDATE moved across cells and for MERGE's not-matched inserts. Abort
  * removes the stage; the world is untouched until commit. The stage dir
  * is per-write unique and the commit moves only message-listed files, so
  * two row-level ops racing on one table cannot interleave stages and
  * crashed-attempt debris never merges in. */
class GraftReplaceGroupsWrite(path: String, schema: StructType,
    scannedFiles: () => java.util.Set[String],
    branch: Option[String] = None) extends BatchWrite {
  // COW rewrites land IN PLACE when the commit log is authoritative (the
  // common case — a row-level op presupposes committed data): replacement
  // rows write straight into their final cells, invisible until the seal,
  // zero moves. Staged fallback covers barrier windows. Isolation between
  // racing ops holds either way: `added` is exactly this write's
  // message-listed files, so another op's in-place debris never rides this
  // commit, and a retiring CAS loss still aborts loudly at the seal.
  // A BRANCH rewrite (WAP DML) retires the scanned files from the BRANCH
  // manifest chain only — main's manifests never list the replacement
  // files, so staged state stays invisible until fast_forward publishes.
  branch.foreach { b => require(GraftStage.manifestAuthoritative(path),
    s"graft: row-level DML on branch '$b' needs an authoritative commit " +
      "log (versioned, barrier-free)") }
  private[graft] val inPlace: Boolean = GraftStage.manifestAuthoritative(path)
  private[graft] val stagePath =
    if (inPlace) path else GraftStage.uniqueStage(path, "rowlevel")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(stagePath, schema, GraftBloom.columnsOf(path),
      GraftChecks.boundFor(org.apache.spark.sql.SparkSession.active, path, schema),
      bucketSourcePath = path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftHadoop.fs(path)
    val root = new Path(path)
    val stageRoot = new Path(stagePath)
    // removed = exactly the files the rewrite's scans planned (their rows
    // were re-emitted through this write); cells never scanned stay intact
    def removedRels: Set[String] = {
      import scala.jdk.CollectionConverters._
      scannedFiles().asScala
        .map(u => GraftVersions.relOf(root, new Path(u))).toSet
    }
    def seal(c: GraftVersions.PendingCommit, removed: Set[String],
        added: Seq[GraftVersions.ManifestEntry], newCells: Int): Unit = {
      val replaced = removed.map(_.split('/').dropRight(1).mkString("/")).size
      GraftDataSource.writeSidecarIfAbsent(path, schema)
      GraftVersions.sealCommit(fs, root, c, removed, added)
      GraftReplaceGroupsWrite.summaryByPath.put(path,
        GraftReplaceGroupsWrite.ReplaceSummary(replaced, newCells))
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"graft row-level rewrite of $path: $replaced cell(s) replaced, " +
          s"$newCells cell(s) written")
    }
    def begin(): GraftVersions.PendingCommit = branch match {
      case Some(b) => GraftVersions.beginBranchCommit(fs, root, b)
      case None => GraftVersions.beginCommit(fs, root)
    }
    if (inPlace) {
      val added = GraftStage.messageEntries(root, messages)
      seal(begin(), removedRels, added,
        added.map(e => GraftVersions.bucketsOf(e.rel)).toSet.size)
    } else try {
      val staged = GraftStage.stagedCells(fs, stageRoot, messages)
      val c = begin()
      val moved = GraftStage.moveIn(fs, stageRoot, root, staged,
        GraftStage.statsByPath(messages))
      seal(c, removedRels, moved, staged.size)
    } finally fs.delete(stageRoot, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftHadoop.fs(path)
    if (inPlace) messages.foreach {
      case m: GraftCommitMessage =>
        m.files.foreach(f => fs.delete(new Path(f), false))
      case _ =>
    } else fs.delete(new Path(stagePath), true)
  }
}

object GraftReplaceGroupsWrite {
  /** Outcome of the last row-level rewrite into each path: chunk cells
    * replaced (scanned candidates that existed) and staged cells merged in
    * (superset when an update moved rows or a MERGE inserted). Same
    * path-keyed no-return-channel parking as [[GraftUpsertWrite]]. */
  final case class ReplaceSummary(replacedCells: Int, stagedCells: Int)
  val summaryByPath =
    new java.util.concurrent.ConcurrentHashMap[String, ReplaceSummary]()
  def lastSummary(path: String): Option[ReplaceSummary] =
    Option(summaryByPath.get(path))
}

/** The clustered-write layout contract shared by every graft batch write:
  * cluster on the bucket columns (one task per chunk) and sort by
  * (buckets, registered dims) so each cell lands as one tightly-stat'd
  * file. Declared once here; [[GraftWriteBuilder]] and the row-level write
  * both wrap their `BatchWrite` in it. */
private[sources] object GraftWriteLayout {
  import org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering

  def withLayout(path: String, schema: StructType, batch: BatchWrite,
      viaCatalog: Boolean = false): Write =
    new Write with RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
      override def toBatch: BatchWrite = batch

      private def bucketNames: Array[String] = {
        val declared = GraftStage.declaredBuckets(path)
        schema.fields.map(_.name).filter(n =>
          declared.map(_.contains(n)).getOrElse(GraftDataSource.isBucket(n)))
      }

      override def requiredDistribution():
          org.apache.spark.sql.connector.distributions.Distribution =
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          bucketNames.map(n => Expressions.identity(n)
            .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]))

      override def requiredOrdering():
          Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
        val fields = schema.fieldNames.toSet
        def asc(e: org.apache.spark.sql.connector.expressions.Expression) =
          Expressions.sort(e, SortDirection.ASCENDING)
        // declared intra-chunk Z-order (CALL system.zorder / _graft_zorder
        // sidecar) takes precedence over the dim sort: catalog-routed
        // writes sort by the connector zvalue function (resolved against
        // GraftCatalog's FunctionCatalog face — a true Morton curve);
        // path-routed writes have no function catalog to resolve it, so
        // they keep the layout approximately with a lexicographic sort on
        // the same columns instead of failing the write
        val zCols = GraftZOrder.columnsOf(path).filter(fields.contains)
        val intra: Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          if (zCols.size >= 2 && viaCatalog)
            Array(asc(Expressions.apply("zvalue",
              zCols.map(c => Expressions.column(c)
                .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]): _*)))
          else if (zCols.nonEmpty)
            zCols.toArray.map(c => asc(Expressions.column(c)))
          else {
            val dimNames = graft.plans.DimPruningRegistry.lookup(path)
              .map(_.map(_.column).filter(fields.contains)).getOrElse(Seq.empty)
            dimNames.toArray.map(c => asc(Expressions.column(c)))
          }
        bucketNames.map(c => asc(Expressions.column(c))) ++ intra
      }
    }
}

/** Driver-side chunk-grid surgery shared by the staged write commits. */
private[sources] object GraftStage {
  /** Per-write unique staging-grid path: concurrent staged writes into one
    * table each own their grid, so commits can never interleave (the first
    * commit's finally-delete would silently drop the second's rows). */
  def uniqueStage(path: String, kind: String): String =
    s"${path}__graft_${kind}_stage_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** True when the commit log is authoritative for `path` (at least one
    * sealed manifest, no pending World-rewrite barrier): file liveness is
    * then MANIFEST-ONLY — every reader (live scans, snapshots, streams,
    * maintenance) resolves files from manifests, never a tree walk — so a
    * write may land fresh bytes DIRECTLY in their final cell directories
    * under per-writer-unique names: they are invisible until its own
    * manifest seals, and the commit is pure metadata. On S3-class stores a
    * rename is a full copy, so the staged-swap alternative pays every
    * fresh byte twice; in-place writing is the object-store-correct shape.
    * Unversioned worlds and barrier windows (physical-walk readers would
    * see the write's torn state) keep the staged swap. */
  def manifestAuthoritative(path: String): Boolean = {
    val fs = GraftHadoop.fs(path)
    val st = GraftVersions.logState(fs, new Path(path))
    st.versions.nonEmpty && !st.barrier
  }

  /** Manifest entries of exactly the files the tasks' commit messages
    * list — an in-place commit's `added` set: no stage walk, no moves,
    * sizes AND zone-map bounds + row counts stat'd executor-side at task
    * commit, so the seal opens zero footers for these files. */
  def messageEntries(root: Path, messages: Array[WriterCommitMessage])
      : Seq[GraftVersions.ManifestEntry] =
    messages.collect { case m: GraftCommitMessage =>
      val sz = if (m.sizes.size == m.files.size) m.sizes
               else m.files.map(_ => -1L)
      val st: Seq[Option[GraftStats.GraftFileStats]] =
        if (m.fstats.size == m.files.size) m.fstats.map(Some(_))
        else m.files.map(_ => None)
      m.files.lazyZip(sz).lazyZip(st).map { case (f, s, fo) =>
        val e = GraftVersions.ManifestEntry(
          GraftVersions.relOf(root, new Path(f)), s)
        fo.fold(e)(x => e.copy(stats = x.ints, sstats = x.strs, rows = x.rows))
      }.toSeq
    }.flatten.toSeq

  /** Writer-captured per-file stats keyed by URI path — the lookup
    * [[moveIn]] uses to carry bounds across the stage → grid rename (the
    * file name is preserved, so content stats stay valid verbatim). */
  def statsByPath(messages: Array[WriterCommitMessage])
      : Map[String, GraftStats.GraftFileStats] =
    messages.collect {
      case m: GraftCommitMessage if m.fstats.size == m.files.size =>
        m.files.zip(m.fstats).map { case (f, st) =>
          new Path(f).toUri.getPath -> st }
    }.flatten.toMap

  /** Test observability: files moved by staged swaps, process-wide — the
    * in-place specs pin that a versioned table's overwrite/COW performs
    * ZERO of these. */
  val movesPerformed = new java.util.concurrent.atomic.AtomicLong()

  /** The AUTHORITATIVE bucket-column set for `path`: the registered
    * World's declared dims when one exists (a data column that happens to
    * be named like `c<digit>` — e.g. a count column `c1` — must NOT be
    * routed as a grid axis), the `c\d+` name convention otherwise (the
    * SQL catalog surface, where the convention IS the declaration). */
  def declaredBuckets(path: String): Option[Set[String]] =
    graft.plans.DimPruningRegistry.lookup(path)
      .map(dims => dims.indices.map(i => s"c$i").toSet)

  /** The live (rel, buckets) pairs a commit retires against: the cached
    * predecessor manifest when the commit has one (zero extra round trips),
    * else the physical walk (first commit's baseline state, or barrier mode
    * where [[GraftVersions.noteBarrier]]'s sync made the tree exact). No
    * unversioned delete primitive exists — every cell removal is a manifest
    * omission sealed through the commit log; a bare recursive delete would
    * silently bypass it, the exact drift class the barrier machinery
    * exists to prevent. */
  def liveWithBuckets(fs: FileSystem, root: Path,
      c: GraftVersions.PendingCommit): Seq[(String, Map[String, Long])] =
    c.prev match {
      case Some(entries) =>
        entries.map(e => (e.rel, GraftVersions.bucketsOf(e.rel)))
      case None =>
        if (!fs.exists(root)) Seq.empty
        else GraftDataSource.walkChunks(fs, root, Array.empty)
          .flatMap { case (d, b) =>
            GraftDataSource.chunkFiles(fs, d)
              .map(f => (GraftVersions.relOf(root, f), b))
          }
    }

  /** Remove now-empty ancestors of `d` up to (excluding) `root`. */
  def pruneEmptyParents(fs: FileSystem, d: Path, root: Path): Unit = {
    var parent = d.getParent
    while (parent != null && parent.toUri.getPath != root.toUri.getPath &&
        fs.exists(parent) && fs.listStatus(parent).isEmpty) {
      fs.delete(parent, false)
      parent = parent.getParent
    }
  }

  /** Staged cells with the files this commit may move: exactly the
    * message-listed files when task commit messages are present — files
    * left by a crashed task attempt whose `DataWriter.abort` never ran
    * must not ride a later commit as duplicate rows — or every data file
    * under the stage when there are none (driver-driven commits with no
    * task channel, e.g. direct BatchWrite use in maintenance code). */
  def stagedCells(fs: FileSystem, stageRoot: Path,
      messages: Array[WriterCommitMessage])
      : Seq[(Path, Map[String, Long], Seq[org.apache.hadoop.fs.FileStatus])] = {
    if (!fs.exists(stageRoot)) return Seq.empty
    val listed = messages.collect { case m: GraftCommitMessage => m }
    val allowed: Option[Set[String]] =
      if (listed.isEmpty) None
      else Some(listed.flatMap(_.files)
        .map(f => new Path(f).toUri.getPath).toSet)
    GraftDataSource.walkChunks(fs, stageRoot, Array.empty).flatMap { case (d, b) =>
      val files = GraftDataSource.chunkFileStatuses(fs, d)
        .filter(f => allowed.forall(_.contains(f.getPath.toUri.getPath)))
      if (files.isEmpty) None else Some((d, b, files))
    }
  }

  /** Move each staged cell's committed files into the same cell under
    * `root` (merging with any files already there — per-task file names
    * are unique, so appends never clobber). Returns the moved files'
    * manifest entries under `root` — rel path + length from the staging
    * listing, so the seal stats nothing (the commit's `added` set). */
  def moveIn(fs: FileSystem, stageRoot: Path, root: Path,
      staged: Seq[(Path, Map[String, Long], Seq[org.apache.hadoop.fs.FileStatus])],
      stats: Map[String, GraftStats.GraftFileStats] = Map.empty)
      : Seq[GraftVersions.ManifestEntry] =
    staged.flatMap { case (dir, _, files) =>
      // listStatus returns fs-qualified paths (file:/…) — relativize on
      // URI paths, not raw strings, or the prefix never matches
      val rel = dir.toUri.getPath
        .stripPrefix(stageRoot.toUri.getPath).stripPrefix("/")
      val target = new Path(root, rel)
      fs.mkdirs(target)
      files.map { st =>
        val f = st.getPath
        // a false return (e.g. HDFS rename onto an existing destination)
        // must FAIL the commit: silently leaving the file in the stage
        // would drop its rows at the finally-delete while the incremental
        // manifest still lists them
        if (!fs.rename(f, new Path(target, f.getName)))
          throw new IllegalStateException(
            s"graft commit: failed to move staged file $f into $target")
        movesPerformed.incrementAndGet()
        val e = GraftVersions.ManifestEntry(
          if (rel.isEmpty) f.getName else s"$rel/${f.getName}", st.getLen)
        stats.get(f.toUri.getPath)
          .fold(e)(x => e.copy(stats = x.ints, sstats = x.strs, rows = x.rows))
      }
    }
}

/** Native micro-batch streaming sink: `df.writeStream.format("graft")` —
  * the reference daemon's write-behind contract (§2.5,
  * /root/reference/src/world.rs daemon notes) as a DSv2 `StreamingWrite`
  * instead of a `foreachBatch` shim. Once the table's commit log is
  * authoritative, tasks of epoch N write IN PLACE — straight into their
  * final cell directories, invisible until the epoch's manifest seals —
  * so a long-running stream performs zero per-epoch renames (on S3-class
  * stores a rename is a full copy: the staged design paid every epoch's
  * bytes twice, forever). Virgin paths, barrier windows, and Upsert mode
  * (whose `World::insert` consumes a staged batch) keep the sibling
  * per-epoch staging grid. `commit(N)` applies the epoch under the
  * declared mode (Append adds the files, Truncate — Complete output
  * mode — retires every predecessor file in the same seal, Upsert runs
  * the world's partition-scoped `World::insert`), then records N under
  * `<world>/_graft_commits/`.
  *
  * Exactly-once per epoch: a RESTARTED query replays its last unfinished
  * epoch; a marker hit means the epoch fully committed before the crash
  * and the replayed output is discarded wholesale (stage deleted;
  * in-place files — unmanifested, hence invisible — deleted by path). A
  * crash strictly BETWEEN the epoch's visibility point (the manifest
  * seal; formerly the cell moves) and the marker write can double the
  * boundary epoch — the same torn-commit window every log-less file sink
  * has (class doc above); the marker shrinks it from "any replayed epoch"
  * to that one seal-to-marker gap. Markers are one empty file per epoch,
  * pruned opportunistically to the last
  * [[GraftStreamingWrite.keepMarkers]] (replay only ever re-offers the
  * tail epochs the checkpoint hasn't sealed).
  */
class GraftStreamingWrite(path: String, schema: StructType,
    mode: GraftStreamingWrite.Mode,
    versionsKeep: Option[Int] = None,
    compactMaxFiles: Option[Int] = None,
    // WAP: epochs seal on this branch's manifest chain, invisible to main
    // until fast_forward publishes the drained epochs (builder gates the
    // unsupported combinations — upsert, auto-compact)
    branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import GraftStreamingWrite._

  private def stageFor(epochId: Long) = s"${path}__graft_epoch_$epochId"
  // branch streams keep their own replay markers: a main stream and a
  // staging stream of the same table must not shadow each other's epochs
  private def markerFor(epochId: Long) = new Path(
    s"$path/_graft_commits/${branch.map(b => s"b-$b-").getOrElse("")}$epochId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(path, schema, upsert = mode == Upsert)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftHadoop.fs(path)
    val root = new Path(path)
    val stageRoot = new Path(stageFor(epochId))
    // the regime is re-derived per FILE from the message paths (the
    // factory decides once per epoch, but a message-path check is immune
    // to the decision drifting between factory construction and commit):
    // grid-resident files are this epoch's in-place output, stage-resident
    // ones move in the old way
    val stagePrefix = stageRoot.toUri.getPath
    val gridMsgs: Array[WriterCommitMessage] = messages.collect {
      case m: GraftCommitMessage =>
        val sz = if (m.sizes.size == m.files.size) m.sizes
                 else m.files.map(_ => -1L)
        val st: Seq[Option[GraftStats.GraftFileStats]] =
          if (m.fstats.size == m.files.size) m.fstats.map(Some(_))
          else m.files.map(_ => None)
        val keep = m.files.lazyZip(sz).lazyZip(st).toSeq
          .filterNot { case (f, _, _) =>
            new Path(f).toUri.getPath.startsWith(stagePrefix) }
        GraftCommitMessage(keep.map(_._1), m.rows, keep.map(_._2),
          keep.flatMap(_._3))
    }.toArray
    def deleteGridFiles(): Unit = gridMsgs.foreach {
      case m: GraftCommitMessage =>
        m.files.foreach(f => fs.delete(new Path(f), false))
      case _ =>
    }
    try {
      if (fs.exists(markerFor(epochId))) {
        // replayed after a completed commit: discard the replay's output —
        // staged files die with the stage delete below, in-place files are
        // unmanifested (invisible) and deleted here
        deleteGridFiles()
        org.slf4j.LoggerFactory.getLogger(getClass)
          .info(s"graft stream into $path: epoch $epochId replayed after commit, skipping")
        return
      }
      val staged = GraftStage.stagedCells(fs, stageRoot, messages)
      val gridAdded = GraftStage.messageEntries(root, gridMsgs)
      // each epoch is a versioned commit: VERSION AS OF n addresses the
      // world between epochs (bounded by graft.versions.keep — see below).
      // The Upsert arm delegates to World.insert, which seals its own
      // commit (r11: a connector-routed overwrite, not a barrier), so only
      // the Append/Truncate arms begin one here. A WAP stream begins on
      // the branch head instead — its epochs chain on the branch manifests.
      lazy val c = branch match {
        case Some(b) => GraftVersions.beginBranchCommit(fs, root, b)
        case None    => GraftVersions.beginCommit(fs, root)
      }
      lazy val stagedStats = GraftStage.statsByPath(messages)
      mode match {
        case Append =>
          val added =
            GraftStage.moveIn(fs, stageRoot, root, staged, stagedStats) ++ gridAdded
          GraftDataSource.writeSidecarIfAbsent(path, schema)
          GraftVersions.sealCommit(fs, root, c, Set.empty, added)
        case Truncate =>
          // every live file retires (manifest-only — bytes stay for the
          // per-epoch retention below to reclaim); the predecessor manifest
          // backing liveWithBuckets never lists this epoch's in-place files.
          // On a BRANCH the sidecar stays untouched (table-global — same
          // guard as the batch overwrite's WAP arm).
          val removed = GraftStage.liveWithBuckets(fs, root, c).map(_._1).toSet
          val added =
            GraftStage.moveIn(fs, stageRoot, root, staged, stagedStats) ++ gridAdded
          if (branch.isEmpty) {
            val out = GraftHadoop.create(fs,
              new Path(s"$path/_graft_schema.json"), overwrite = true)
            out.write(schema.json.getBytes("UTF-8")); out.close()
          } else GraftDataSource.writeSidecarIfAbsent(path, schema)
          GraftVersions.sealCommit(fs, root, c, removed, added)
        case Upsert =>
          val spark = org.apache.spark.sql.SparkSession.active
          val dims = graft.plans.DimPruningRegistry.lookup(path).getOrElse(
            throw new IllegalStateException(
              s"graft streaming upsert needs the world's dim mappings: no world " +
                s"registered for $path (instantiate graft.world.World first)"))
          val w = new graft.world.World(spark, path, dims)
          // in-place regime (authoritative log): the epoch's files are
          // ALREADY in their final cells — retire displaced ids by address
          // and seal the tasks' entries, ONE write of the epoch's bytes
          // (r14; the staged design paid them twice). The ids come from a
          // column-pruned read of exactly the message-listed files.
          if (gridAdded.nonEmpty) {
            val gridFiles = gridMsgs.collect {
              case m: GraftCommitMessage => m.files }.flatten
            val ids = spark.read.option("basePath", path)
              .parquet(gridFiles.toSeq: _*)
              .select(dims.head.column)
            val displaced = w.insertPrewritten(ids, gridAdded, branch)
            org.slf4j.LoggerFactory.getLogger(getClass)
              .info(s"graft stream upsert into $path: epoch $epochId " +
                s"(in-place), $displaced displaced")
          }
          // staged regime (virgin path / barrier window): the legacy
          // consume — read the committed staged rows, World.insert them.
          val stagedFiles = staged.flatMap(_._3).map(_.getPath)
          if (stagedFiles.nonEmpty) {
            val bucketCols = dims.indices.map(i => s"c$i")
            // committed files only — crashed-attempt debris must not upsert.
            // On a WAP branch the insert resolves conflicts against the
            // BRANCH head and seals on the branch chain (insertOn).
            val stagedDf = spark.read.parquet(stagedFiles.map(_.toString): _*)
              .drop(bucketCols: _*)
            val displaced = w.insertOn(stagedDf, branch)
            org.slf4j.LoggerFactory.getLogger(getClass)
              .info(s"graft stream upsert into $path: epoch $epochId, $displaced displaced")
          }
          GraftDataSource.writeSidecarIfAbsent(path, schema)
      }
      GraftHadoop.create(fs, markerFor(epochId), overwrite = true).close()
      // opportunistic marker pruning: replay only re-offers tail epochs.
      // Each stream prunes only ITS OWN namespace (bare numbers for main,
      // `b-<branch>-<n>` for a staging stream).
      val prefix = branch.map(b => s"b-$b-").getOrElse("")
      fs.listStatus(markerFor(epochId).getParent).toSeq
        .filter { s =>
          val n = s.getPath.getName
          if (branch.isDefined) n.startsWith(prefix) else !n.startsWith("b-")
        }
        .flatMap(s => scala.util.Try(
          s.getPath.getName.stripPrefix(prefix).toLong).toOption
          .map(_ -> s.getPath))
        .sortBy(_._1).dropRight(keepMarkers)
        .foreach { case (_, p) => fs.delete(p, false) }
      // per-epoch AUTO-COMPACTION (Append mode, graft.compact.maxFiles):
      // an append-only stream adds a file per epoch per touched cell —
      // at 100 TB the small-files death unless compacted. Bounded to the
      // cells THIS epoch touched, executed as a versioned dynamic
      // overwrite (CAS-sealed like any commit), so the stream's version
      // cursor stays intact — no World-level barrier, no offset
      // degradation. Runs BEFORE retention so the compaction version is
      // subject to the same keep bound.
      if (mode == Append) compactMaxFiles.foreach { bound =>
        GraftStreamingWrite.compactTouchedCells(path, schema,
          staged.map(_._2).toSet ++
            gridAdded.map(e => GraftVersions.bucketsOf(e.rel)), bound)
      }
      // per-epoch retention under graft.versions.keep: a forever-stream's
      // commit log stays bounded without an external maintenance job
      versionsKeep.foreach(k => GraftVersions.expire(fs, root, k))
    } finally fs.delete(stageRoot, true)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftHadoop.fs(path)
    fs.delete(new Path(stageFor(epochId)), true)
    // in-place task output of the failed epoch: unmanifested (invisible),
    // deleted eagerly rather than left to the orphan sweep
    val stagePrefix = new Path(stageFor(epochId)).toUri.getPath
    messages.foreach {
      case m: GraftCommitMessage => m.files
        .filterNot(f => new Path(f).toUri.getPath.startsWith(stagePrefix))
        .foreach(f => fs.delete(new Path(f), false))
      case _ =>
    }
  }
}

object GraftStreamingWrite {
  sealed trait Mode
  case object Append extends Mode
  case object Truncate extends Mode
  case object Upsert extends Mode

  /** Committed-epoch markers retained (checkpoint replay depth is 1). */
  val keepMarkers = 16

  /** Default `graft.versions.keep` for streaming sinks — see the builder's
    * rationale; batch commits keep everything until `expire_versions`. */
  val DefaultVersionsKeep = 64

  /** Compact the given cells down to one file each when their LIVE file
    * count exceeds `bound`: read exactly those cells through the connector
    * (manifest-resolved — retired-in-place files excluded), stage through
    * the clustered writer (one file per cell by the declared
    * distribution), and commit as a versioned DYNAMIC overwrite. The old
    * files retire in the manifest layer; per-epoch retention reclaims
    * them. Returns the number of compacted cells. */
  private[sources] def compactTouchedCells(path: String, schema: StructType,
      touched: Set[Map[String, Long]], bound: Int): Int = {
    if (touched.isEmpty) return 0
    val fs = GraftHadoop.fs(path)
    val root = new Path(path)
    val victims = GraftDataSource.liveCells(fs, root, Array.empty)
      .filter { case (_, b, files) => touched.contains(b) && files.sizeIs > bound }
      .map(_._2)
    if (victims.isEmpty) return 0
    val spark = org.apache.spark.sql.SparkSession.active
    import org.apache.spark.sql.functions.{col, lit}
    val pred = victims.map(_.toSeq.sortBy(_._1)
        .map { case (k, v) => col(k) === lit(v) }.reduce(_ && _))
      .reduce(_ || _)
    // dynamic mode, stage forced: this driver-driven cycle pumps the
    // compacted rows through a nested APPEND into the stage dir (no task
    // message channel), so the commit must discover them with the stage
    // walk — in-place would alias the stage onto the table itself
    val ow = new GraftOverwriteWrite(path, schema, None, forceStaged = true)
    try {
      spark.read.format("graft").load(path).where(pred)
        .write.format("graft").mode("append").save(ow.stagePath)
      ow.commit(Array.empty)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"graft stream auto-compact of $path: ${victims.size} cell(s)")
      victims.size
    } catch {
      case e: Throwable =>
        // compaction is maintenance, never correctness: the epoch already
        // committed; leave fragmentation for the next trigger
        GraftHadoop.fs(ow.stagePath)
          .delete(new Path(ow.stagePath), true)
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"graft stream auto-compact of $path failed: ${e.getMessage}")
        0
    }
  }
}

/** Epoch-aware twin of [[GraftWriterFactory]]: rows land either directly
  * in the world's cell directories (IN-PLACE — the log is authoritative,
  * so unmanifested files are invisible until the epoch's seal and the
  * commit moves nothing) or in the per-epoch staging grid (virgin paths,
  * barrier windows, and Upsert mode, whose World.insert consumes a staged
  * batch), reusing the one routed chunk writer. The placement decision is
  * made ONCE per epoch on the driver and serialized to every task, so an
  * epoch's files are never split across regimes by a mid-epoch log change;
  * the commit re-derives the regime per file from the message paths. */
class GraftStreamingWriterFactory(path: String, schema: StructType,
    upsert: Boolean = false)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  // resolved HERE (factory construction runs on the driver) and serialized
  // to tasks — createWriter runs executor-side, where a sidecar read per
  // task would be a namenode round-trip per epoch partition
  private val bloomCols: Seq[String] = GraftBloom.columnsOf(path)
  // r14: Upsert epochs write in place too — the commit no longer re-reads
  // a staged batch through World.insert (it retires displaced rows by
  // address and seals the tasks' own files: World.insertPrewritten), so
  // the one reason upserts kept the staging grid is gone and every
  // authoritative-log epoch pays its bytes exactly once
  private val inPlace: Boolean = GraftStage.manifestAuthoritative(path)
  // declared CHECKs resolved at factory construction — which happens
  // PER EPOCH on the driver (each micro-batch's MicroBatchWrite calls
  // createStreamingWriterFactory anew), so a set_check declared while a
  // long-running stream is active gates that stream's NEXT epoch without a
  // restart (GraftChecksSpec pins this). One listing RPC per epoch when no
  // checks exist — the same cost class as the bloom sidecar read above.
  private val checks: Seq[GraftChecks.Check] =
    GraftChecks.boundFor(org.apache.spark.sql.SparkSession.active, path, schema)
  private val declaredBuckets: Option[Set[String]] =
    GraftStage.declaredBuckets(path)
  private val statsMode: GraftStats.Mode = GraftStats.modeOf(path)
  private val hadoopConf = GraftHadoop.ship()
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(
      if (inPlace) path else s"${path}__graft_epoch_$epochId", schema,
      partitionId, taskId, hadoopConf.value, bloomCols, checks,
      declaredBuckets, statsMode)
}

class GraftBatchWrite(path: String, schema: StructType,
    branch: Option[String] = None) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(path, schema, GraftBloom.columnsOf(path),
      GraftChecks.boundFor(org.apache.spark.sql.SparkSession.active, path, schema))
  // a virgin-path write must leave the world readable through the connector:
  // the sidecar records the written schema (incl. bucket columns) exactly as
  // World.create would
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    GraftDataSource.writeSidecarIfAbsent(path, schema)
    val root = new Path(path)
    val added = GraftStage.messageEntries(root, messages)
    // an append of no rows wrote no file and changes no state: it seals no
    // version (the write-behind daemon's empty batches cost no commit)
    if (added.isEmpty) return
    // version the append: nothing retires, but the post-commit manifest
    // makes this state addressable by VERSION AS OF. Append tasks write
    // straight into the grid, so THIS commit's files must not leak into a
    // first-commit baseline manifest; the seal is incremental (predecessor
    // + this commit's files) — an append never pays a grid walk.
    val fs = GraftHadoop.fs(path)
    val c = branch match {
      // branch staging: the seal goes to the branch's own manifest chain;
      // auto-compaction stays a main-log policy (runs after publish)
      case Some(b) => GraftVersions.beginBranchCommit(fs, root, b)
      case None => GraftVersions.beginCommit(fs, root,
        excludeFromBaseline = added.map(_.rel).toSet)
    }
    GraftVersions.sealCommit(fs, root, c, Set.empty, added)
    // declared auto-compaction (system.set_compaction): appends are the
    // one fragmenting batch commit — bound the cells this append touched
    if (branch.isEmpty) c.compactMaxFiles.foreach { bound =>
      GraftStreamingWrite.compactTouchedCells(path, schema,
        added.map(e => GraftVersions.bucketsOf(e.rel)).toSet, bound)
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftHadoop.fs(path)
    messages.foreach {
      case m: GraftCommitMessage =>
        m.files.foreach(f => fs.delete(new Path(f), false))
      case _ =>
    }
  }
}

/** Task -> driver commit channel: the files this task wrote, how many
  * rows went into them, each file's byte length (stat'd executor-side
  * at task commit — parallel across tasks, so the driver's manifest seal
  * needs zero per-file probes; see [[GraftVersions.ManifestEntry]]), and
  * each file's writer-captured zone maps + exact row count (`fstats`,
  * aligned with `files` — [[GraftStats.WriterStatsTracker]]), so the seal
  * never re-opens a footer the writing task just closed. `commit()`
  * aggregates these into the write summary (the DSv2-clean path for
  * write-side counters — driver-computed numbers like the upsert's
  * displaced count join them at commit time). */
final case class GraftCommitMessage(files: Seq[String], rows: Long,
    sizes: Seq[Long] = Nil,
    fstats: Seq[GraftStats.GraftFileStats] = Nil)
  extends WriterCommitMessage

class GraftWriterFactory(path: String, schema: StructType,
    bloomCols: Seq[String] = Nil,
    checks: Seq[GraftChecks.Check] = Nil,
    // the TABLE path whose registered World declares the bucket set —
    // differs from `path` for staged writes (the stage dir carries no
    // registration); resolved at factory construction (driver-side, the
    // registry is a driver-JVM map) and serialized to tasks
    bucketSourcePath: String = null) extends DataWriterFactory {
  private val declaredBuckets: Option[Set[String]] =
    GraftStage.declaredBuckets(Option(bucketSourcePath).getOrElse(path))
  // zone-map capture mode: resolved from the TABLE root's `_graft_stats`
  // sidecar here (driver-side) and serialized — writer tasks capture
  // bounds inline, never reading the sidecar nor any footer
  private val statsMode: GraftStats.Mode =
    GraftStats.modeOf(Option(bucketSourcePath).getOrElse(path))
  private val hadoopConf = GraftHadoop.ship()
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(path, schema, partitionId, taskId, hadoopConf.value,
      bloomCols, checks, declaredBuckets, statsMode)
}

/** Per-file EXACT integral-column sums, carried into the parquet footer as
  * key-value metadata (`graft.sums` = `col=sum,nonNullCount;...`) — the
  * write-time statistic parquet footers lack (statistics carry min/max and
  * null counts, never sums), and the one that lets SUM aggregate pushdown
  * answer from metadata alone (see [[GraftAggScan]]). Integral columns
  * only: long sums are exact and associative, so the pushed partials
  * recombine to the same answer as a row scan; double sums would make the
  * result depend on file layout. Accumulated by [[GraftDataWriter]] as it
  * routes rows; [[SummingGroupWriteSupport.finalizeWrite]] runs at file
  * close, after the last row. */
private[sources] final class SumTracker(cols: Seq[String]) {
  private val sums = scala.collection.mutable.Map.empty[String, Long]
  private val counts = scala.collection.mutable.Map.empty[String, Long]
  // a column whose running sum overflowed Long: its entry is OMITTED from
  // the footer metadata, so readers fall back to scanning that column —
  // which then overflows (wraps or throws under ANSI) exactly like a row
  // scan of the same data would. A silently wrapped METADATA sum would
  // instead disagree with the engine's own row-scan answer.
  private val poisoned = scala.collection.mutable.Set.empty[String]
  def add(c: String, v: Long): Unit = {
    if (!poisoned(c)) {
      try sums(c) = Math.addExact(sums.getOrElse(c, 0L), v)
      catch {
        case _: ArithmeticException =>
          poisoned += c; sums.remove(c); counts.remove(c)
      }
    }
    if (!poisoned(c)) counts(c) = counts.getOrElse(c, 0L) + 1L
  }
  def encode: String =
    cols.filterNot(poisoned)
      .map(c => s"$c=${sums.getOrElse(c, 0L)},${counts.getOrElse(c, 0L)}")
      .mkString(";")
}

private[sources] final class SummingGroupWriteSupport(tracker: SumTracker)
    extends GroupWriteSupport {
  override def finalizeWrite(): org.apache.parquet.hadoop.api.WriteSupport.FinalizedWriteContext =
    new org.apache.parquet.hadoop.api.WriteSupport.FinalizedWriteContext(
      java.util.Map.of(GraftDataSource.SumsMetaKey, tracker.encode))
}

/** [[ExampleParquetWriter]]'s builder with a caller-supplied write support
  * (the stock one hardcodes a plain [[GroupWriteSupport]], which cannot
  * carry the finalize-time sums metadata). Takes an `OutputFile` from
  * [[GraftHadoop.outputFile]], never a `Path`. */
private[sources] final class GraftParquetWriterBuilder(file: org.apache.parquet.io.OutputFile,
    ws: org.apache.parquet.hadoop.api.WriteSupport[org.apache.parquet.example.data.Group])
    extends ParquetWriter.Builder[org.apache.parquet.example.data.Group, GraftParquetWriterBuilder](file) {
  override def self(): GraftParquetWriterBuilder = this
  override def getWriteSupport(conf: Configuration)
      : org.apache.parquet.hadoop.api.WriteSupport[org.apache.parquet.example.data.Group] = ws
}

/** Routes rows to per-chunk parquet writers, opened lazily per bucket tuple
  * encountered in this task's partition. */
class GraftDataWriter(path: String, schema: StructType, partitionId: Int,
    taskId: Long,
    // the session conf shipped with the factory; cloned per file before the
    // per-file schema is set on it
    conf: Configuration,
    bloomCols: Seq[String] = Nil,
    checks: Seq[GraftChecks.Check] = Nil,
    declaredBuckets: Option[Set[String]] = None,
    statsMode: GraftStats.Mode = GraftStats.AutoMode) extends DataWriter[InternalRow] {

  private def isBucketCol(name: String): Boolean = declaredBuckets match {
    case Some(set) => set.contains(name)
    case None => GraftDataSource.isBucket(name)
  }

  // declared CHECK constraints, compiled once per task (codegen'd predicate
  // with interpreted fallback); a violation throws -> Spark aborts the task
  // writer (partial files deleted) and fails the statement
  private val checkPreds = checks.toArray.map { c =>
    val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(c.bound)
    p.initialize(partitionId)
    (c, p)
  }

  private val bucketIdx: Array[Int] = schema.fields.zipWithIndex
    .collect { case (f, i) if isBucketCol(f.name) => i }
  // _cell rides the row-level rewrite schema for routing context only
  // (requiredMetadataAttributes keeps Spark's write-side projection on) —
  // like the bucket columns it must never be PERSISTED, or rewritten chunk
  // files would grow a physical _cell column untouched files lack and a
  // plain spark.read.parquet over the grid would see divergent file schemas
  private val dataIdx: Array[Int] = schema.fields.zipWithIndex
    .collect { case (f, i) if !isBucketCol(f.name) &&
      f.name != GraftDataSource.CellColumn => i }
  require(bucketIdx.nonEmpty, "graft write requires bucket columns c0..cN in the schema")

  private val messageType: MessageType = {
    def prim(dt: DataType): PrimitiveType.PrimitiveTypeName = dt match {
      case FloatType   => PrimitiveType.PrimitiveTypeName.FLOAT
      case DoubleType  => PrimitiveType.PrimitiveTypeName.DOUBLE
      case LongType    => PrimitiveType.PrimitiveTypeName.INT64
      case IntegerType => PrimitiveType.PrimitiveTypeName.INT32
      case other => throw new UnsupportedOperationException(
        s"graft write: unsupported array element type $other")
    }
    val b = Types.buildMessage()
    dataIdx.foreach { i =>
      val f = schema.fields(i)
      val t: Type = f.dataType match {
        case LongType    => Types.optional(PrimitiveType.PrimitiveTypeName.INT64).named(f.name)
        case IntegerType => Types.optional(PrimitiveType.PrimitiveTypeName.INT32).named(f.name)
        case DoubleType  => Types.optional(PrimitiveType.PrimitiveTypeName.DOUBLE).named(f.name)
        case FloatType   => Types.optional(PrimitiveType.PrimitiveTypeName.FLOAT).named(f.name)
        case BooleanType => Types.optional(PrimitiveType.PrimitiveTypeName.BOOLEAN).named(f.name)
        case StringType  => Types.optional(PrimitiveType.PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        // the reference's payload is opaque bytes (/root/reference/src/world.rs:33-47)
        // — BinaryType is its closest Spark analog
        case BinaryType  => Types.optional(PrimitiveType.PrimitiveTypeName.BINARY).named(f.name)
        case TimestampType => Types.optional(PrimitiveType.PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
          .named(f.name)
        // standard 3-level LIST — the same shape Spark's own writer emits,
        // so graft-written chunks stay readable by both read paths
        case ArrayType(et, _) => Types.optionalList()
          .optionalElement(prim(et)).named(f.name)
        case other => throw new UnsupportedOperationException(
          s"graft write: unsupported type $other for column ${f.name}")
      }
      b.addField(t)
    }
    b.named("graft_chunk")
  }

  // ONE writer open at a time: the write plan declares clustering +
  // bucket-leading ordering (GraftWriteBuilder), so a task sees each of
  // its chunks as one contiguous run — the previous chunk's writer closes
  // (flushing its row-group buffer) before the next opens, keeping task
  // memory at one row-group regardless of how many chunks the task owns.
  // A caller feeding UNSORTED rows still gets correct output (a revisited
  // bucket opens a fresh uniquely-named file), just more files.
  private var current: Option[(Seq[Long], ParquetWriter[org.apache.parquet.example.data.Group])] = None
  private val files = scala.collection.mutable.ArrayBuffer.empty[String]
  private var counter = 0
  private var rowsWritten = 0L
  // per-writer random component in every file name: manifest-only liveness
  // keeps a retired file IN PLACE under its original rel path, so rel paths
  // must stay unique FOREVER — task ids restart at 0 across Spark apps, and
  // a later app re-emitting part-<pid>-<tid>-<n> into a cell that still
  // holds a retired file of that name would collide (loudly, but
  // needlessly). Eight hex chars of entropy per writer removes the class.
  private val uid = f"${java.util.concurrent.ThreadLocalRandom.current().nextInt() & 0x7fffffff}%08x"

  // integral data columns whose exact per-file sums ride the footer
  // (SumTracker scaladoc); one tracker per open file
  private val sumCols: Seq[(Int, String)] = dataIdx.toSeq
    .map(i => (i, schema.fields(i)))
    .collect { case (i, f) if f.dataType == LongType || f.dataType == IntegerType =>
      (i, f.name) }
  private var tracker: SumTracker = _

  // zone-map capture columns (empty under a declared-off mode); one
  // tracker per file, aligned with `files`, carried to the driver in the
  // commit message — the seal then attaches bounds + row counts with zero
  // footer reads (GraftStats.enrich stays as the foreign-file fallback)
  private val statsCols: Array[GraftStats.CaptureCol] =
    GraftStats.captureCols(statsMode, dataIdx.toSeq.map(i => (i, schema.fields(i))))
  private val statsOn: Boolean = statsMode != GraftStats.OffMode
  private val statsTrackers =
    scala.collection.mutable.ArrayBuffer.empty[GraftStats.WriterStatsTracker]
  private var stats: GraftStats.WriterStatsTracker = _

  private def writerFor(bucket: Seq[Long]): ParquetWriter[org.apache.parquet.example.data.Group] =
    current match {
      case Some((b, w)) if b == bucket => w
      case _ =>
        current.foreach(_._2.close())
        val dir = bucketIdx.indices.map(i => s"c$i=${bucket(i)}").mkString("/")
        val file = s"$path/$dir/part-$partitionId-$taskId-$counter-$uid.parquet"
        counter += 1
        files += file
        val c = new Configuration(conf)
        GroupWriteSupport.setSchema(messageType, c)
        tracker = new SumTracker(sumCols.map(_._2))
        if (statsOn) {
          stats = new GraftStats.WriterStatsTracker(statsCols)
          statsTrackers += stats
        }
        val b = new GraftParquetWriterBuilder(GraftHadoop.outputFile(new Path(file), c),
            new SummingGroupWriteSupport(tracker)).withConf(c)
          // parquet-mr's builder default is UNCOMPRESSED — at 100 TB that
          // is 2-4x the bytes on every chunk the connector writes. Snappy
          // matches Spark's own parquet default, so connector-written and
          // World.create-written files compress alike (zstd is the knob to
          // expose if storage ever beats CPU here).
          .withCompressionCodec(
            org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        // registered bloom columns (the `_graft_bloom` sidecar, resolved
        // driver-side by the factory's creator): adaptive sizing keeps each
        // chunk's bloom proportional to its observed distinct count
        val blooming = bloomCols.filter(messageType.containsField)
        if (blooming.nonEmpty) {
          b.withAdaptiveBloomFilterEnabled(true)
          blooming.foreach(b.withBloomFilterEnabled(_, true))
        }
        val w = b.build()
        current = Some((bucket, w))
        w
    }

  override def write(row: InternalRow): Unit = {
    var ci = 0
    while (ci < checkPreds.length) {
      val (c, p) = checkPreds(ci)
      if (!p.eval(row)) throw new IllegalStateException(
        s"graft check '${c.name}' violated on write: (${c.sql})")
      ci += 1
    }
    val bucket: Seq[Long] = bucketIdx.toSeq.map { i =>
      schema.fields(i).dataType match {
        case IntegerType => row.getInt(i).toLong
        case _           => row.getLong(i)
      }
    }
    val g = new SimpleGroup(messageType)
    var gi = 0
    dataIdx.foreach { i =>
      if (!row.isNullAt(i)) {
        schema.fields(i).dataType match {
          case LongType    => g.add(gi, row.getLong(i))
          case IntegerType => g.add(gi, row.getInt(i))
          case DoubleType  => g.add(gi, row.getDouble(i))
          case FloatType   => g.add(gi, row.getFloat(i))
          case BooleanType => g.add(gi, row.getBoolean(i))
          case StringType  => g.add(gi, row.getUTF8String(i).toString)
          case BinaryType  =>
            g.add(gi, org.apache.parquet.io.api.Binary.fromConstantByteArray(row.getBinary(i)))
          case TimestampType => g.add(gi, row.getLong(i)) // micros, as declared
          case ArrayType(et, _) =>
            val arr = row.getArray(i)
            val listG = g.addGroup(gi)
            var k = 0
            while (k < arr.numElements()) {
              val elemG = listG.addGroup(0)
              if (!arr.isNullAt(k)) et match {
                case FloatType   => elemG.add(0, arr.getFloat(k))
                case DoubleType  => elemG.add(0, arr.getDouble(k))
                case LongType    => elemG.add(0, arr.getLong(k))
                case IntegerType => elemG.add(0, arr.getInt(k))
                case _           => ()
              }
              k += 1
            }
          case _           => ()
        }
      }
      gi += 1
    }
    val w = writerFor(bucket) // resolves (and possibly rolls) the trackers
    sumCols.foreach { case (i, n) =>
      if (!row.isNullAt(i))
        tracker.add(n, schema.fields(i).dataType match {
          case IntegerType => row.getInt(i).toLong
          case _           => row.getLong(i)
        })
    }
    if (statsOn) {
      stats.rows += 1L
      var j = 0
      while (j < statsCols.length) {
        val sc = statsCols(j)
        if (!row.isNullAt(sc.idx)) sc.kind match {
          case 0 => stats.addInt(j, row.getInt(sc.idx).toLong)
          case 1 => stats.addInt(j, row.getLong(sc.idx))
          case _ => stats.addStr(j, row.getUTF8String(sc.idx).getBytes)
        }
        j += 1
      }
    }
    w.write(g)
    rowsWritten += 1L
  }

  override def commit(): WriterCommitMessage = {
    current.foreach(_._2.close())
    current = None
    // per-file lengths for the manifest seal: executor-side stats, a few
    // files per task, parallel across the job
    val fs = FileSystem.get(new java.net.URI(path), conf)
    GraftCommitMessage(files.toSeq, rowsWritten,
      files.toSeq.map(f => fs.getFileStatus(new Path(f)).getLen),
      if (statsOn) statsTrackers.toSeq.map(_.result) else Nil)
  }

  override def abort(): Unit = {
    current.foreach(c => try c._2.close() catch { case _: Throwable => () })
    current = None
    val fs = FileSystem.get(new java.net.URI(path), conf)
    files.foreach(f => fs.delete(new Path(f), false))
  }

  override def close(): Unit = ()
}
