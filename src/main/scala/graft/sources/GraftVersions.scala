package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.sources.Filter

/** Commit versioning over the chunk grid — snapshot reads, rollback, and
  * retention for every write that goes through the connector/catalog
  * surface. The reference versions its FORMAT (`tokio-fs/src/lib.rs:59-63`
  * writes a version header per chunk and replaces whole chunks,
  * lib.rs:84-107) but keeps no commit history; a 100-TB table whose front
  * door is SQL DML needs "read the world as of commit N" and "undo that
  * backfill", so the staged-swap machinery every graft write already has is
  * generalized into a commit log with MANIFEST-ONLY file liveness:
  *
  *   - `_graft_versions/v<N>.manifest` — one line per LIVE data file
  *     (chunk-relative path) after commit N, maintained INCREMENTALLY:
  *     manifest(N) = manifest(N-1) − retired + added, so a commit's
  *     manifest cost is O(files it touched), never a grid walk — at a
  *     100k-chunk grid a walk per streaming epoch would be the commit
  *     cost. A fresh walk is used only where exact knowledge is missing:
  *     the first versioned commit's baseline, and commits that follow a
  *     World-level rewrite barrier (which also HEAL any drift);
  *   - liveness lives ONLY in manifests: a file superseded by commit N is
  *     simply ABSENT from manifest N onward — its bytes never move. On the
  *     realistic 100-TB substrate (S3-class object stores) a rename is a
  *     full copy + delete, so the earlier move-into-`_graft_history` design
  *     made every COW UPDATE pay its retired bytes a second time and every
  *     rollback a third; keeping files in place makes retire, rollback, and
  *     snapshot resolution all O(manifest lines) metadata work. Retired
  *     bytes are reclaimed by [[expire]] (drops manifests past retention
  *     and DELETES the files only they referenced) and [[orphanFiles]]
  *     (files no retained manifest ever sealed).
  *
  * Snapshot resolution is therefore trivial: a manifest-K file lives at
  * `root/<rel>` until retention deletes it. Rel paths are unique forever —
  * the connector's writer embeds a per-writer random component in file
  * names, so a retired file's name can never be reused by a later commit
  * (a same-named second write would be a loud rename/create failure, not a
  * silent shadow).
  *
  * Scope: every connector/catalog commit versions (append, overwrite,
  * truncate, row-level COW, streaming epochs, metadata DELETE). The
  * programmatic World rewrites (insert / destroy / update / compact /
  * append / tryInsert) write through Spark's own parquet committer against
  * the PHYSICAL tree and are VERSION BARRIERS: [[noteBarrier]] first SYNCS
  * the live tree to the latest manifest (deleting retired-in-place files,
  * so the physical tree the rewrite reads and writes is exactly the live
  * set), then drops a `_barrier` marker. While the marker holds, live reads
  * use the physical walk (exact, because of the sync); the next versioned
  * commit seals from a walk and clears it. Older snapshots whose files the
  * sync or the rewrite deleted fail LOUDLY at resolve — the documented
  * barrier trade, same as before. `World.create`'s full overwrite resets
  * the log entirely.
  *
  * Crash atomicity: a versioned commit becomes visible only when its
  * manifest seals. A crash before the seal leaves the predecessor manifest
  * authoritative — readers never see the torn state; the commit's
  * already-moved files are invisible (not in any manifest) and are healed
  * by the next barrier sync or the orphan sweep. This is strictly stronger
  * than the earlier move-based design, whose crash window could lose moved
  * files from the live walk.
  *
  * Concurrency: a CLAIM-then-PROMOTE CAS (see [[writeManifestCas]]) —
  * [[sealCommit]] claims `v<N>.claim` with create-if-absent, writes the
  * manifest bytes to a tmp sibling, and promotes via atomic rename, so a
  * manifest is visible ONLY with its complete content and passive readers
  * (streaming offsets, snapshot resolves, competing begins) always see the
  * predecessor until the seal lands — never a torn file. A loser whose
  * commit only ADDS files re-begins from the new latest and replays its
  * delta; a loser that retires files aborts loudly (its victim set was
  * computed against a predecessor that is no longer the latest — blind
  * replay could resurrect or double-retire); a contender that finds the
  * claim held WAITS (backoff, stale-claim takeover on a crashed sealer)
  * rather than erroring. World-level rewrites stay single-writer (the same
  * contract the reference's `&self` world locks impose,
  * `src/world.rs:252-267`). Atomicity substrate — IMPLEMENTED as a store
  * capability seam ([[casCapability]]): local/HDFS use the claim protocol
  * natively; object stores whose connector maps `create(overwrite=false)`
  * to a conditional PUT (`If-None-Match: *`, Hadoop 3.4.1+) publish the
  * final manifest key in ONE request (claim and publish collapsed); stores
  * with neither primitive REFUSE the seal loudly unless the operator
  * asserts single-writer operation — never a silent race.
  */
private[graft] object GraftVersions {
  private val VersionsDir = "_graft_versions"
  private val ManifestSuffix = ".manifest"
  private val ManifestHeader = "graft-manifest-v1"
  // v2 header carries the entry count: `graft-manifest-v2 <version> <n>`.
  // The marker is BUMPED rather than extended because a torn v1-extended
  // header ("graft-manifest-v1 8" cut out of "graft-manifest-v1 8 13")
  // would be indistinguishable from a complete legacy header — the exact
  // masquerade the count exists to prevent.
  private val ManifestHeaderV2 = "graft-manifest-v2"
  // v3 is the SEGMENTED root: `graft-manifest-v3 <version> <n> <S>` followed
  // by one `seg\t<sid>\t<rel>\t<count>` line per non-empty segment. Entries
  // live in immutable, uuid-named segment files under `_graft_versions/segs/`
  // (same entry-line format as a v2 body, own header). The root is O(S); a
  // commit rewrites ONLY the segments whose membership changed — without
  // this, every seal rewrote the full live-file listing, O(total files) of
  // metadata WRITE per commit: at a million-file world a 10-row streaming
  // epoch would push ~100 MB of manifest per second. Segment id is a pure
  // function of the file's CHUNK DIRECTORY (all files of a cell share a
  // segment), so a commit touching k cells rewrites <= k segments + root.
  // Segments are reused by REFERENCE from the predecessor root (never by
  // blind content-address matching against the store — a reference chain is
  // what lets expire GC safely: it deletes only segments referenced by
  // dropped roots and by no surviving manifest, so an in-flight commit,
  // which reuses only from the always-retained latest root, can never have
  // a segment deleted out from under it; crashed-commit segment debris is
  // uuid-fresh, referenced by nothing, and falls to the age-gated orphan
  // sweep).
  private val ManifestHeaderV3 = "graft-manifest-v3"
  private val SegmentHeader = "graft-segment-v1"
  private val SegsDirName = "segs"

  /** Target entries per segment. A root goes v3 at 4x this (hysteresis:
    * collapses back to flat below 1x), and the segment modulus S doubles
    * past 2x / halves below x/2 per segment — the bands never flap.
    * System property so specs can exercise v3 on small fixtures; the
    * default keeps every small world on the flat v2 format. */
  private def segTarget: Int =
    Integer.getInteger("graft.manifest.segmentTarget", 1024).intValue

  /** One root seg line: segment id under modulus S, rel under the versions
    * dir, entry count (integrity check at read). */
  final case class SegRef(sid: Int, rel: String, count: Long)
  /** A v3 root's segment table: the modulus and the refs. */
  final case class SegBase(s: Int, refs: Seq[SegRef])

  /** Segment of a rel: hash of its directory part (the chunk cell), so a
    * cell's files colocate and a commit touching k cells touches <= k
    * segments. String.hashCode is JLS-pinned — stable across JVMs. */
  private def sidOf(rel: String, s: Int): Int = {
    val cut = rel.lastIndexOf('/')
    val dir = if (cut >= 0) rel.substring(0, cut) else ""
    java.lang.Math.floorMod(dir.hashCode, s)
  }

  def manifestPath(root: Path, v: Long): Path =
    new Path(new Path(root, VersionsDir), s"v$v$ManifestSuffix")

  /** Chunk-relative form of a file under `root` (URI-path based — listStatus
    * returns fs-qualified paths whose raw string never prefix-matches). */
  def relOf(root: Path, file: Path): String =
    file.toUri.getPath.stripPrefix(root.toUri.getPath).stripPrefix("/")

  /** One manifest line: chunk-relative path + file length + optional
    * per-column value bounds. Sizes ride the manifest so SIZE-dependent
    * planning — `estimateStatistics` (the auto-broadcast decision,
    * consulted at every plan), `system.stats` — answers from the one
    * manifest read with ZERO directory listings; at a 100k-chunk grid the
    * per-plan listing was the planning cost. Size −1 = unknown (a
    * pre-size-format manifest line); consumers fall back to a listing for
    * just those files.
    *
    * `stats` is the file's ZONE MAP: min/max of each integral data
    * column's non-null values, captured once from the parquet footer when
    * the commit seals (see [[GraftStats]]) and carried forward verbatim by
    * every later commit (files are immutable, so their bounds are too).
    * Planning tests pushed range/equality predicates against these bounds
    * and drops refuted files with ZERO per-file I/O — the footer-walk skip
    * in [[GraftBloom]] then only ever opens survivors. Empty = unknown
    * (pre-stats manifests, stats-off tables, non-parquet debris): the file
    * is kept, never wrongly pruned.
    *
    * `dv` is the file's DELETION VECTOR, if a merge-on-read DELETE has
    * retired rows of it: (sidecar chunk-relative path, deleted-row count) —
    * see [[GraftDv]]. Carried as an optional fourth manifest field; the
    * count rides along so row-count-dependent planning (pushed top-N's
    * cumulative cover) corrects footer counts without opening the sidecar.
    *
    * `sstats` is the STRING-column zone map: hex-encoded bounded PREFIXES
    * of each string column's min/max (16 bytes, `+`-marked when cut) with
    * truncation-safe compare semantics — see [[GraftStats]]. Encoded into
    * the same stats field as the integral bounds, values marked by an `s`
    * prefix.
    *
    * `rows` is the file's PHYSICAL row count (deleted rows included; −1 =
    * unknown, pre-rows manifests or stats-off tables), captured from the
    * same footer read that takes the zone maps. With it, row-count-
    * dependent planning — the pushed top-N's cumulative cover, the
    * statistics report's numRows, the deleted-fraction compaction trigger
    * — answers from the one manifest read with ZERO footer opens; the live
    * row count of an entry is `rows − dv.count`. */
  final case class ManifestEntry(rel: String, size: Long,
      stats: Map[String, (Long, Long)] = Map.empty,
      dv: Option[(String, Long)] = None,
      sstats: Map[String, (String, String)] = Map.empty,
      rows: Long = -1L)

  /** One listing of `_graft_versions`: sealed versions (ascending), barrier
    * flag, tag files, and the declared retention — every per-commit "what
    * state is the log in" question answered by a single round trip instead
    * of three. Retention is NAME-ENCODED (`retention-<k>`, empty file) so
    * this same listing carries the value with no content read. */
  final case class LogState(versions: Seq[Long], barrier: Boolean,
      tagNames: Seq[String], retentionKeep: Option[Int] = None,
      compactionMaxFiles: Option[Int] = None) {
    def latest: Option[Long] = versions.lastOption
  }

  def logState(fs: FileSystem, root: Path): LogState = {
    val dir = new Path(root, VersionsDir)
    if (!fs.exists(dir))
      return LogState(Seq.empty, barrier = false, Seq.empty)
    val entries = fs.listStatus(dir).toSeq
    val versions = entries.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("v") && n.endsWith(ManifestSuffix))
        scala.util.Try(n.stripPrefix("v").stripSuffix(ManifestSuffix).toLong).toOption
      else None
    }.sorted
    LogState(versions,
      entries.exists(_.getPath.getName == BarrierName),
      entries.collect {
        case s if s.isFile && s.getPath.getName.startsWith(TagPrefix) =>
          s.getPath.getName.stripPrefix(TagPrefix)
      },
      entries.flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix(RetentionPrefix).toInt).toOption
        .filter(_ => s.getPath.getName.startsWith(RetentionPrefix)))
        .sorted.lastOption,
      entries.flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix(CompactionPrefix).toInt).toOption
        .filter(_ => s.getPath.getName.startsWith(CompactionPrefix)))
        .sorted.lastOption)
  }

  private val RetentionPrefix = "retention-"

  /** Declare (or with keep <= 0, clear) AUTOMATIC retention: every later
    * versioned commit self-expires the log down to the newest `keep`
    * manifests after its seal — the maintenance-free bounded log for
    * DML-heavy batch tables (the streaming sink's `graft.versions.keep`
    * already does this per epoch; this is the table-level declaration).
    * Tagged versions still survive, exactly like a manual
    * `expire_versions`. The keep value is name-encoded in an empty marker
    * file inside `_graft_versions`, so the commit path learns it from the
    * listing it already performs — zero extra round trips per commit. */
  def setRetention(fs: FileSystem, root: Path, keep: Int): Unit = {
    val dir = new Path(root, VersionsDir)
    fs.mkdirs(dir)
    fs.listStatus(dir).filter(_.getPath.getName.startsWith(RetentionPrefix))
      .foreach(s => fs.delete(s.getPath, false))
    if (keep >= 1)
      GraftHadoop.create(fs, new Path(dir, s"$RetentionPrefix$keep"), overwrite = true).close()
  }

  private val CompactionPrefix = "compaction-"

  /** Declare (or with maxFiles <= 0, clear) AUTOMATIC COMPACTION for plain
    * APPENDS: after a batch append's seal, cells the append touched whose
    * live file count exceeds `maxFiles` rewrite to one file through a
    * versioned dynamic overwrite — bounded to touched cells, CAS-sealed,
    * never a barrier. Appends are the only fragmenting batch commit (COW
    * rewrites already replace whole cells); the streaming sink's
    * `graft.compact.maxFiles` option is the per-stream form of the same
    * policy. Name-encoded beside the retention marker — same zero-added-
    * round-trips listing. */
  def setCompaction(fs: FileSystem, root: Path, maxFiles: Int): Unit = {
    val dir = new Path(root, VersionsDir)
    fs.mkdirs(dir)
    fs.listStatus(dir).filter(_.getPath.getName.startsWith(CompactionPrefix))
      .foreach(s => fs.delete(s.getPath, false))
    if (maxFiles >= 1)
      GraftHadoop.create(fs, new Path(dir, s"$CompactionPrefix$maxFiles"), overwrite = true).close()
  }

  /** Versions with a committed manifest, ascending. */
  def listVersions(fs: FileSystem, root: Path): Seq[Long] =
    logState(fs, root).versions

  def latestVersion(fs: FileSystem, root: Path): Option[Long] =
    logState(fs, root).latest

  /** All live data files under the grid, chunk-relative — the PHYSICAL
    * answer, correct when no manifest is authoritative (unversioned worlds;
    * barrier pending, where [[noteBarrier]]'s sync made the tree exact). */
  def liveFiles(fs: FileSystem, root: Path): Seq[String] =
    liveFileEntries(fs, root).map(_.rel)

  /** [[liveFiles]] with sizes from the same listing (no extra probes). */
  def liveFileEntries(fs: FileSystem, root: Path): Seq[ManifestEntry] =
    if (!fs.exists(root)) Seq.empty
    else GraftDataSource.walkChunks(fs, root, Array.empty)
      .flatMap { case (d, _) => GraftDataSource.chunkFileStatuses(fs, d) }
      .map(st => ManifestEntry(relOf(root, st.getPath), st.getLen))

  /** Latest manifest's rels when the log is AUTHORITATIVE for live reads
    * (at least one sealed version, no pending barrier); None → the physical
    * tree is truth. Under manifest-only retirement a superseded file stays
    * in place, so every live read path of a versioned, barrier-free world
    * MUST plan through this instead of listing directories. */
  def liveRels(fs: FileSystem, root: Path): Option[Seq[String]] =
    liveEntries(fs, root).map(_.map(_.rel))

  /** [[liveRels]] with manifest-carried sizes. */
  def liveEntries(fs: FileSystem, root: Path): Option[Seq[ManifestEntry]] = {
    val st = logState(fs, root)
    if (st.barrier) None
    else st.latest.map(readEntries(fs, root, _))
  }

  // header carries the ENTRY COUNT so a reader can tell a fully-sealed
  // manifest from one a concurrent writer has CAS-claimed but not yet
  // finished writing (see the readEntries retry); older count-less headers
  // stay readable
  // one entry line, shared by the v2 body and v3 segment files
  private def entryLine(e: ManifestEntry): String = {
    // field 3 is POSITIONALLY the stats field; tagged fields (dv=…,
    // rows=…) follow, so field 3 must be present (`-` = empty stats)
    // whenever any tag is — tag prefixes can never collide with column
    // names because columns only ever appear inside field 3
    val dv = e.dv.map { case (r, n) => s"\tdv=$r:$n" }.getOrElse("")
    val rows = if (e.rows >= 0L) s"\trows=${e.rows}" else ""
    val stRaw = statsField(e.stats, e.sstats)
    val st =
      if (stRaw.isEmpty && (dv.nonEmpty || rows.nonEmpty)) "\t-" else stRaw
    s"${e.rel}\t${e.size}$st$dv$rows"
  }

  private def writeManifestBytes(v: Long, files: Seq[ManifestEntry]): Array[Byte] =
    (s"$ManifestHeaderV2 $v ${files.size}\n" +
      files.sortBy(_.rel).map(entryLine).mkString("\n") + "\n")
      .getBytes("UTF-8")

  // zone-map field: `\tcol=min:max;col2=min:max` — absent entirely when the
  // entry has no stats, so stats-free manifests stay byte-identical to the
  // two-field format. String bounds ride the same field as
  // `col=s<hexmin>:s<hexmax>` (hex + optional `+` truncation mark — no
  // separator can appear). Columns whose names collide with the separators
  // are never captured (GraftStats.safeName), so the encoding needs no
  // escaping.
  private def statsField(stats: Map[String, (Long, Long)],
      sstats: Map[String, (String, String)]): String =
    if (stats.isEmpty && sstats.isEmpty) ""
    else "\t" + (stats.toSeq.map { case (c, (mn, mx)) => c -> s"$mn:$mx" } ++
      sstats.toSeq.map { case (c, (mn, mx)) => c -> s"s$mn:s$mx" })
      .sortBy(_._1)
      .map { case (c, b) => s"$c=$b" }.mkString(";")

  // deletion-vector field: `dv=<sidecar rel>:<deleted count>` — the rel is
  // engine-named (`_graft_dv/<uuid>.dv`), so it never contains the
  // separators and the last ':' split is unambiguous
  private def parseDvField(s: String): Option[(String, Long)] = {
    val body = s.stripPrefix("dv=")
    val cut = body.lastIndexOf(':')
    if (!s.startsWith("dv=") || cut <= 0) None
    else scala.util.Try(body.substring(cut + 1).toLong).toOption
      .map(n => (body.substring(0, cut), n))
  }

  private[sources] def parseStatsField(s: String)
      : (Map[String, (Long, Long)], Map[String, (String, String)]) = {
    val ints = Map.newBuilder[String, (Long, Long)]
    val strs = Map.newBuilder[String, (String, String)]
    s.split(';').foreach { kv =>
      kv.split('=') match {
        case Array(c, b) => b.split(':') match {
          case Array(mn, mx) if mn.startsWith("s") && mx.startsWith("s") =>
            strs += c -> (mn.drop(1), mx.drop(1))
          case Array(mn, mx) =>
            (scala.util.Try(mn.toLong).toOption,
              scala.util.Try(mx.toLong).toOption) match {
              case (Some(a), Some(z)) => ints += c -> (a, z)
              case _ => // malformed bound: dropped (kept = never wrongly pruned)
            }
          case _ =>
        }
        case _ =>
      }
    }
    (ints.result(), strs.result())
  }

  /** The commit CAS, as a CLAIM-then-PROMOTE protocol (r10's
    * create-then-write seal made the manifest VISIBLE before its bytes
    * landed, so concurrent readers saw a torn file and had to spin — the
    * r10 liveness defect):
    *
    *   1. claim `v<N>.claim` with create-if-absent — the arbiter. The claim
    *      is content-free and never read, so its own create window is inert;
    *   2. write the full manifest bytes to a `.tmp-<uuid>` sibling;
    *   3. promote tmp → `v<N>.manifest` via rename — atomic on local/HDFS,
    *      so the manifest becomes visible ONLY with its complete content.
    *      Passive readers (streaming `latestOffset`, snapshot resolves,
    *      competing `beginCommit`s) list manifests and therefore never
    *      observe an in-flight seal at all — the predecessor stays latest
    *      until the winner's rename lands;
    *   4. drop the claim.
    *
    * A competing sealer that finds the claim held gets [[CasBusy]] and
    * waits in [[awaitSeal]] (exponential backoff, minutes not the r10 1 s)
    * for the manifest to appear; a claim whose holder crashed pre-promote
    * goes stale after [[StaleClaimMs]] and is released by the waiter, so a
    * dead writer never wedges the log. Store contract: the protocol above
    * runs where create-if-absent and rename are atomic (local, HDFS). On
    * S3-class object stores neither is — there [[writeManifestCasAt]]
    * dispatches to [[conditionalPut]]: one conditional PUT
    * (`If-None-Match: *`) of the FINAL manifest key, simultaneously the
    * claim and the atomic content publish (steps 1–4 collapse into one
    * request). A store with neither primitive refuses the seal loudly
    * (see [[casCapability]]) unless single-writer operation is asserted.
    */
  private sealed trait CasResult
  private case object CasSealed extends CasResult
  private case object CasLost extends CasResult // version sealed by another commit
  private case object CasBusy extends CasResult // claim held by an in-flight sealer

  // --- store capability seam ------------------------------------------
  // The commit CAS needs ONE atomic primitive from the store. Which one it
  // has decides the protocol:
  //   - CreateExclusiveCap (local, HDFS): create-if-absent and rename are
  //     atomic -> the claim-then-promote protocol above;
  //   - ConditionalPutCap (object stores with `If-None-Match: *` support,
  //     surfaced by Hadoop 3.4.1+ connectors as conditional create): an
  //     object becomes visible only when its PUT completes, so
  //     create(manifest, overwrite=false) of the FINAL key is the claim
  //     and the complete-content publish in ONE request — no claim file,
  //     no tmp, no rename (none of which are atomic there anyway);
  //   - NoAtomicCap: the store offers neither -> multi-writer commits
  //     CANNOT be made safe and the seal REFUSES loudly, unless the
  //     operator asserts single-writer operation (safe without any CAS)
  //     via `graft.cas.assume-single-writer=true` in the Hadoop conf.
  // Detection: scheme defaults (file/hdfs-class are exclusive-create;
  // anything unknown probes the connector's declared conditional-create
  // path capability), overridable per scheme with
  // `graft.cas.capability.<scheme> = create-exclusive | conditional-put |
  // none` for stores whose semantics the operator knows better (e.g. a
  // MinIO fronted by an older connector).
  private[sources] sealed trait CasCapability
  private[sources] case object CreateExclusiveCap extends CasCapability
  private[sources] case object ConditionalPutCap extends CasCapability
  private[sources] case object NoAtomicCap extends CasCapability

  private[sources] val CapabilityConfPrefix = "graft.cas.capability."
  private[sources] val AssumeSingleWriterKey = "graft.cas.assume-single-writer"
  // Hadoop 3.4.1+ (HADOOP-19256): connectors that map overwrite=false onto
  // a conditional request declare this path capability
  private val ConditionalCreateCapability = "fs.option.create.conditional.overwrite"

  private[sources] def casCapability(fs: FileSystem, at: Path): CasCapability = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    fs.getConf.getTrimmed(CapabilityConfPrefix + scheme, "") match {
      case "create-exclusive" => CreateExclusiveCap
      case "conditional-put"  => ConditionalPutCap
      case "none"             => NoAtomicCap
      case "" => scheme match {
        case "file" | "hdfs" | "viewfs" | "webhdfs" => CreateExclusiveCap
        case _ =>
          val conditional =
            try fs.hasPathCapability(at, ConditionalCreateCapability)
            catch { case scala.util.control.NonFatal(_) => false }
          if (conditional) ConditionalPutCap else NoAtomicCap
      }
      case other => throw new IllegalArgumentException(
        s"graft: $CapabilityConfPrefix$scheme='$other' — expected " +
          "create-exclusive, conditional-put, or none")
    }
  }

  /** The claim file guarding one manifest path (same dir, `.claim` for
    * `.manifest`) — works for main (`v<N>`) and branch (`b-<name>-v<k>`)
    * manifests alike. */
  private def claimOf(p: Path): Path =
    new Path(p.getParent, p.getName.stripSuffix(ManifestSuffix) + ".claim")

  /** How long a claim may sit without its manifest before a waiter treats
    * the claimer as crashed and releases it. The claim is held only for
    * one small-file write + one rename, so even a GC-stalled sealer
    * finishes orders of magnitude sooner. */
  private val StaleClaimMs = 60000L

  /** Atomic create-if-absent of an empty file — the claim acquisition.
    * Hadoop's LocalFileSystem `create(p, overwrite = false)` is
    * CHECK-THEN-ACT (an exists() probe followed by an open), so two
    * in-JVM racers can BOTH pass the probe and both believe they hold the
    * claim — the double-claim would let the second promote overwrite the
    * winner's manifest. [[GraftHadoop.create]] opens local files with
    * `CREATE_NEW`, the real O_CREAT|O_EXCL primitive (atomic in-process and
    * cross-process); elsewhere the filesystem's own create-exclusive is
    * used (atomic on HDFS by contract; see the object doc for the S3
    * mapping). */
  private def createExclusive(fs: FileSystem, p: Path): Boolean =
    try { GraftHadoop.create(fs, p, overwrite = false).close(); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException => if (fs.exists(p)) false else throw e
    }

  private def writeManifestCas(fs: FileSystem, root: Path, v: Long,
      files: Seq[ManifestEntry], base: Option[SegBase] = None,
      touched: Option[Set[String]] = None): CasResult =
    writeManifestCasAt(fs, manifestPath(root, v), v, files, base, touched)

  /** Build the root bytes, writing any NEW segment files first (rename-
    * promoted, uuid-named — idempotent debris on a lost CAS, swept by the
    * age-gated orphan sweep). `base` is the predecessor root's segment
    * table; `touched` the rels whose entries changed or left relative to
    * that base (None = assume everything changed). An untouched segment's
    * ref carries over VERBATIM — zero bytes written for it. */
  private def buildRootBytes(fs: FileSystem, p: Path, v: Long,
      files: Seq[ManifestEntry], base: Option[SegBase],
      touched: Option[Set[String]]): Array[Byte] = {
    val target = segTarget
    val n = files.size
    // hysteresis: go segmented at 4x target (or stay segmented while the
    // base is), collapse to flat only below 1x
    val useSegs = n >= 4L * target || (base.isDefined && n >= target)
    if (!useSegs) return writeManifestBytes(v, files)

    var s = base.map(_.s).getOrElse {
      var s0 = 1
      while (n > 2L * target * s0) s0 *= 2
      s0
    }
    while (n > 2L * target * s) s *= 2
    while (s > 1 && n < target.toLong * s / 2) s /= 2
    val sameModulus = base.exists(_.s == s)
    val touchedSids: Option[Set[Int]] =
      if (!sameModulus) None // modulus moved: every segment re-buckets
      else touched.map(_.map(r => sidOf(r, s)))
    val baseRefs: Map[Int, SegRef] =
      if (sameModulus) base.get.refs.map(r => r.sid -> r).toMap else Map.empty

    val segsDir = new Path(p.getParent, SegsDirName)
    val bySid = files.groupBy(e => sidOf(e.rel, s))
    val refs = bySid.toSeq.sortBy(_._1).map { case (sid, group) =>
      val reusable = touchedSids.exists(!_.contains(sid))
      baseRefs.get(sid) match {
        // membership provably unchanged: the predecessor's segment IS this
        // segment — reference it, write nothing (count check is defensive)
        case Some(ref) if reusable && ref.count == group.size => ref
        case _ =>
          val rel = s"$SegsDirName/seg-${java.util.UUID.randomUUID()}.seg"
          val bytes = (s"$SegmentHeader ${group.size}\n" +
            group.sortBy(_.rel).map(entryLine).mkString("\n") + "\n")
            .getBytes("UTF-8")
          val tmp = new Path(segsDir, s".tmp-${java.util.UUID.randomUUID()}")
          val out = GraftHadoop.create(fs, tmp, overwrite = true)
          out.write(bytes)
          out.close()
          val dest = new Path(p.getParent, rel)
          if (!fs.rename(tmp, dest)) {
            fs.delete(tmp, false)
            throw new java.io.IOException(
              s"graft commit: could not promote segment $dest")
          }
          SegRef(sid, rel, group.size.toLong)
      }
    }
    (s"$ManifestHeaderV3 $v $n $s\n" +
      refs.map(r => s"seg\t${r.sid}\t${r.rel}\t${r.count}").mkString("\n") +
      "\n").getBytes("UTF-8")
  }

  private def writeManifestCasAt(fs: FileSystem, p: Path, v: Long,
      files: Seq[ManifestEntry], base: Option[SegBase] = None,
      touched: Option[Set[String]] = None): CasResult = {
    if (fs.exists(p)) return CasLost
    // BY-NAME: segment files are a side effect of building the root bytes,
    // so the build must run only once the claim is held (claimThenPromote)
    // — a CasBusy retry loop would otherwise write a fresh set of uuid
    // segment debris per attempt while waiting out the claim holder
    def bytes: Array[Byte] = buildRootBytes(fs, p, v, files, base, touched)
    casCapability(fs, p) match {
      case CreateExclusiveCap => claimThenPromote(fs, p, bytes)
      case ConditionalPutCap  => conditionalPut(fs, p, bytes)
      case NoAtomicCap =>
        if (fs.getConf.getBoolean(AssumeSingleWriterKey, false))
          // single-writer asserted: no contention exists by declaration, so
          // the claim protocol's primitives don't need to be atomic
          claimThenPromote(fs, p, bytes)
        else throw new UnsupportedOperationException(
          s"graft commit: the '${fs.getUri.getScheme}' store offers neither " +
            "atomic create-if-absent nor conditional PUT — concurrent " +
            "commits cannot be serialized safely on it. Either declare the " +
            s"store's real semantics ($CapabilityConfPrefix" +
            s"${fs.getUri.getScheme} = create-exclusive | conditional-put) " +
            s"or assert single-writer operation ($AssumeSingleWriterKey = " +
            "true) in the Hadoop configuration")
    }
  }

  private def claimThenPromote(fs: FileSystem, p: Path,
      bytes: => Array[Byte]): CasResult = {
    val claim = claimOf(p)
    if (!createExclusive(fs, claim))
      return if (fs.exists(p)) CasLost else CasBusy
    var ours = true // flips false when a takeover's claim must be left alone
    try {
      if (fs.exists(p)) return CasLost // stale-claim takeover raced a late promote
      // OWNERSHIP TOKEN: building the root bytes under the held claim can
      // take long on a segmented log (it may write many segment files), so
      // a slow build can outlive the stale-claim window and be TAKEN OVER.
      // The token makes that takeover detectable: the claim file carries
      // this attempt's uuid, and the promote below only proceeds if the
      // claim still carries it — a takeover deleted/re-created the claim,
      // the token mismatches, and this attempt aborts as CasLost instead
      // of rename-overwriting the usurper's sealed manifest (a LOST COMMIT
      // on stores whose rename replaces the destination).
      val token = java.util.UUID.randomUUID().toString
      locally {
        val out = GraftHadoop.create(fs, claim, overwrite = true)
        out.write(token.getBytes("UTF-8"))
        out.close()
      }
      // force bytes only now — under the held, token-marked claim (segment
      // side effects never happen for a lost/busy attempt)
      val content = bytes
      val stillOurs =
        try {
          val in = fs.open(claim)
          val t = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          t == token
        } catch { case _: java.io.IOException => false }
      if (!stillOurs) { ours = false; return CasLost } // usurper's claim: leave it
      if (fs.exists(p)) return CasLost
      val tmp = new Path(p.getParent, s".tmp-${java.util.UUID.randomUUID()}")
      val out = GraftHadoop.create(fs, tmp, overwrite = true)
      out.write(content)
      out.close()
      if (!fs.rename(tmp, p)) { fs.delete(tmp, false); return CasLost }
      CasSealed
    } finally if (ours) fs.delete(claim, false)
  }

  /** The object-store protocol: one conditional PUT of the final manifest
    * key (overwrite = false -> `If-None-Match: *` on Hadoop 3.4.1+
    * connectors). The object is visible only once the PUT completes, so
    * claim, content write, and publish collapse into this single request —
    * a loser's PUT fails the precondition and maps to [[CasLost]]. Never
    * returns [[CasBusy]]: there is no claim window to wait out. */
  private def conditionalPut(fs: FileSystem, p: Path,
      bytes: => Array[Byte]): CasResult = {
    // force the build BEFORE opening the destination: there is no claim
    // window on this path, so pre-building loses nothing, and a build
    // failure must surface as itself — never leak the open stream or be
    // misread as a CAS loss by the exists-check below
    val content = bytes
    try {
      val out = GraftHadoop.create(fs, p, overwrite = false)
      out.write(content)
      out.close()
      CasSealed
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => CasLost
      case e: java.io.IOException => if (fs.exists(p)) CasLost else throw e
    }
  }

  /** After a [[CasBusy]]: wait for the claim holder's manifest to appear
    * (or for the claim to vanish / go stale — a crashed claimer), then
    * return so the caller re-attempts its CAS. Backoff doubles to 1 s and
    * the total bound is minutes — a loaded JVM's GC pause inside the
    * claim window (the r10 flake) is waited out, not errored out. */
  private def awaitSeal(fs: FileSystem, root: Path, v: Long): Unit =
    awaitSealAt(fs, manifestPath(root, v))

  private def awaitSealAt(fs: FileSystem, p: Path): Unit = {
    val claim = claimOf(p)
    var sleep = 10L
    val deadline = System.currentTimeMillis() + 4 * StaleClaimMs
    while (System.currentTimeMillis() < deadline) {
      if (fs.exists(p)) return
      val st =
        try Some(fs.getFileStatus(claim))
        catch { case _: java.io.FileNotFoundException => None }
      st match {
        case None => return // claimer finished (promote or abort) — re-attempt
        case Some(s)
            if System.currentTimeMillis() - s.getModificationTime > StaleClaimMs =>
          fs.delete(claim, false) // crashed claimer: release the arbiter
          return
        case _ =>
      }
      Thread.sleep(sleep)
      sleep = math.min(sleep * 2, 1000L)
    }
    throw new IllegalStateException(
      s"graft commit: the claim on $p has been held for " +
        s"${4 * StaleClaimMs / 1000}s without a sealed manifest — " +
        "another writer is wedged mid-seal; resolve it before retrying")
  }

  def readManifest(fs: FileSystem, root: Path, v: Long): Seq[String] =
    readEntries(fs, root, v).map(_.rel)

  def readEntries(fs: FileSystem, root: Path, v: Long): Seq[ManifestEntry] = {
    val p = manifestPath(root, v)
    if (!fs.exists(p)) {
      val have = listVersions(fs, root)
      throw new IllegalArgumentException(
        s"graft snapshot: no committed version $v under $root" +
          (if (have.isEmpty) " (the table has no versioned commits yet)"
           else s" (available: ${have.min}..${have.max}; gaps are crashed or " +
             "retention-expired commits)"))
    }
    readEntriesAt(fs, p)
  }

  private def readEntriesAt(fs: FileSystem, p: Path): Seq[ManifestEntry] =
    readRootAt(fs, p)._1

  private def parseEntryLine(l: String): ManifestEntry =
    l.split('\t') match {
      case Array(rel, sz) => ManifestEntry(rel, sz.toLong)
      case parts if parts.length >= 3 =>
        val (ints, strs) = parseStatsField(parts(2))
        var e = ManifestEntry(parts(0), parts(1).toLong, ints,
          sstats = strs)
        parts.drop(3).foreach { tag =>
          if (tag.startsWith("dv=")) e = e.copy(dv = parseDvField(tag))
          else if (tag.startsWith("rows="))
            e = e.copy(rows = scala.util.Try(
              tag.stripPrefix("rows=").toLong).getOrElse(-1L))
          // unknown tags from a future format: ignored, never fatal
        }
        e
      case _ => ManifestEntry(l, -1L) // pre-size-format line
    }

  /** Root read: entries plus, for a v3 root, its segment table (so a
    * sealer can reuse untouched segments by reference). */
  private def readRootAt(fs: FileSystem, p: Path)
      : (Seq[ManifestEntry], Option[SegBase]) =
    readRootRaw(fs, p) match {
      case Left(entries) => (entries, None)
      case Right(segs)   => (resolveSegments(fs, p, segs), Some(segs))
    }

  /** Load a v3 root's entries from its segment files, in ref order. */
  private def resolveSegments(fs: FileSystem, p: Path,
      segs: SegBase): Seq[ManifestEntry] = {
    val dir = p.getParent
    // segments resolve in PARALLEL (same discipline as the stats
    // enricher): snapshot resolution at S segments is one round of
    // concurrent opens, not S sequential ones — order is restored by
    // concatenating in ref order
    import scala.collection.parallel.CollectionConverters._
    segs.refs.par.map { r =>
      readSegment(fs, new Path(dir, r.rel), r.count, p)
    }.seq.flatten
  }

  /** [[readRootAt]] with a cross-version SEGMENT memo: consecutive
    * manifests share almost all segment references (that is the point of
    * the format), so maintenance passes that read MANY versions — expire,
    * the orphan sweep — resolve each unique segment once instead of once
    * per version. The memo key is the segment rel (immutable uuid files:
    * same rel ⇒ same content). */
  private def readRootMemo(fs: FileSystem, p: Path,
      memo: scala.collection.mutable.Map[String, Seq[ManifestEntry]])
      : (Seq[ManifestEntry], Option[SegBase]) =
    readRootRaw(fs, p) match {
      case Left(entries) => (entries, None)
      case Right(segs) =>
        val dir = p.getParent
        val entries = segs.refs.flatMap { r =>
          memo.getOrElseUpdate(r.rel,
            readSegment(fs, new Path(dir, r.rel), r.count, p))
        }
        (entries, Some(segs))
    }

  /** Observability summary of one root, WITHOUT resolving segments:
    * (format, entry count, segment count, segment rels). Root-read only —
    * a v3 header carries its entry count, so this costs O(S) per version
    * regardless of table size. */
  private[sources] def rootSummary(fs: FileSystem, root: Path,
      v: Long): (String, Long, Long, Seq[String]) =
    readRootRaw(fs, manifestPath(root, v)) match {
      case Left(entries) => ("flat", entries.size.toLong, 0L, Nil)
      case Right(segs) =>
        ("segmented", segs.refs.map(_.count).sum, segs.refs.size.toLong,
          segs.refs.map(_.rel))
    }

  /** Force a fresh manifest layout: seal the CURRENT entries as a new
    * version with NO segment reuse, so the root re-buckets under the
    * current `graft.manifest.segmentTarget` (collapse after mass deletes,
    * re-segment after a target change, upgrade a big flat log to v3).
    * Pure metadata — zero data files move. */
  def rewriteManifests(fs: FileSystem, root: Path): Long = {
    val st = logState(fs, root)
    val latest = st.latest.getOrElse(throw new IllegalArgumentException(
      s"graft rewrite_manifests: $root has no versioned commits"))
    require(!st.barrier,
      s"graft rewrite_manifests: $root has a pending rewrite barrier — " +
        "its manifests are stale; run a versioned commit to heal first")
    val (entries, curSegs) = readRootAt(fs, manifestPath(root, latest))
    val newV = latest + 1
    // base carries the CURRENT segment table so the size hysteresis holds
    // (a log inside the stay-segmented band must not collapse to flat);
    // touched = None means NO segment is reusable — every segment of the
    // new root is freshly written, which is the whole point
    def attempt() = writeManifestCas(fs, root, newV, entries,
      base = curSegs, touched = None)
    var r = attempt()
    while (r == CasBusy) {
      awaitSeal(fs, root, newV)
      r = attempt()
    }
    if (r != CasSealed)
      throw new java.util.ConcurrentModificationException(
        s"graft rewrite_manifests: version v$newV of $root was sealed " +
          "concurrently; retry against the new latest")
    newV
  }

  /** The root WITHOUT segment resolution: flat entries (v1/v2) on the
    * left, an unresolved segment table (v3) on the right — so set-diff
    * consumers can cancel SHARED segment references (immutable uuid
    * files: same rel ⇒ same content) before loading anything. */
  private def readRootRaw(fs: FileSystem, p: Path)
      : Either[Seq[ManifestEntry], SegBase] = {
    // Manifests are PROMOTED via atomic rename (see writeManifestCas), so a
    // listed manifest is complete-on-visibility and this read normally
    // succeeds first try. The bounded retry below covers the two residual
    // local-FS races — the ChecksumFileSystem promotes data and .crc in two
    // renames (a reader between them can see a mismatched crc), and legacy
    // pre-claim-protocol manifests written create-then-write — plus real
    // on-disk truncation from a crashed LEGACY sealer, which falls out of
    // the loop to the loud error.
    var attempt = 0
    while (true) {
      // Retry ONLY on torn-state signals (checksum mismatch, EOF). Other
      // IOExceptions — permission/auth failures, a transient store outage —
      // are NOT torn seals and must surface as themselves: retrying them
      // into the "delete the manifest" error would invite an operator to
      // destroy a perfectly valid committed manifest.
      val content: String =
        try {
          val in = fs.open(p)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        } catch {
          case _: org.apache.hadoop.fs.ChecksumException => ""
          case _: java.io.EOFException => ""
        }
      val lines: Array[String] = content.split('\n')
      val raw = content
      val result: Option[Either[Seq[ManifestEntry], SegBase]] =
        if (lines.isEmpty) None
        else {
          def parse = lines.drop(1).toSeq.filter(_.nonEmpty).map(parseEntryLine)
          if (lines.head.startsWith(ManifestHeaderV3)) {
            // segmented root: `seg\t<sid>\t<rel>\t<count>` lines; the
            // entry count and the trailing newline gate torn seals exactly
            // like v2 (the root is rename-promoted, so this is belt and
            // braces for legacy-FS races only)
            lines.head.split(' ') match {
              case Array(_, _, nStr, sStr) if raw.endsWith("\n") &&
                  scala.util.Try(nStr.toLong).isSuccess &&
                  scala.util.Try(sStr.toInt).isSuccess =>
                val refs = lines.drop(1).toSeq.filter(_.nonEmpty).map { l =>
                  l.split('\t') match {
                    case Array("seg", sid, rel, cnt) =>
                      SegRef(sid.toInt, rel, cnt.toLong)
                    case _ => throw new IllegalStateException(
                      s"graft snapshot: malformed segment line in $p: '$l'")
                  }
                }
                if (refs.map(_.count).sum != nStr.toLong)
                  throw new IllegalStateException(
                    s"graft snapshot: $p declares ${nStr.toLong} entries " +
                      s"but its segments sum to ${refs.map(_.count).sum}")
                Some(Right(SegBase(sStr.toInt, refs)))
              case _ => None // torn v3 seal in progress (legacy FS)
            }
          } else if (lines.head.startsWith(ManifestHeaderV2)) {
            // complete iff the declared count matches AND the content ends
            // on a line boundary (a cut mid-line keeps the count but turns
            // the last rel into a silent prefix — the raw tail check
            // catches exactly that)
            val parsed = parse
            lines.head.split(' ') match {
              case Array(_, _, n) if scala.util.Try(n.toInt).toOption
                  .contains(parsed.size) && raw.endsWith("\n") =>
                Some(Left(parsed))
              case _ => None // torn v2 seal in progress
            }
          } else if (lines.head.startsWith(ManifestHeader)) {
            Some(Left(parse)) // legacy count-less manifest: trusted as written
          } else None
        }
      result match {
        case Some(es) => return es
        case None =>
          attempt += 1
          if (attempt >= 50) throw new IllegalStateException(
            s"graft snapshot: $p is torn or not a graft manifest after " +
              "1s of retries. Under the claim-protocol seal this state is " +
              "not produced by concurrency — VERIFY the file is actually " +
              "truncated (header count vs line count) before acting; if it " +
              "is, a legacy sealer crashed mid-write and deleting the torn " +
              "manifest releases the version number")
          Thread.sleep(20)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One segment file: rename-promoted like roots, so complete-on-
    * visibility; the count + trailing-newline check covers the same
    * legacy-FS races. A MISSING segment is a hard error naming the most
    * likely causes — segments referenced by a retained root are only ever
    * deleted by expire when no surviving manifest references them. */
  private def readSegment(fs: FileSystem, p: Path, count: Long,
      root: Path): Seq[ManifestEntry] = {
    var attempt = 0
    while (true) {
      if (!fs.exists(p)) throw new IllegalStateException(
        s"graft snapshot: segment $p referenced by $root is missing — " +
          "deleted by an over-eager manual sweep, or the snapshot was " +
          "expired while being read")
      val content: String =
        try {
          val in = fs.open(p)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        } catch {
          case _: org.apache.hadoop.fs.ChecksumException => ""
          case _: java.io.EOFException => ""
        }
      val lines = content.split('\n')
      if (lines.nonEmpty && lines.head.startsWith(SegmentHeader) &&
          content.endsWith("\n")) {
        val entries = lines.drop(1).toSeq.filter(_.nonEmpty).map(parseEntryLine)
        if (entries.size.toLong == count) return entries
      }
      attempt += 1
      if (attempt >= 50) throw new IllegalStateException(
        s"graft snapshot: segment $p of $root is torn or truncated " +
          s"(expected $count entries)")
      Thread.sleep(20)
    }
    throw new IllegalStateException("unreachable")
  }

  /** A commit in progress: the version it will seal and the predecessor
    * manifest it read at begin (None = the seal must walk — barrier pending
    * or no predecessor). Carrying the predecessor here deletes the second
    * `_graft_versions` listing and re-read the old begin/finish pair paid
    * on every statement and streaming epoch. */
  final case class PendingCommit(v: Long, prev: Option[Seq[ManifestEntry]],
      // declared auto-retention/-compaction captured at begin (name-encoded
      // in the versions listing) plus the pre-commit version count: the
      // seal triggers an expire only when the log has actually outgrown
      // keep; the append commit triggers compaction only on its own cells
      retention: Option[Int] = None, versionsSeen: Int = 0,
      compactMaxFiles: Option[Int] = None,
      // a WAP branch this commit targets: the seal goes to the branch's
      // own manifest chain, invisible to main readers until fast_forward
      branch: Option[String] = None,
      // the predecessor root's SEGMENT table when it is a v3 segmented
      // manifest — the seal reuses untouched segments by reference
      prevSegs: Option[SegBase] = None)

  /** Start a versioned commit. A world with data but no manifests first
    * gets a BASELINE v0 manifest of its pre-commit state, so the state a
    * pre-versioning world was in when versioning first touched it stays
    * addressable. `excludeFromBaseline`: chunk-relative files this commit
    * itself already placed in the live tree (plain appends write straight
    * to the grid before commit()), which therefore are not part of the
    * pre-commit state. `baseline = false` skips the v0 seal entirely — the
    * BARRIER-delegating commits (upsert → `World.insert`) must not promise
    * a pre-state their own rewrite is about to delete files out of. */
  def beginCommit(fs: FileSystem, root: Path,
      excludeFromBaseline: Set[String] = Set.empty,
      baseline: Boolean = true): PendingCommit = {
    val st = logState(fs, root)
    st.latest match {
      case Some(n) =>
        if (st.barrier)
          PendingCommit(n + 1, None, st.retentionKeep, st.versions.size,
            st.compactionMaxFiles)
        else {
          val (entries, segs) = readRootAt(fs, manifestPath(root, n))
          PendingCommit(n + 1, Some(entries), st.retentionKeep,
            st.versions.size, st.compactionMaxFiles, prevSegs = segs)
        }
      case None =>
        if (baseline) {
          // The v0 baseline is itself CAS'd: two concurrent FIRST commits
          // would otherwise both overwrite v0 with slightly different
          // pre-state walks (each excluding only its OWN staged files) and
          // a reader could catch the second write mid-flight. The winner's
          // baseline becomes everyone's predecessor.
          val base = GraftStats.enrich(fs, root, liveFileEntries(fs, root)
            .filterNot(e => excludeFromBaseline.contains(e.rel)))
          writeManifestCas(fs, root, 0L, base) match {
            case CasSealed =>
              PendingCommit(1L, Some(base), st.retentionKeep, 1,
                st.compactionMaxFiles,
                // refs-only: we already hold the entries (we wrote them);
                // only the just-sealed root's segment table is needed
                prevSegs = readRootRaw(fs, manifestPath(root, 0L)).toOption)
            case CasLost =>
              val (entries, segs) = readRootAt(fs, manifestPath(root, 0L))
              PendingCommit(1L, Some(entries),
                st.retentionKeep, 1, st.compactionMaxFiles, prevSegs = segs)
            case CasBusy =>
              awaitSeal(fs, root, 0L)
              beginCommit(fs, root, excludeFromBaseline, baseline)
          }
        } else PendingCommit(1L, None, st.retentionKeep, 0,
          st.compactionMaxFiles)
    }
  }

  /** Seal a commit: manifest(v) = predecessor − `removed` + `added`
    * (chunk-relative paths) — O(touched files), no file moves, no walk.
    * Falls back to a walk-based seal when the commit has no predecessor
    * manifest (first unbaselined commit, or a World-level barrier pending —
    * the walk is exact there because [[noteBarrier]] synced the tree, and
    * it HEALS the manifest line; `removed` is still honored so a barrier-
    * mode retire never resurrects). The manifest write is a CAS; on loss,
    * an add-only commit re-begins from the new latest and replays its
    * delta, a retiring commit aborts loudly (see the object doc). Clears
    * any barrier marker on success. Returns the sealed version. */
  def sealCommit(fs: FileSystem, root: Path, c0: PendingCommit,
      removed: Set[String], added: Seq[ManifestEntry]): Long = {
    var c = c0
    // zone-map capture: one footer read per NEW file, here and only here —
    // every write path (append, overwrite, COW, streaming epoch, regrid,
    // branch staging) seals through this function, so bounds coverage is
    // uniform and the CAS-loss replay below reuses the enriched entries
    // without re-reading any footer
    val enriched = GraftStats.enrich(fs, root, added)
    while (true) {
      val entries = (c.prev match {
        case Some(p) => p.filterNot(e => removed.contains(e.rel)) ++ enriched
        case None => liveFileEntries(fs, root)
          .filterNot(e => removed.contains(e.rel)) ++ enriched
      }).groupBy(_.rel)
        // duplicate rel (re-listed append): keep the larger, and on a size
        // tie the stats-carrying copy — a replay must not strip bounds
        .map { case (_, dup) =>
          dup.maxBy(e => (e.size, e.stats.size + e.sstats.size, e.rows)) }.toSeq
      val target = c.branch match {
        case Some(b) => branchManifestPath(root, b, c.v)
        case None    => manifestPath(root, c.v)
      }
      // segment reuse: only the removed and added/changed rels moved
      // relative to the predecessor this commit began from — every other
      // segment of a v3 predecessor carries over by reference (the walk
      // fallback has no trusted predecessor, so no reuse there)
      val touched =
        if (c.prev.isDefined) Some(removed ++ enriched.map(_.rel))
        else None
      writeManifestCasAt(fs, target, c.v, entries,
        base = if (c.prev.isDefined) c.prevSegs else None,
        touched = touched) match {
        case CasSealed =>
          if (c.branch.isEmpty) {
            fs.delete(barrierPath(root), false)
            // declared auto-retention: self-expire once the log outgrows
            // keep (versionsSeen + this seal; expire re-lists, so a stale
            // count only costs a no-op call, never over-expires). Branch
            // seals skip this — retention/compaction are main-log policies
            // applied when the branch publishes.
            c.retention.foreach { k =>
              if (c.versionsSeen + 1 > k) expire(fs, root, k)
            }
          }
          return c.v
        case CasBusy =>
          // another sealer holds the claim on this version: wait for its
          // manifest (or its death), then re-attempt — next round either
          // re-claims (claimer aborted) or takes the CasLost branch
          awaitSealAt(fs, target)
        case CasLost if removed.isEmpty =>
          // lost the CAS but we only add files: re-begin on the winner's
          // state and replay the delta (the winner's manifest becomes the
          // predecessor)
          c = c.branch match {
            case Some(b) => beginBranchCommit(fs, root, b)
            case None    => beginCommit(fs, root, baseline = false)
          }
        case CasLost => throw new java.util.ConcurrentModificationException(
          s"graft commit: version v${c.v} of $root was sealed by a " +
            "concurrent writer while this commit retired files against the " +
            "previous state — aborting rather than silently dropping either " +
            "commit's changes; retry the statement against the new latest " +
            "version")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private val BarrierName = "_barrier"
  private def barrierPath(root: Path): Path =
    new Path(new Path(root, VersionsDir), BarrierName)

  /** Called by World-level rewrites BEFORE they touch the tree: (1) SYNC
    * the physical tree to the latest manifest — manifest-only retirement
    * leaves superseded files in place, and a rewrite that reads/writes the
    * raw tree would resurrect them — by deleting every data file the
    * latest manifest does not list (this also heals crashed commits'
    * debris); (2) drop the barrier marker so live reads and the next seal
    * use the (now exact) physical walk. Old snapshots whose only copy of a
    * file the sync deletes fail loudly at resolve — the documented barrier
    * contract. Idempotent: with the marker already present the tree is
    * already physical-truth and nothing is deleted. */
  def noteBarrier(fs: FileSystem, root: Path): Unit = {
    val st = logState(fs, root)
    if (st.versions.isEmpty) return // nothing to invalidate
    if (!st.barrier) {
      // merge-on-read deletion vectors must not leak into the physical
      // tree the World rewrite is about to read raw — the deleted rows
      // would resurrect. Rewrite each dv'd file to a clean copy (same
      // cell, fresh name; EXECUTOR-SIDE, one task per file — the same
      // GraftDv.rewriteLive the delete cutover uses, so a vector-heavy
      // table's barrier never serializes through the driver) and seal the
      // swap as an ordinary versioned commit FIRST: the seal is atomic,
      // so a crash mid-materialize leaves only orphan-swept debris, never
      // a half-applied vector. Fully-deleted files simply retire.
      val latest0 = readEntries(fs, root, st.versions.last)
      val dvEntries = latest0.filter(_.dv.isDefined)
      if (dvEntries.nonEmpty) {
        val statsWanted = GraftStats.wantedOf(GraftStats.mode(fs, root))
        val jobs = dvEntries.map { e =>
          e.rel -> GraftDv.read(fs, new Path(root, e.dv.get._1)) }
        val cleaned = GraftDv.rewriteLive(
          org.apache.spark.sql.SparkSession.active, root, jobs, statsWanted)
        sealCommit(fs, root, beginCommit(fs, root),
          dvEntries.map(_.rel).toSet, cleaned)
      }
      val live = readManifest(fs, root,
          latestVersion(fs, root).getOrElse(st.versions.last)).toSet ++
        // branch-staged files survive a main-side rewrite barrier's sync
        listBranches(fs, root)
          .flatMap { case (b, _) => branchHeadEntries(fs, root, b).map(_.rel) }
      val emptied = scala.collection.mutable.Set[Path]()
      GraftDataSource.walkChunks(fs, root, Array.empty)
        .flatMap { case (d, _) => GraftDataSource.chunkFiles(fs, d) }
        .filterNot(f => live.contains(relOf(root, f)))
        .foreach { f => emptied += f.getParent; fs.delete(f, false) }
      emptied.foreach { d =>
        if (fs.exists(d) && fs.listStatus(d).isEmpty) {
          fs.delete(d, false)
          GraftStage.pruneEmptyParents(fs, d, root)
        }
      }
    }
    GraftHadoop.create(fs, barrierPath(root), overwrite = true).close()
  }

  /** Is a World-rewrite barrier pending (manifests stale until the next
    * versioned commit heals them)? Streaming readers degrade to file-set
    * offsets while this holds. */
  def hasBarrier(fs: FileSystem, root: Path): Boolean =
    fs.exists(barrierPath(root))

  /** Buckets of a chunk-relative path (`c0=3/c1=5/part-….parquet`). */
  def bucketsOf(rel: String): Map[String, Long] =
    rel.split('/').dropRight(1).toSeq.flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) if GraftDataSource.isBucket(k) => Some(k -> v.toLong)
        case _ => None
      }
    }.toMap

  /** The files of snapshot `v` surviving the pushed bucket filters, with
    * manifest-carried sizes. Files never move, so resolution is
    * `root/<rel>`; existence is verified only for rels the LATEST manifest
    * no longer lists (those are the retired ones retention or a barrier
    * could have deleted — live rels exist by invariant), with a loud error
    * naming the cause on a miss. */
  def snapshotFiles(fs: FileSystem, root: Path, v: Long,
      pushed: Array[Filter]): Seq[(Path, Map[String, Long], ManifestEntry)] =
    resolveRels(fs, root, readEntries(fs, root, v), v, pushed)

  /** The files present in version `target` but NOT in version `base` —
    * one side of a chunk-granular CHANGE FEED. Under the engine's
    * copy-on-write (the replace unit is the chunk), the manifest diff IS
    * the change set: no row-level tracking exists or is needed, and a
    * consumer doing incremental recompute wants exactly "which cells
    * changed" anyway. The diff key is (rel, dv): a merge-on-read DELETE
    * changes no rel but swaps the entry's deletion-vector reference, and
    * the feed must surface that file on both sides (each side read under
    * its OWN vector) or the delete would be invisible to CDC. */
  def diffFiles(fs: FileSystem, root: Path, base: Long, target: Long,
      pushed: Array[Filter]): Seq[(Path, Map[String, Long], ManifestEntry)] = {
    // SHARED segment references cancel before anything loads: segments are
    // immutable uuid files, so the same rel on both sides IS the same
    // entry set — a k-file commit's diff reads ~the touched segments, not
    // two full listings (the streaming CDC cursor runs this per epoch; at
    // a million-file world the full-read form was 2 x the whole manifest
    // per micro-batch). Anything not v3-vs-v3 falls back to full reads.
    val bp = manifestPath(root, base)
    val tp = manifestPath(root, target)
    Seq(base -> bp, target -> tp).foreach { case (v, p) =>
      if (!fs.exists(p)) readEntries(fs, root, v) // loud missing-version error
    }
    val (baseEntries, targetEntries) =
      (readRootRaw(fs, bp), readRootRaw(fs, tp)) match {
        case (Right(bs), Right(ts)) =>
          val shared = bs.refs.map(_.rel).toSet
            .intersect(ts.refs.map(_.rel).toSet)
          (resolveSegments(fs, bp, SegBase(bs.s,
              bs.refs.filterNot(r => shared(r.rel)))),
            resolveSegments(fs, tp, SegBase(ts.s,
              ts.refs.filterNot(r => shared(r.rel)))))
        case (b, t) =>
          (b.fold(identity, s => resolveSegments(fs, bp, s)),
            t.fold(identity, s => resolveSegments(fs, tp, s)))
      }
    val baseSet = baseEntries.map(e => (e.rel, e.dv)).toSet
    resolveRels(fs, root,
      targetEntries.filterNot(e => baseSet.contains((e.rel, e.dv))),
      target, pushed)
  }

  /** Manifest-`v` files NOT in `seenRels` — the streaming source's batch
    * body for a version-cursor end offset. With `seenRels` = manifest(base)
    * this is exactly [[diffFiles]]; the set form also serves mixed-regime
    * plans (file-set start, version end) during checkpoint upgrades and
    * barrier recoveries. */
  def newFilesSince(fs: FileSystem, root: Path, seenRels: Set[String],
      v: Long, pushed: Array[Filter]): Seq[(Path, Map[String, Long], ManifestEntry)] =
    resolveRels(fs, root,
      readEntries(fs, root, v).filterNot(e => seenRels.contains(e.rel)),
      v, pushed)

  private def resolveRels(fs: FileSystem, root: Path, rels: Seq[ManifestEntry],
      v: Long, pushed: Array[Filter]): Seq[(Path, Map[String, Long], ManifestEntry)] = {
    val st = logState(fs, root)
    // rels still listed by the latest manifest exist by invariant (barrier
    // voids the invariant — then every rel is probed); others are retired
    // copies that retention/expire or a barrier sync may have deleted
    val assumed: Set[String] =
      if (st.barrier) Set.empty
      else if (st.latest.contains(v)) rels.map(_.rel).toSet
      else st.latest.map(readManifest(fs, root, _).toSet).getOrElse(Set.empty)
    rels.map(e => (e, bucketsOf(e.rel)))
      .filter { case (_, b) => pushed.forall(GraftDataSource.evalOnBuckets(_, b)) }
      .map { case (e, b) =>
        val p = new Path(root, e.rel)
        if (!assumed.contains(e.rel) && !fs.exists(p))
          throw new IllegalStateException(
            s"graft snapshot v$v: ${e.rel} is no longer on disk — deleted by " +
              "retention (expire_versions) or by an unversioned World-level " +
              "rewrite (insert/destroy/update/compact are version barriers)")
        (p, b, e)
      }
  }

  // ---------------------------------------------------------------- claims
  // Rollback is the one seal that builds its root from a NON-latest source
  // (the rollback target), so the in-flight-commit safety argument — "a
  // sealer reuses only from the always-retained latest root" — does not
  // cover it: a concurrent expire_versions can drop the target version and
  // delete the data files / segments only dropped roots referenced, AFTER
  // rollback read them but BEFORE (or after) its seal — leaving the new
  // LATEST manifest pointing at deleted bytes (table unreadable). A claim
  // marker closes the race; the correctness argument is an ORDERING
  // discipline on both sides:
  //
  //   rollback: (1) write claim(target); (2) read target's root — the read
  //             doubles as the manifest-exists witness; (3) seal; (4) drop
  //             the claim.
  //   expire:   (a) list versions, compute victims; (b) delete dropped
  //             MANIFESTS; (c) read claims — STRICTLY AFTER (b); (d) spare
  //             every claimed dropped version's files and segments.
  //
  // Proof a successful rollback never loses a byte: suppose an expire E
  // deletes a file the sealed root references. E must have dropped
  // manifest(target) at step (b), at some time T_b. Rollback's read (2)
  // succeeded, so the manifest existed at T_read > T_claim. If T_b <
  // T_read the read would have failed (manifest deletion is permanent) —
  // so T_b > T_read > T_claim, hence E's claim read (c), which follows
  // (b), sees the claim and spares the files at (d). Contradiction. A
  // FAILED read at (2) aborts the rollback loudly with the table's latest
  // intact — the benign outcome. Crash debris (a claim whose rollback
  // died) is age-gated: expire ignores and sweeps claims older than the
  // TTL, so an abandoned claim pins bytes for at most one TTL window.
  private val ClaimsDirName = "claims"
  private def claimsDir(root: Path): Path =
    new Path(new Path(root, VersionsDir), ClaimsDirName)
  /** Claims older than this are crash debris: ignored and swept by expire.
    * A live rollback holds its claim for seconds (two manifest reads + one
    * write), so an hour is ~3 orders of magnitude of slack. */
  private def claimTtlMs: Long =
    java.lang.Long.getLong("graft.rollback.claimTtlMs", 60L * 60 * 1000)

  private[sources] def writeClaim(fs: FileSystem, root: Path, v: Long): Path = {
    val p = new Path(claimsDir(root), s"claim-v$v-${java.util.UUID.randomUUID()}")
    GraftHadoop.create(fs, p, overwrite = false).close()
    p
  }

  /** Live claimed versions; stale claims are swept as a side effect. */
  private[sources] def readClaims(fs: FileSystem, root: Path): Set[Long] = {
    val d = claimsDir(root)
    if (!fs.exists(d)) return Set.empty
    val now = System.currentTimeMillis()
    fs.listStatus(d).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (!n.startsWith("claim-v")) None
      else if (now - s.getModificationTime > claimTtlMs) {
        fs.delete(s.getPath, false); None
      } else scala.util.Try(
        n.stripPrefix("claim-v").takeWhile(_ != '-').toLong).toOption
    }.toSet
  }

  /** Restore the table to the state of `target`: seal a NEW version whose
    * manifest is exactly `target`'s (history is append-only — the
    * rolled-back states stay addressable). Pure metadata — zero file moves,
    * zero data reads; cost is two manifest reads and one write no matter
    * how many bytes the rollback "un-does". Fails loudly if any of the
    * target's files has since been deleted (retention / barrier). The
    * target is CLAIMED for the duration (see the claims protocol above) so
    * a concurrent expire cannot delete bytes the new root will reference;
    * [[fastForward]] needs no claim — its reuse source (the branch head)
    * is anchored at fork == latest, which every expire retains, and branch
    * manifests are not in the expirable version listing. */
  def rollback(fs: FileSystem, root: Path, target: Long): Long = {
    val claim = writeClaim(fs, root, target)
    try rollbackClaimed(fs, root, target, claim)
    finally fs.delete(claim, false)
  }

  /** A rollback stalled past claimTtlMs (slow object store, long GC pause)
    * has its claim swept as crash debris by a concurrent expire, which may
    * then delete the target's bytes — re-opening the unreadable-latest race
    * the claim protocol closes. Guard: immediately before EVERY seal
    * attempt, refresh the claim's mtime (restarting the TTL window for the
    * next stall) and abort loudly if the claim was already swept — a swept
    * claim means an expire may have run unprotected, so the only safe
    * outcome is the benign abort with the table's latest intact. */
  private def refreshClaimOrAbort(fs: FileSystem, root: Path, target: Long,
      claim: Path): Unit = {
    if (!fs.exists(claim))
      throw new IllegalStateException(
        s"graft rollback: claim on version $target of $root was swept " +
          s"(rollback stalled past the ${claimTtlMs / 1000}s claim TTL and a " +
          "concurrent expire_versions treated it as crash debris) — aborting " +
          "before seal; the table's latest version is unchanged. Retry the " +
          "rollback, or raise -Dgraft.rollback.claimTtlMs for slow stores")
    val now = System.currentTimeMillis()
    try fs.setTimes(claim, now, -1)
    catch { case _: UnsupportedOperationException => () } // exists-check still ran
  }

  private def rollbackClaimed(fs: FileSystem, root: Path, target: Long,
      claim: Path): Long = {
    val st = logState(fs, root)
    val latest = st.latest.getOrElse(
      throw new IllegalArgumentException(
        s"graft rollback: $root has no versioned commits"))
    require(!st.barrier,
      s"graft rollback: $root has a pending World-rewrite barrier — its " +
        "manifests are stale; run a versioned commit to heal, then roll back")
    val (targetEntries, targetSegs) = readRootAt(fs, manifestPath(root, target))
    val latestEntries = readEntries(fs, root, latest)
    val latestRels = latestEntries.map(_.rel).toSet
    (targetEntries.map(_.rel).filterNot(latestRels.contains) ++
        // the target's deletion-vector sidecars must survive too — a
        // restored entry naming a retention-deleted vector would fail at
        // every read of that file
        (GraftDv.relsOf(targetEntries) -- GraftDv.relsOf(latestEntries)))
      .foreach { rel =>
        if (!fs.exists(new Path(root, rel)))
          throw new IllegalStateException(
            s"graft rollback: $rel of version $target is no longer on disk — " +
              "deleted by retention, or superseded by an unversioned " +
              "World-level rewrite")
      }
    val newV = latest + 1
    // the new root's content IS the target's: a v3 target's segments are
    // reused wholesale (touched = nothing) — rollback writes one tiny root
    refreshClaimOrAbort(fs, root, target, claim)
    var r = writeManifestCas(fs, root, newV, targetEntries,
      base = targetSegs, touched = Some(Set.empty))
    while (r == CasBusy) { // in-flight sealer: wait it out, then re-judge
      awaitSeal(fs, root, newV)
      refreshClaimOrAbort(fs, root, target, claim)
      r = writeManifestCas(fs, root, newV, targetEntries,
        base = targetSegs, touched = Some(Set.empty))
    }
    if (r != CasSealed)
      throw new java.util.ConcurrentModificationException(
        s"graft rollback: version v$newV of $root was sealed concurrently")
    newV
  }

  /** Retention: keep the newest `keep` manifests (tagged versions are
    * retained past the window — the point of a tag); drop older manifests
    * and DELETE the data files only the dropped manifests referenced (the
    * vacuum that reclaims retired-in-place bytes; under manifest-only
    * liveness this is where superseded files actually die). Manifests are
    * dropped before their exclusive files, so a crash mid-expire leaves
    * unreferenced files (orphans, swept later) rather than manifests
    * pointing at nothing. Returns the number of expired manifests. */
  def expire(fs: FileSystem, root: Path, keep: Int): Long = {
    require(keep >= 1, "graft expire_versions: keep must be >= 1")
    val st = logState(fs, root)
    val versions = st.versions
    if (versions.size <= keep) return 0L
    val keepSet = versions.takeRight(keep).toSet ++
      listTags(fs, root).map(_._2).filter(versions.contains) ++
      // a live branch pins its FORK version: expiring it would delete the
      // pre-branch copies of files the branch head still references
      listBranches(fs, root).map(_._2).filter(versions.contains)
    val dropped = versions.filterNot(keepSet.contains)
    // consecutive manifests share most segments: resolve each unique
    // segment once across every version this pass reads
    val memo = scala.collection.mutable.Map.empty[String, Seq[ManifestEntry]]
    val keptRoots = keepSet.toSeq.map(v => readRootMemo(fs, manifestPath(root, v), memo))
    val droppedRoots = dropped.map(v => readRootMemo(fs, manifestPath(root, v), memo))
    val keptEntries = keptRoots.flatMap(_._1)
    val droppedEntries = droppedRoots.flatMap(_._1)
    val victims: Set[String] =
      droppedEntries.map(_.rel).toSet -- keptEntries.map(_.rel).toSet
    // deletion-vector sidecars die with the last manifest naming them —
    // same liveness rule as the data files, separate namespace (_graft_dv)
    val dvVictims: Set[String] =
      GraftDv.relsOf(droppedEntries) -- GraftDv.relsOf(keptEntries)
    dropped.foreach(v => fs.delete(manifestPath(root, v), false))
    // claims are read STRICTLY AFTER the manifest drops — that ordering is
    // the rollback-vs-expire correctness proof (see the claims protocol at
    // [[rollback]]): a rollback whose target-root read succeeded wrote its
    // claim before that read, and the read preceded any manifest drop that
    // could threaten it, so this later claim read is guaranteed to see it
    // while the rollback is IN FLIGHT. A rollback that already SEALED (and
    // so may have dropped its claim) is covered by the re-listing below:
    // its new version is in the log now, and everything a version sealed
    // since this pass's first listing references is spared too. Together
    // the two cases close the race for any expire/rollback interleaving
    // (claimed-but-unsealed -> claim; sealed -> re-list). Spared bytes
    // re-enter liveness through the rollback's sealed manifest; if the
    // rollback instead aborted, they are unreferenced debris for the
    // age-gated orphan sweep — never a manifest pointing at nothing.
    val claimed = readClaims(fs, root).intersect(dropped.toSet)
    val claimedRoots =
      dropped.zip(droppedRoots).collect { case (v, r) if claimed(v) => r }
    val sealedSince = logState(fs, root).versions.filter(_ > versions.last)
    val protectedRoots = claimedRoots ++
      sealedSince.map(v => readRootMemo(fs, manifestPath(root, v), memo))
    val protectedEntries = protectedRoots.flatMap(_._1)
    val spared: Set[String] =
      protectedEntries.map(_.rel).toSet ++ GraftDv.relsOf(protectedEntries)
    // the vacuum is the one maintenance step whose victim count scales
    // with churn (every retired-in-place byte dies here): deletes issue
    // CONCURRENTLY (same discipline as segment resolution), the emptied
    // parent dirs collected thread-safely for the sequential sweep below
    val emptied = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]();
    locally {
      import scala.collection.parallel.CollectionConverters._
      ((victims ++ dvVictims) -- spared).toSeq.par.foreach { rel =>
        val f = new Path(root, rel)
        if (fs.exists(f)) { emptied.add(f.getParent); fs.delete(f, false) }
      }
    }
    emptied.forEach { d =>
      if (fs.exists(d) && fs.listStatus(d).isEmpty) {
        fs.delete(d, false)
        GraftStage.pruneEmptyParents(fs, d, root)
      }
    }
    // v3 SEGMENT liveness: a segment referenced only by dropped roots dies
    // with them; one referenced by ANY surviving manifest — retained main
    // versions or live BRANCH heads — survives. Only segments the dropped
    // roots actually referenced are candidates, so an in-flight commit's
    // freshly-written (not-yet-referenced) segments are untouchable here
    // by construction; crashed-commit segment debris falls to the
    // age-gated orphan sweep instead.
    val droppedSegs = droppedRoots.flatMap(_._2).flatMap(_.refs).map(_.rel).toSet
    if (droppedSegs.nonEmpty) {
      val keptSegs = keptRoots.flatMap(_._2).flatMap(_.refs).map(_.rel).toSet ++
        // claimed dropped versions' segments survive with their files —
        // an in-flight rollback will seal a root referencing them
        protectedRoots.flatMap(_._2).flatMap(_.refs).map(_.rel).toSet ++
        listBranches(fs, root).flatMap { case (b, _) =>
          branchVersions(fs, root, b).flatMap(k =>
            // refs-only read: the branch root's SEGMENT TABLE is all this
            // needs — resolving its entries would re-read every segment
            readRootRaw(fs, branchManifestPath(root, b, k))
              .toSeq.flatMap(_.refs).map(_.rel))
        }
      val vdir = new Path(root, VersionsDir)
      (droppedSegs -- keptSegs).foreach { rel =>
        fs.delete(new Path(vdir, rel), false)
      }
    }
    dropped.size.toLong
  }

  /** Live chunk files NO retained manifest references, older than
    * `olderThanMs` — crashed-commit debris: a task that moved its files
    * into the live tree before the driver died never got its manifest
    * sealed, so the bytes sit in cells forever, invisible to
    * manifest-planned reads but billed and walked (stage-dir debris has its
    * own sweeper, clean_stages). The age bound keeps an in-flight commit's
    * just-moved files safe — they enter the live tree moments before their
    * manifest seals. Refuses unversioned worlds (no commit log = no way to
    * tell an orphan from data) and barrier-pending worlds (manifests are
    * stale until the next walk-based seal; sweeping against them would
    * delete legitimate post-rewrite files).
    *
    * Driver-memory bound: the reference set is the UNION of retained
    * manifests' rels — O(distinct files across retained versions), i.e. the
    * live file count plus not-yet-expired retired files, NOT O(versions ×
    * files): consecutive manifests share almost all entries and the Set
    * dedupes them as the fold streams version by version. At the 100k-chunk
    * design point that is a few tens of MB of strings — the same order as
    * the walk's own listing. */
  def orphanFiles(fs: FileSystem, root: Path, olderThanMs: Long): Seq[Path] = {
    val st = logState(fs, root)
    require(st.versions.nonEmpty,
      s"graft remove_orphans: $root has no version log — an unversioned " +
        "world has no commit record to distinguish orphans from data")
    require(!st.barrier,
      s"graft remove_orphans: $root has a pending rewrite barrier — its " +
        "manifests are stale until the next write seals a walk-based " +
        "version; sweep after that write")
    val referenced = scala.collection.mutable.HashSet.empty[String]
    val refSegs = scala.collection.mutable.HashSet.empty[String]
    // consecutive manifests share most segments: one read per unique segment
    val memo = scala.collection.mutable.Map.empty[String, Seq[ManifestEntry]]
    st.versions.foreach { v =>
      val (es, segs) = readRootMemo(fs, manifestPath(root, v), memo)
      es.foreach { e =>
        referenced += e.rel
        e.dv.foreach(referenced += _._1)
      }
      segs.foreach(_.refs.foreach(refSegs += _.rel))
    }
    // staged-but-unpublished branch files are LIVE (branch readers and the
    // eventual fast_forward reference them), not debris. EVERY branch
    // manifest's segments are live too (resume/rollback within the branch
    // chain reads them).
    listBranches(fs, root).foreach { case (b, _) =>
      branchHeadEntries(fs, root, b).foreach { e =>
        referenced += e.rel
        e.dv.foreach(referenced += _._1)
      }
      branchVersions(fs, root, b).foreach(k =>
        // refs-only: entries of non-head branch roots are not needed here
        readRootRaw(fs, branchManifestPath(root, b, k))
          .foreach(_.refs.foreach(refSegs += _.rel)))
    }
    val cutoff = System.currentTimeMillis() - olderThanMs
    // crashed DELETE commits leave dv sidecars no manifest ever sealed —
    // same debris class as in-place data files, swept by the same age rule
    val dvDir = GraftDv.dirOf(root)
    val dvDebris =
      if (!fs.exists(dvDir)) Seq.empty
      else fs.listStatus(dvDir).toSeq.filter(s => s.isFile &&
        s.getModificationTime < cutoff &&
        !referenced.contains(relOf(root, s.getPath))).map(_.getPath)
    // crashed or CAS-lost commits leave SEGMENT files no root ever sealed
    // (segments are uuid-named and written before the root CAS) — same
    // age-gated rule; an in-flight commit's fresh segments are younger
    // than any sane cutoff
    val segsDirP = new Path(new Path(root, VersionsDir), SegsDirName)
    val segDebris =
      if (!fs.exists(segsDirP)) Seq.empty
      else fs.listStatus(segsDirP).toSeq.filter(s => s.isFile &&
        s.getModificationTime < cutoff &&
        !refSegs.contains(s"$SegsDirName/${s.getPath.getName}")).map(_.getPath)
    GraftDataSource.walkChunks(fs, root, Array.empty)
      .flatMap { case (d, _) => GraftDataSource.chunkFileStatuses(fs, d) }
      .filter(st => st.getModificationTime < cutoff &&
        !referenced.contains(relOf(root, st.getPath)))
      .map(_.getPath) ++ dvDebris ++ segDebris
  }

  // --- named version refs ("tags"): human-handles into the commit log,
  // stored as one tiny file each beside the manifests. A tag pins its
  // version against retention (see expire). Immutable states only — the
  // mutable-branch analog is just the live table.
  private val TagPrefix = "tag-"
  private val TagName = java.util.regex.Pattern.compile("[A-Za-z][A-Za-z0-9._-]*")
  private def tagPath(root: Path, name: String): Path =
    new Path(new Path(root, VersionsDir), s"$TagPrefix$name")

  def setTag(fs: FileSystem, root: Path, name: String, v: Long): Unit = {
    require(TagName.matcher(name).matches(),
      s"graft tag: name '$name' must match [A-Za-z][A-Za-z0-9._-]*")
    readManifest(fs, root, v) // tag only committed, retained versions
    val out = GraftHadoop.create(fs, tagPath(root, name), overwrite = true)
    out.write(s"$v\n".getBytes("UTF-8"))
    out.close()
  }

  def readTag(fs: FileSystem, root: Path, name: String): Option[Long] = {
    val p = tagPath(root, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = new String(in.readAllBytes(), "UTF-8").trim
      in.close()
      Some(s.toLong)
    }
  }

  def listTags(fs: FileSystem, root: Path): Seq[(String, Long)] =
    logState(fs, root).tagNames
      .flatMap(n => readTag(fs, root, n).map(n -> _)).sortBy(_._1)

  def dropTag(fs: FileSystem, root: Path, name: String): Boolean =
    fs.delete(tagPath(root, name), false)

  // --- writable BRANCHES (write-audit-publish): a named MUTABLE head
  // beside the immutable tags. The marker `branch-<name>` records the FORK
  // version (the main commit the branch is based on); branch commits seal
  // their own manifest chain `b-<name>-v<k>.manifest` through the same
  // claim-protocol CAS, INVISIBLE to main readers (logState collects only
  // `v<N>.manifest`). The WAP cycle: `branch` forks, staged commits land
  // on the branch (validated by the same CHECK/quality gates as any
  // write), `fast_forward` publishes the branch head as main's next
  // version — metadata only, zero file moves, refused loudly if main
  // advanced since the fork — and an abandoned branch is `drop_branch`ed,
  // its exclusive files reclaimed by the orphan sweep.
  private val BranchPrefix = "branch-"
  private def branchMarkerPath(root: Path, name: String): Path =
    new Path(new Path(root, VersionsDir), s"$BranchPrefix$name")
  private def branchManifestPath(root: Path, name: String, k: Long): Path =
    new Path(new Path(root, VersionsDir), s"b-$name-v$k$ManifestSuffix")

  /** Fork a branch at the latest main commit. Refuses under a pending
    * barrier (manifests stale) and on an unversioned world. */
  def createBranch(fs: FileSystem, root: Path, name: String): Long = {
    require(TagName.matcher(name).matches(),
      s"graft branch: name '$name' must match [A-Za-z][A-Za-z0-9._-]*")
    val st = logState(fs, root)
    require(!st.barrier,
      s"graft branch: $root has a pending rewrite barrier — commit first")
    val latest = st.latest.getOrElse(throw new IllegalArgumentException(
      s"graft branch: $root has no versioned commits to fork from"))
    require(branchFork(fs, root, name).isEmpty,
      s"graft branch: '$name' already exists")
    val out = GraftHadoop.create(fs, branchMarkerPath(root, name), overwrite = true)
    out.write(s"$latest\n".getBytes("UTF-8")); out.close()
    latest
  }

  /** The main version branch `name` forked from, if the branch exists. */
  def branchFork(fs: FileSystem, root: Path, name: String): Option[Long] = {
    val p = branchMarkerPath(root, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val t = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      Some(t.toLong)
    }
  }

  def listBranches(fs: FileSystem, root: Path): Seq[(String, Long)] = {
    val dir = new Path(root, VersionsDir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(BranchPrefix))
      .map(_.getPath.getName.stripPrefix(BranchPrefix))
      .flatMap(n => branchFork(fs, root, n).map(n -> _)).sortBy(_._1)
  }

  /** Sealed branch-commit numbers of `name`, ascending (empty = no commits
    * since the fork). */
  def branchVersions(fs: FileSystem, root: Path, name: String): Seq[Long] = {
    val dir = new Path(root, VersionsDir)
    val prefix = s"b-$name-v"
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(ManifestSuffix))
      .flatMap(n => scala.util.Try(
        n.stripPrefix(prefix).stripSuffix(ManifestSuffix).toLong).toOption)
      .sorted
  }

  /** The branch head's live-file entries: its newest branch manifest, or
    * the fork manifest when the branch has no commits yet. */
  def branchHeadEntries(fs: FileSystem, root: Path,
      name: String): Seq[ManifestEntry] =
    branchHeadRoot(fs, root, name)._1

  /** [[branchHeadEntries]] plus the head root's segment table (branch
    * manifests segment exactly like main ones). */
  private def branchHeadRoot(fs: FileSystem, root: Path,
      name: String): (Seq[ManifestEntry], Option[SegBase]) = {
    val fork = branchFork(fs, root, name).getOrElse(
      throw new IllegalArgumentException(
        s"graft: no branch '$name' of $root " +
          s"(branches: ${listBranches(fs, root).map(_._1).mkString(", ")})"))
    branchVersions(fs, root, name).lastOption match {
      case Some(k) => readRootAt(fs, branchManifestPath(root, name, k))
      case None    => readRootAt(fs, manifestPath(root, fork))
    }
  }

  /** Start a commit against branch `name`'s head. */
  def beginBranchCommit(fs: FileSystem, root: Path,
      name: String): PendingCommit = {
    require(!hasBarrier(fs, root),
      s"graft branch commit: $root has a pending rewrite barrier")
    val next = branchVersions(fs, root, name).lastOption.getOrElse(0L) + 1
    val (entries, segs) = branchHeadRoot(fs, root, name)
    PendingCommit(next, Some(entries), branch = Some(name), prevSegs = segs)
  }

  /** Publish: seal main's next version with the branch head's entries —
    * pure metadata (the staged files are already in place) — then drop the
    * branch. Refused when main advanced past the fork (the branch's view
    * of retired files would silently undo the interleaved commits); the
    * remedy is re-staging on a fresh branch. */
  def fastForward(fs: FileSystem, root: Path, name: String): Long = {
    val st = logState(fs, root)
    require(!st.barrier,
      s"graft fast_forward: $root has a pending rewrite barrier")
    val fork = branchFork(fs, root, name).getOrElse(
      throw new IllegalArgumentException(s"graft: no branch '$name' of $root"))
    val latest = st.latest.getOrElse(0L)
    if (latest != fork)
      throw new java.util.ConcurrentModificationException(
        s"graft fast_forward: main advanced v$fork -> v$latest since branch " +
          s"'$name' forked — publishing would drop those commits; re-stage " +
          "on a fresh branch")
    val (entries, headSegs) = branchHeadRoot(fs, root, name)
    val newV = latest + 1
    // pure metadata: a v3 branch head's segments publish by reference
    var r = writeManifestCasAt(fs, manifestPath(root, newV), newV, entries,
      base = headSegs, touched = Some(Set.empty))
    while (r == CasBusy) {
      awaitSeal(fs, root, newV)
      r = writeManifestCasAt(fs, manifestPath(root, newV), newV, entries,
        base = headSegs, touched = Some(Set.empty))
    }
    if (r != CasSealed)
      throw new java.util.ConcurrentModificationException(
        s"graft fast_forward: version v$newV of $root was sealed concurrently")
    dropBranch(fs, root, name)
    newV
  }

  /** CROSS-TABLE atomic publish: fast-forward branch `name` on EVERY
    * given table, all-or-nothing — the WAP cycle's missing piece for a
    * multi-table pipeline (corpus + its indexes + its MVs) that must go
    * live together. Two phases:
    *
    *   1. VALIDATE + CLAIM: every table's branch/fork state is checked
    *      (main advanced past a fork, missing branch, pending barrier →
    *      abort) and every table's next main version is CLAIMED with the
    *      same create-exclusive arbiter [[sealCommit]] uses. Any failure
    *      here — including a claim already held by a concurrent sealer —
    *      RELEASES the claims taken so far and aborts with NO main
    *      changed: the all-or-nothing property a mid-cycle validation
    *      failure must keep.
    *   2. INTEND + PROMOTE: once every claim is held, each table records a
    *      durable PUBLISH INTENT (`pubintent-<branch>` beside its
    *      manifests, naming the target version), then each table's
    *      branch-head entries seal as its next main manifest (tmp + atomic
    *      rename under the held claim), then the branches and intents
    *      drop. Phase 2 performs no validation — every abortable condition
    *      was consumed in phase 1 — and a CRASH between two promotes is
    *      RECOVERABLE: the next publish of the same branch finds the
    *      intents and RESUMES, promoting exactly the tables whose target
    *      version is still unsealed (their branch manifests survive until
    *      the cycle completes), so the half-published window converges to
    *      fully-published instead of needing manual repair. On
    *      conditional-PUT stores there is no claim primitive, so phase 1
    *      is validation-only and each promote is its own conditional PUT —
    *      cross-table atomicity there needs an external coordinator and is
    *      documented best-effort.
    *
    * `failpoint` is a fault-injection hook (tests only): invoked as
    * (phase, tableIndex) before each claim ("claim"), intent ("intent"),
    * and promote ("promote"). Returns the sealed versions, in table
    * order. */
  def fastForwardAll(tables: Seq[(FileSystem, Path)], name: String,
      failpoint: (String, Int) => Unit = (_, _) => ()): Seq[Long] = {
    require(tables.nonEmpty, "graft publish: no tables")
    final case class Plan(fs: FileSystem, root: Path, newV: Long,
      entries: Seq[ManifestEntry], claims: Boolean, resumed: Boolean,
      segs: Option[SegBase] = None)
    // phase 1a: validate everything before touching anything. A table
    // carrying a publish intent for this branch is a crashed cycle's
    // survivor: its commitment already happened, so it re-enters in resume
    // mode (fork validation would wrongly fail for its already-promoted
    // siblings) — promoted-but-undropped tables just finish their cleanup.
    val plans = tables.map { case (fs, root) =>
      val cap = casCapability(fs, root) != ConditionalPutCap
      readPublishIntent(fs, root, name) match {
        case Some(v) =>
          val (hes, hsegs) = branchHeadEntriesOrSealed(fs, root, name, v)
          Plan(fs, root, v, hes, cap, resumed = true, segs = hsegs)
        case None =>
          val st = logState(fs, root)
          require(!st.barrier,
            s"graft publish: $root has a pending rewrite barrier")
          val fork = branchFork(fs, root, name).getOrElse(
            throw new IllegalArgumentException(
              s"graft publish: no branch '$name' of $root"))
          val latest = st.latest.getOrElse(0L)
          if (latest != fork)
            throw new java.util.ConcurrentModificationException(
              s"graft publish: main of $root advanced v$fork -> v$latest " +
                s"since branch '$name' forked — aborting the WHOLE publish " +
                "(no table was changed); re-stage on a fresh branch")
          val (hes, hsegs) = branchHeadRoot(fs, root, name)
          Plan(fs, root, latest + 1, hes, cap, resumed = false, segs = hsegs)
      }
    }
    // phase 1b: claim every UNSEALED target version (all-or-nothing
    // arbitration; a resumed table whose promote already landed needs none)
    val held = scala.collection.mutable.ListBuffer.empty[(FileSystem, Path)]
    def releaseClaims(): Unit = {
      held.foreach { case (fs, c) =>
        try fs.delete(c, false)
        catch { case scala.util.control.NonFatal(_) => }
      }
      held.clear()
    }
    try {
      plans.zipWithIndex.foreach { case (pl, i) =>
        failpoint("claim", i)
        val target = manifestPath(pl.root, pl.newV)
        if (pl.claims && !fs2exists(pl.fs, target)) {
          // a crashed cycle's own stale claim on the target is released
          // first — the claimer is this same publish, resumed
          if (pl.resumed) pl.fs.delete(claimOf(target), false)
          if (!createExclusive(pl.fs, claimOf(target)))
            throw new java.util.ConcurrentModificationException(
              s"graft publish: v${pl.newV} of ${pl.root} is being sealed by " +
                "a concurrent writer — aborting the whole publish (no main " +
                "was changed); retry once it settles")
          held += ((pl.fs, claimOf(target)))
        }
      }
      // phase 1c: durable intents — from here the cycle COMPLETES (this
      // run, or a later resume) rather than aborts
      plans.zipWithIndex.foreach { case (pl, i) =>
        failpoint("intent", i)
        writePublishIntent(pl.fs, pl.root, name, pl.newV)
      }
      // phase 2: promote all — no validation left that could abort
      plans.zipWithIndex.foreach { case (pl, i) =>
        failpoint("promote", i)
        val target = manifestPath(pl.root, pl.newV)
        if (fs2exists(pl.fs, target)) {
          // resumed table whose target is sealed: normally this cycle's
          // own pre-crash promote — but a normal commit racing into the
          // same version number between crash and resume would masquerade
          // as it, so the sealed content must BE the branch head
          if (pl.resumed && branchFork(pl.fs, pl.root, name).isDefined) {
            val sealedNow = readEntries(pl.fs, pl.root, pl.newV)
              .map(e => (e.rel, e.dv)).toSet
            if (sealedNow != pl.entries.map(e => (e.rel, e.dv)).toSet)
              throw new java.util.ConcurrentModificationException(
                s"graft publish: resuming branch '$name' on ${pl.root}, but " +
                  s"v${pl.newV} was sealed by an UNRELATED commit after the " +
                  "crashed cycle — the staged state is still on the branch; " +
                  "re-stage or fast-forward it manually, then drop the " +
                  "pubintent marker")
          }
        } else if (pl.claims) {
          val tmp = new Path(target.getParent,
            s".tmp-${java.util.UUID.randomUUID()}")
          val out = GraftHadoop.create(pl.fs, tmp, overwrite = true)
          // segment-aware: a v3 branch head publishes by reference
          out.write(buildRootBytes(pl.fs, target, pl.newV, pl.entries,
            pl.segs, Some(Set.empty)))
          out.close()
          if (!pl.fs.rename(tmp, target)) {
            pl.fs.delete(tmp, false)
            throw new IllegalStateException(
              s"graft publish: promote of $target failed under a held claim")
          }
        } else if (conditionalPut(pl.fs, target, buildRootBytes(pl.fs, target,
            pl.newV, pl.entries, pl.segs, Some(Set.empty))) != CasSealed)
          throw new java.util.ConcurrentModificationException(
            s"graft publish: v${pl.newV} of ${pl.root} was sealed concurrently")
      }
      plans.foreach { pl =>
        dropBranch(pl.fs, pl.root, name)
        pl.fs.delete(publishIntentPath(pl.root, name), false)
      }
      plans.map(_.newV)
    } finally releaseClaims()
  }

  private def publishIntentPath(root: Path, name: String): Path =
    new Path(new Path(root, VersionsDir), s"pubintent-$name")

  private def writePublishIntent(fs: FileSystem, root: Path, name: String,
      v: Long): Unit = {
    val out = GraftHadoop.create(fs, publishIntentPath(root, name), overwrite = true)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
  }

  /** The target version a crashed publish of branch `name` committed this
    * table to, if an intent marker survives. */
  def readPublishIntent(fs: FileSystem, root: Path,
      name: String): Option[Long] = {
    val p = publishIntentPath(root, name)
    if (!fs2exists(fs, p)) None
    else {
      val in = fs.open(p)
      val t = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      Some(t.toLong)
    }
  }

  /** A resumed table's publish content: its branch head when the branch
    * still exists (promote pending), else the already-sealed target
    * manifest (promote landed, cleanup pending). */
  private def branchHeadEntriesOrSealed(fs: FileSystem, root: Path,
      name: String, v: Long): (Seq[ManifestEntry], Option[SegBase]) =
    if (branchFork(fs, root, name).isDefined) branchHeadRoot(fs, root, name)
    else readRootAt(fs, manifestPath(root, v))

  private def fs2exists(fs: FileSystem, p: Path): Boolean =
    try fs.exists(p) catch { case scala.util.control.NonFatal(_) => false }

  /** Abandon a branch: marker and branch manifests go; files only branch
    * commits referenced become unreferenced and fall to the orphan sweep. */
  def dropBranch(fs: FileSystem, root: Path, name: String): Boolean = {
    val existed = fs.delete(branchMarkerPath(root, name), false)
    branchVersions(fs, root, name).foreach(k =>
      fs.delete(branchManifestPath(root, name, k), false))
    existed
  }

  /** A VERSION AS OF / graft.snapshot operand: a commit number, or a tag
    * name resolved through the tag files. */
  def resolveVersion(fs: FileSystem, root: Path, spec: String): Long =
    try spec.toLong
    catch {
      case _: NumberFormatException =>
        readTag(fs, root, spec).getOrElse(throw new IllegalArgumentException(
          s"graft: '$spec' is neither a commit version nor a tag of $root " +
            s"(tags: ${listTags(fs, root).map(_._1).mkString(", ")})"))
    }
}

/** Chunk-granular CHANGE FEED between two committed versions — the
  * incremental-recompute primitive a large pipeline runs on ("which cells
  * changed since my last run?"). Computed purely from the commit log: the
  * manifest diff lists exactly the files each side gained, and under
  * manifest-only liveness both sides' bytes are still in place until
  * retention deletes them, so no row-level change tracking exists or is
  * needed.
  *
  * Granularity contract: the engine's replace unit is the CHUNK (every
  * rewrite stages whole cells — the reference's `write_chunk` semantics),
  * so an UPDATE touching one row of a cell reports the cell's rows on
  * BOTH sides (its old file as `delete`, its replacement as `insert`).
  * That is the honest unit for incremental consumption over this layout:
  * a downstream job re-derives the changed cells and touches nothing
  * else. Row-exact deltas, when needed, are one `except`/join over the
  * two sides — which Spark then computes over only the changed cells.
  */
object GraftChanges {
  /** All rows added and removed between `base` and `target` (both
    * committed versions of the world at `path`), tagged by a
    * `_change_type` column (`insert` = rows of files present in `target`
    * only, `delete` = rows of files present in `base` only). Bucket
    * predicates on the result prune the pinned file lists exactly like
    * any other pinned read. */
  def between(spark: org.apache.spark.sql.SparkSession, path: String,
      base: Long, target: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    def side(b: Long, t: Long, tag: String) =
      spark.read.format("graft").option("graft.changes", s"$b,$t").load(path)
        .withColumn("_change_type", lit(tag))
    side(base, target, "insert").unionByName(side(target, base, "delete"))
  }

  /** ROW-LEVEL NET changes between two versions: [[between]] is
    * chunk-granular by the engine's replace-unit contract — a one-row
    * UPDATE surfaces its whole cell on both sides — so consumers that want
    * "only the rows that actually changed" take the MULTISET difference of
    * the two sides (`EXCEPT ALL` each way: one shuffle over the changed
    * cells only, duplicate rows preserved with correct multiplicity).
    * `delete` rows are true before-images that vanished; `insert` rows are
    * values that genuinely appeared. A row rewritten with identical values
    * cancels out entirely. */
  def netBetween(spark: org.apache.spark.sql.SparkSession, path: String,
      base: Long, target: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    val feed = between(spark, path, base, target)
    val ins = feed.where(feed("_change_type") === "insert").drop("_change_type")
    val del = feed.where(feed("_change_type") === "delete").drop("_change_type")
    ins.exceptAll(del).withColumn("_change_type", lit("insert"))
      .unionByName(del.exceptAll(ins).withColumn("_change_type", lit("delete")))
  }
}
