package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Streaming read side of the graft connector: the world's chunk grid as a
  * micro-batch source, with the SAME bucket-predicate directory pruning the
  * batch scan does — chunks excluded by pushed `c_i` filters are never even
  * listed into an offset. The batch analog of `World.stream` (which goes
  * through Spark's generic file stream source and cannot prune by bucket).
  *
  * Two offset regimes, chosen per `latestOffset` call from the table's
  * commit-log state:
  *
  *   - VERSION CURSOR (`{"graftVersion":N}`) — whenever the table has a
  *     sealed version manifest and no pending World-rewrite barrier. The
  *     offset is ONE number; a batch (a, b] is the manifest diff, i.e.
  *     exactly the files commits a+1..b added (the chunk-granular change
  *     feed). This is the 100-TB shape on every axis the file-set regime
  *     fails: `latestOffset` reads a directory of manifest names instead of
  *     walking the grid (a 100k-chunk walk per trigger IS the trigger
  *     cost); the checkpoint offset log stays O(1) per batch instead of
  *     O(grid) (Spark persists every offset — a million-file set serialized
  *     each epoch is the checkpoint's death); and batches bind to SEALED
  *     commits only, so a multi-file commit can never tear across batches
  *     the way a mid-rename listing can. Files are resolved through the
  *     snapshot machinery: a lagging consumer whose cursor version has
  *     since been superseded still reads that commit's exact bytes —
  *     manifest-only retirement leaves superseded files IN PLACE until
  *     retention deletes them (retention must keep >= the stream's lag;
  *     resolution raises a loud error otherwise).
  *   - FILE SET (`["path",…]`, the pre-versioning format) — tables with no
  *     commit log, and tables whose last write was a World-level rewrite
  *     barrier (manifests stale until the next versioned commit heals
  *     them). Offset = the set of chunk-file paths already processed; each
  *     `latestOffset` walks the (pruned) grid.
  *
  * The two regimes interoperate through one identity space — chunk-relative
  * paths — so a stream upgrades (file set -> version cursor) or degrades
  * (barrier struck mid-stream) seamlessly across ANY (start, end) offset
  * pair, including checkpoints written before versioning existed: the seen
  * side of a plan is `rels(start)`, the target side `files(end)`, the batch
  * their difference. Emission semantics are identical in both regimes —
  * append-level: a COW rewrite re-emits the rewritten cell's files (their
  * rel paths are new), a merge-on-read UPDATE/MERGE emits exactly its
  * new-image files (the dv swap changes no rel, so retractions are
  * invisible here by design); consumers wanting delete sides use the
  * change feed (`graft.follow=changes` streaming, or the batch
  * `graft.changes`). Version-cursor batches coalesce
  * intermediate commits a file was BOTH added and retired in — the stream
  * reflects each sealed state it observes, not every state that ever
  * existed (same as the file-set regime, where a listing simply never sees
  * a file that came and went between triggers).
  */
class GraftMicroBatchStream(path: String, required: StructType,
    pushed: Array[Filter],
    startingVersion: Option[String] = None,
    // CDC mode (option("graft.follow", "changes")): each batch carries the
    // rows added AND removed by the commits it spans, tagged "insert" /
    // "delete" through the _change_type per-partition constant. Delete
    // sides are BEFORE-IMAGES read from the retired-in-place files —
    // manifest-only retirement keeps superseded bytes where they were
    // until retention, so the feed needs no row-level change tracking at
    // write time (the write path stays untouched; the feed is derived
    // wholly from manifests). Requires a version-logged,
    // barrier-free world: a World-level rewrite deletes files outright,
    // destroying the delete sides, so CDC refuses loudly rather than
    // emitting a silently-incomplete feed. Commits coalesce per batch
    // (net diff): a row inserted and deleted within one batch's span
    // appears in neither side, matching the batch feed's semantics.
    follow: Boolean = false,
    // option("graft.maxVersionsPerTrigger", n): admission control for the
    // version-cursor regime — each micro-batch spans at most n COMMITS, so
    // a backlogged stream (restart after downtime, or startingVersion deep
    // in history) catches up in bounded batches instead of one giant one.
    // Caps to existing versions (crash-gap numbers are skipped, never
    // addressed). The file-set regime has no cursor to bound and ignores
    // the option; unset = all available (the historical behavior).
    maxVersionsPerTrigger: Option[Long] = None,
    // option("graft.maxBytesPerTrigger", n): BYTE-bounded admission for the
    // version-cursor regime, possible because manifests carry file sizes —
    // each micro-batch spans the longest commit prefix whose NEW bytes
    // (manifest(v) − seen, sizes summed) stay at or under n, always at
    // least one commit so the stream can never stall. Composes with
    // maxVersionsPerTrigger (the tighter bound wins). Unknown sizes
    // (pre-size-format lines) count 0 — the bound degrades to commit
    // counting, never blocks. File-set regime ignores it.
    maxBytesPerTrigger: Option[Long] = None) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // Trigger.AvailableNow drain target, frozen at stream start (commits
  // sealed after that are the NEXT run's work — the trigger's contract)
  @volatile private var availableNowTarget: Option[Offset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestOffset())

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  // the TRUE (uncapped) latest — Trigger.AvailableNow's wrapper takes this
  // as its drain target, so a capped stream keeps triggering until the
  // backlog is consumed instead of stopping after one bounded batch
  override def reportLatestOffset(): Offset = latestOffset()

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val unbounded = availableNowTarget.getOrElse(latestOffset())
    (start, unbounded) match {
      case (GraftVersionOffset(sv), GraftVersionOffset(lv))
          if lv > sv && (maxVersionsPerTrigger.isDefined ||
            maxBytesPerTrigger.isDefined) =>
        val fs = fileSystem
        // EXISTING versions only (crash/retention gaps are never addressed)
        var candidates = GraftVersions.listVersions(fs, root)
          .filter(v => v > sv && v <= lv)
        maxVersionsPerTrigger.foreach(m => candidates = candidates.take(m.toInt))
        maxBytesPerTrigger.foreach { cap =>
          // longest prefix whose cumulative NEW bytes fit the cap; the
          // first candidate is always admitted (progress guarantee). Seen
          // set advances per candidate so a file added in v and kept in
          // v+1 is charged once.
          val seen = scala.collection.mutable.HashSet.empty[String]
          seen ++= GraftVersions.readManifest(fs, root, sv)
          var total = 0L
          var admitted = 0
          candidates = candidates.takeWhile { v =>
            val fresh = GraftVersions.readEntries(fs, root, v)
              .filterNot(e => seen.contains(e.rel))
            fresh.foreach(e => seen += e.rel)
            total += fresh.map(e => math.max(e.size, 0L)).sum
            admitted += 1
            admitted == 1 || total <= cap
          }
        }
        candidates.lastOption
          .map(GraftVersionOffset(_): Offset).getOrElse(unbounded)
      case _ => unbounded
    }
  }

  private val root = new Path(path)
  private def fileSystem: FileSystem =
    GraftHadoop.fs(path)

  private def listFiles(): Seq[(Path, Map[String, Long])] = {
    val fs = fileSystem
    if (!fs.exists(root)) return Seq.empty
    // shared pruned+parallel grid walk (see GraftDataSource.walkChunks):
    // pushed bucket filters drop subtrees before the stream ever lists them,
    // so per-micro-batch discovery cost tracks the pruned grid, not the world
    GraftDataSource.walkChunks(fs, root, pushed)
      .flatMap { case (dir, b) =>
        GraftDataSource.chunkFiles(fs, dir).map(p => (p, b))
      }
  }

  /** Where the stream begins. Default: nothing seen — the first batch is
    * the table's whole current state. `graft.startingVersion = n` (n >= 1):
    * commit n's changes onward, INCLUSIVE (the cursor starts at n-1, whose
    * manifest must still be retained — fail fast with the available range
    * otherwise). `graft.startingVersion = latest`: only commits sealed
    * after the stream starts — the "tail the table" mode; on an
    * unversioned/barrier table this snapshots the current file set as
    * already-seen. */
  /** Latest sealed commit, or a loud error naming what CDC needs. */
  private def cdcCursor(fs: FileSystem): Long = {
    require(!GraftVersions.hasBarrier(fs, root),
      "graft.follow: a World-level rewrite bypassed the commit log (barrier " +
        "pending) — the change feed cannot span it; run a versioned commit " +
        "to heal, then restart the feed from there")
    GraftVersions.latestVersion(fs, root).getOrElse(throw new IllegalStateException(
      "graft.follow requires a version-logged world (no committed versions " +
        s"under $path) — write through the connector/catalog first"))
  }

  override def initialOffset(): Offset = startingVersion match {
    case None if follow =>
      // CDC default = tail: emit changes committed after the stream starts.
      // (A full-state-first default would duplicate the plain read's job.)
      GraftVersionOffset(cdcCursor(fileSystem))
    case None => GraftStreamOffset(Seq.empty)
    case Some(s) if s.equalsIgnoreCase("latest") =>
      val fs = fileSystem
      if (follow) GraftVersionOffset(cdcCursor(fs))
      else {
        val cursor =
          if (GraftVersions.hasBarrier(fs, root)) None
          else GraftVersions.latestVersion(fs, root)
        cursor.map(GraftVersionOffset(_): Offset).getOrElse(
          GraftStreamOffset(listFiles().map(_._1.toString).sorted))
      }
    case Some(s) =>
      val n = try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft.startingVersion takes a commit number or 'latest', got '$s'")
      }
      require(n >= 1,
        s"graft.startingVersion must be >= 1 (got $n): version n-1 is the " +
          "cursor the stream resumes from")
      GraftVersions.readManifest(fileSystem, root, n - 1) // fail fast + range msg
      GraftVersionOffset(n - 1)
  }

  override def latestOffset(): Offset = {
    val fs = fileSystem
    if (follow) return GraftVersionOffset(cdcCursor(fs))
    if (GraftVersions.hasBarrier(fs, root)) {
      // a World-level rewrite bypassed the commit log: manifests are stale
      // until the next versioned commit heals them — walk the live tree
      GraftStreamOffset(listFiles().map(_._1.toString).sorted)
    } else GraftVersions.latestVersion(fs, root) match {
      case Some(v) => GraftVersionOffset(v)
      case None    => GraftStreamOffset(listFiles().map(_._1.toString).sorted)
    }
  }

  /** Seen side of a plan: the chunk-relative paths `o` covers. */
  private def seenRels(fs: FileSystem, o: Offset): Set[String] = o match {
    case GraftStreamOffset(files) =>
      files.map(f => GraftVersions.relOf(root, new Path(f))).toSet
    case GraftVersionOffset(v) =>
      GraftVersions.readManifest(fs, root, v).toSet
    case other => throw new IllegalStateException(s"not a graft offset: $other")
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val fs = fileSystem
    if (follow) return planChanges(fs, start, end)
    val seen = seenRels(fs, start)
    val hasDataCols = required.exists(f => !GraftDataSource.isBucket(f.name))
    // bucket values are recoverable from the path itself (c<i>=<v> segments)
    // dv rides along where the plan is manifest-resolved: a file appended
    // then vectored before the stream reaches it is read minus its deleted
    // rows (the version being planned is the truth for its own entries)
    val batch: Seq[(Path, Map[String, Long], Option[(String, Long)])] = end match {
      case GraftVersionOffset(v) =>
        // manifest(end) − seen, resolved at `v`: snapshot-exact even when the
        // live tree has already moved past the cursor (restart lag)
        GraftVersions.newFilesSince(fs, root, seen, v, pushed)
          .map { case (f, b, e) => (f, b, e.dv) }
      case GraftStreamOffset(files) =>
        val target = files.map(f => GraftVersions.relOf(root, new Path(f))).toSet
        listFiles().filter { case (f, _) =>
          val rel = GraftVersions.relOf(root, f)
          target.contains(rel) && !seen.contains(rel)
        }.map { case (f, b) => (f, b, None) }
      case other => throw new IllegalStateException(s"not a graft offset: $other")
    }
    // one file per partition: micro-batches are not packed into splits
    batch.map { case (f, b, dv) =>
      GraftInputPartition(Array(GraftFileSpec(f.toString, b,
        dvPath = dv.map(d => new Path(root, d._1).toString).orNull,
        dvCount = dv.map(_._2).getOrElse(0L))), !hasDataCols): InputPartition
    }.toArray
  }

  /** CDC batch (a, b]: insert side = manifest(b) − manifest(a), delete
    * side = manifest(a) − manifest(b) (the before-image bytes, live then,
    * retired in place since). Both sides prune by pushed bucket filters
    * from the manifests alone. */
  private def planChanges(fs: FileSystem, start: Offset, end: Offset): Array[InputPartition] = {
    val a = start match {
      case GraftVersionOffset(v) => v
      case other => throw new IllegalStateException(
        s"graft.follow checkpoints hold version cursors, got $other — this " +
          "checkpoint belongs to a plain (non-CDC) stream")
    }
    val b = end.asInstanceOf[GraftVersionOffset].v
    // data columns beyond the tag still require file reads; a projection of
    // only buckets + _change_type reads footer counts
    val hasDataCols = required.exists(f => !GraftDataSource.isBucket(f.name) &&
      f.name != GraftDataSource.ChangeColumn)
    // each side reads under its OWN version's deletion vector: a dv-swap
    // commit surfaces its file on both sides (diffFiles keys by (rel, dv)),
    // and the insert-minus-delete row difference is exactly the rows the
    // vector retired — merge-on-read DELETEs flow through CDC correctly
    def side(base: Long, target: Long, tag: String) =
      GraftVersions.diffFiles(fs, root, base, target, pushed).map { case (f, bk, e) =>
        GraftInputPartition(Array(GraftFileSpec(f.toString, bk,
          dvPath = e.dv.map(d => new Path(root, d._1).toString).orNull,
          dvCount = e.dv.map(_._2).getOrElse(0L), changeTag = tag)),
          !hasDataCols): InputPartition
      }
    (side(a, b, "insert") ++ side(b, a, "delete")).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, GraftHadoop.ship(),
      aliases = GraftDataSource.renamesOf(path))

  override def deserializeOffset(json: String): Offset = {
    val t = json.dropWhile(_.isWhitespace)
    if (t.startsWith("{")) GraftVersionOffset.parse(t)
    else GraftStreamOffset(GraftStreamOffset.parse(t))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Version-cursor offset: "everything manifest `v` covers has been
  * emitted". One long, regardless of grid size. */
final case class GraftVersionOffset(v: Long) extends Offset {
  override def json(): String = s"""{"graftVersion":$v}"""
}

object GraftVersionOffset {
  private val Pat = """\{\s*"graftVersion"\s*:\s*(-?\d+)\s*\}""".r
  def parse(json: String): GraftVersionOffset = json.trim match {
    case Pat(n) => GraftVersionOffset(n.toLong)
    case other => throw new IllegalArgumentException(
      s"graft stream: unrecognized version offset $other")
  }
}

/** Sorted chunk-file set, serialized as a JSON string array. */
final case class GraftStreamOffset(files: Seq[String]) extends Offset {
  override def json(): String =
    files.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

object GraftStreamOffset {
  /** Minimal JSON string-array parser (inverse of [[GraftStreamOffset.json]];
    * handles the two escapes that serializer emits). */
  def parse(json: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inStr = false
    var esc = false
    json.foreach { c =>
      if (!inStr) { if (c == '"') inStr = true }
      else if (esc) { sb.append(c); esc = false }
      else c match {
        case '\\' => esc = true
        case '"'  => out += sb.result(); sb.clear(); inStr = false
        case ch   => sb.append(ch)
      }
    }
    out.toSeq
  }
}
