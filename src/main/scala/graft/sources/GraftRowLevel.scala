package graft.sources

import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite,
  DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder,
  RowLevelOperationInfo, SupportsDelta, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Row-level SQL over the chunk grid — `UPDATE`, `MERGE INTO`, and row-exact
  * `DELETE` — as a DSv2 group-based (copy-on-write) operation. The replace
  * unit is the chunk, exactly the reference's whole-chunk `write_chunk`
  * contract (/root/reference/tokio-fs/src/lib.rs:109-128): Spark's rewrite
  * reads every row of the candidate chunks (its union plan re-emits
  * modified + untouched rows), and this operation's write replaces exactly
  * the chunk dirs its scans planned, merging any rows routed to OTHER cells
  * (bucket-column updates, MERGE inserts) into their cells additively.
  *
  * Scale shape: candidate chunks are bucket-pruned by the command's
  * condition through the ordinary pushdown path, and Spark's runtime group
  * filtering ([[GraftScan]] implements `SupportsRuntimeFiltering`) narrows
  * them to chunks that actually contain matching rows — an UPDATE of one
  * user's rows in a petabyte world rewrites one cell, not the grid. The
  * write itself rides the clustered distribution + staged-commit machinery
  * every other graft write uses.
  *
  * Group-recording protocol: each scan instance owns a FILE set that its
  * `planInputPartitions` CLEARS and refills (Spark plans before AND after
  * runtime filters; a stale superset would retire rows the rewrite never
  * read). The commit unions the sets of every scan the rewrite created
  * (the update/copy branches may each plan their own scan) and retires
  * exactly those rels from the sealed manifest — the superseded bytes
  * stay in place for snapshot reads (manifest-only liveness).
  */
class GraftRowLevelBuilder(path: String, schema: StructType,
    info: RowLevelOperationInfo,
    branch: Option[String] = None) extends RowLevelOperationBuilder {
  /** Every row-level command goes MERGE-ON-READ whenever the commit log
    * is authoritative: DELETE as position deltas → deletion vectors
    * ([[GraftDeltaDeleteOperation]]); UPDATE and MERGE as delete-and-insert
    * deltas ([[GraftDeltaUpdateOperation]]) — changed/deleted old images
    * retire by position into vectors (matched branches and
    * NOT-MATCHED-BY-SOURCE branches alike), inserted rows (UPDATE new
    * images, MERGE not-matched inserts) append through the routed chunk
    * writer into whatever cell their (possibly changed) bucket values
    * name — so a 1-row label fix in a gigabyte cell writes a ~20-byte
    * sidecar plus a 1-row file instead of rewriting the gigabyte, and a
    * relocating UPDATE moves exactly the relocated rows. Unversioned
    * worlds and barrier windows keep the group COW path for everything (a
    * vector needs a manifest entry to hang off; COW also remains the
    * reference's literal whole-chunk replace contract,
    * /root/reference/src/world.rs:89-122). */
  override def build(): RowLevelOperation =
    if (GraftStage.manifestAuthoritative(path)) info.command match {
      case Command.DELETE => new GraftDeltaDeleteOperation(path, schema, branch)
      case cmd => new GraftDeltaUpdateOperation(path, schema, branch, cmd)
    } else new GraftRowLevelOperation(path, schema, info.command, branch)
}

/** `branch`: a WAP rewrite (`graft.wap.branch`) — candidate groups plan
  * from the BRANCH head (not main's live state) and the commit retires
  * them from the branch's own manifest chain, so an UPDATE/MERGE/DELETE
  * stages invisibly exactly like a branch append and publishes atomically
  * at fast_forward. */
class GraftRowLevelOperation(path: String, schema: StructType, cmd: Command,
    branch: Option[String] = None)
    extends RowLevelOperation {
  private val scanDirSets =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.util.Set[String]]())

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val files = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    scanDirSets.add(files)
    new GraftScanBuilder(path, schema, rowLevelFiles = Some(files),
      pin = branch.map(GraftBranchPin(_)))
  }

  /** `_cell` must ride the rewrite: Spark's `ReplaceDataExec` routes rows
    * through the write-side row projection ONLY for operations that demand
    * metadata attributes — without one, the raw rewrite rows (leading
    * `__row_operation` column included) would reach the writer and scramble
    * the row layout. The cell value itself is free (a per-partition
    * directory constant). */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftDataSource.CellColumn))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    new WriteBuilder {
      override def build(): Write =
        // row-level DML only exists through the catalog SQL surface, so
        // the zvalue ordering is always resolvable here (viaCatalog)
        GraftWriteLayout.withLayout(path, info.schema(),
          new GraftReplaceGroupsWrite(path, info.schema(), () => {
            val all = new java.util.HashSet[String]()
            scanDirSets.forEach(s => all.addAll(s))
            all
          }, branch), viaCatalog = true)
    }
  }

  override def description(): String = s"graft row-level $cmd"
}

/** MERGE-ON-READ `DELETE`: a DSv2 DELTA operation keyed by the row address
  * (`_file`, `_pos` — the scan's row-id metadata columns). Spark plans the
  * candidate scan with the DELETE condition pushed (bucket pruning + zone
  * maps + blooms narrow it to files that might hold victims), filters to
  * the MATCHING rows only, and streams their addresses to this write —
  * which turns them into per-file DELETION VECTORS ([[GraftDv]] sidecars)
  * and seals one versioned commit swapping each touched file's manifest
  * entry to reference its new vector. ZERO data bytes move: a one-row
  * DELETE in a gigabyte cell writes a ~20-byte sidecar plus a manifest
  * line, where the group-based rewrite re-wrote the gigabyte.
  *
  * Scale shape: task writers buffer (file, position) pairs for rows they
  * actually matched — O(deleted rows), the floor for exact deletion — and
  * the driver merges per file. The target workload is the selective one
  * (GDPR erasure, label fixes, trickle retractions); a DELETE that guts
  * whole cells is better expressed by bucket predicates (the metadata
  * path) and physical shedding is compaction's job (`system.compact`
  * reads through the connector, vectors applied, and writes clean files).
  *
  * Concurrency: the seal retires entries (the dv-swap), so a CAS loss
  * aborts loudly like every retiring commit; a file vanished from the
  * predecessor manifest (concurrent rewrite of the same cell — a
  * compaction, a COW DML, or another DELETE's fraction CUTOVER) aborts too
  * rather than attaching a vector to a dead entry — the statement's
  * positions address the dead file, so the only sound move is a user-level
  * retry that re-scans the new state. WAP sessions stage vectors on the
  * branch chain exactly like any branch DML. */
class GraftDeltaDeleteOperation(path: String, schema: StructType,
    branch: Option[String] = None)
    extends RowLevelOperation with SupportsDelta {
  override def command(): Command = Command.DELETE

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, schema, pin = branch.map(GraftBranchPin(_)))

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftDataSource.FileColumn),
      org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftDataSource.PosColumn))

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
      new IllegalStateException("graft MOR delete: no rowId schema"))
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDvDeleteWrite(path,
          rowIdSchema.fieldIndex(GraftDataSource.FileColumn),
          rowIdSchema.fieldIndex(GraftDataSource.PosColumn), branch)
    }
  }

  override def description(): String =
    "graft merge-on-read DELETE (deletion vectors)"
}

/** Task → driver channel of one delta writer: deleted row addresses,
  * grouped by data file. */
final case class GraftDvMessage(files: Seq[(String, Array[Long])])
    extends WriterCommitMessage

/** Ships to executors: buffers the (file, position) addresses this task's
  * DELETE matched — O(deleted rows), nothing else. */
final case class GraftDvDeleteWriterFactory(fileIdx: Int, posIdx: Int)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private val acc = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Long]]

      override def delete(meta: org.apache.spark.sql.catalyst.InternalRow,
          id: org.apache.spark.sql.catalyst.InternalRow): Unit =
        acc.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
          scala.collection.mutable.ArrayBuffer.empty[Long]) +=
          id.getLong(posIdx)

      override def update(meta: org.apache.spark.sql.catalyst.InternalRow,
          id: org.apache.spark.sql.catalyst.InternalRow,
          row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        throw new IllegalStateException(
          "graft MOR delete write received an UPDATE delta")

      override def insert(
          row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        throw new IllegalStateException(
          "graft MOR delete write received an INSERT delta")

      override def commit(): WriterCommitMessage =
        GraftDvMessage(acc.toSeq.map { case (f, b) => (f, b.toArray) })

      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

class GraftDvDeleteWrite(path: String, fileIdx: Int, posIdx: Int,
    branch: Option[String] = None) extends DeltaWrite with DeltaBatchWrite {
  import org.apache.hadoop.fs.{FileSystem, Path}

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    GraftDvDeleteWriterFactory(fileIdx, posIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    // merge task vectors per data file (a file's rows can span task splits)
    val byRel: Map[String, Array[Long]] = messages.toSeq
      .collect { case GraftDvMessage(fl) => fl }.flatten
      .groupMapReduce { case (f, _) =>
        GraftVersions.relOf(root, new Path(f)) }(_._2)(_ ++ _)
    if (byRel.isEmpty) return // DELETE matched nothing: no new version
    GraftDvCommit.seal(path, branch, byRel, Seq.empty, "DELETE")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** MERGE-ON-READ `UPDATE` and `MERGE INTO`: a DSv2 delta operation that
  * represents each matched changed row as DELETE-by-address plus
  * INSERT-of-the-new-image ([[representUpdateAsDeleteAndInsert]]). Spark
  * plans the candidate scan with the condition pushed, streams the delta
  * rows to this write, and the write (a) buffers deleted old images'
  * (`_file`, `_pos`) addresses exactly like the MOR DELETE — covering
  * UPDATE's old images, MERGE's matched-DELETE branches, and
  * NOT-MATCHED-BY-SOURCE update/delete branches alike — and (b) routes
  * inserted rows (UPDATE new images, MERGE not-matched inserts) through
  * the ordinary clustered chunk writer ([[GraftDataWriter]]) into the
  * cell their bucket values name — so a non-relocating UPDATE appends
  * next to its old file and a relocating one lands in its new cell, both
  * without touching a pre-existing data byte. One seal swaps the vectors
  * in and the new files on atomically ([[GraftDvCommit]]); untouched
  * files keep their manifest lines verbatim. The additive landing matches
  * the COW path's contract for moved rows (cells never scanned receive
  * rows additively); Spark's MERGE cardinality check rides the delta plan
  * unchanged.
  *
  * Scale shape: cost is O(matched + inserted rows) — the floor — where
  * the COW rewrite paid O(rows of every matched file). The fraction
  * cutover caps the vector pathology exactly as for DELETE: a statement
  * that guts a file rewrites that file's survivors clean in the same
  * commit. */
class GraftDeltaUpdateOperation(path: String, schema: StructType,
    branch: Option[String] = None,
    cmd: Command = Command.UPDATE)
    extends RowLevelOperation with SupportsDelta {
  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, schema, pin = branch.map(GraftBranchPin(_)))

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftDataSource.FileColumn),
      org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftDataSource.PosColumn))

  /** Old image → (delete delta, insert delta): the split is what makes
    * relocation free — the insert half re-routes like any fresh row. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
      new IllegalStateException("graft MOR update: no rowId schema"))
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaUpdateWrite(path, info.schema(),
          rowIdSchema.fieldIndex(GraftDataSource.FileColumn),
          rowIdSchema.fieldIndex(GraftDataSource.PosColumn), branch,
          cmd.toString)
    }
  }

  override def description(): String =
    s"graft merge-on-read $cmd (deletion vectors + routed append)"
}

/** Task → driver channel of one update-delta writer: the deleted old-image
  * addresses plus the ordinary append message of the new-image files the
  * task's wrapped chunk writer produced (sizes + writer-captured stats
  * included, so the seal stays footer-free). */
final case class GraftDeltaUpdateMessage(dv: Seq[(String, Array[Long])],
    add: GraftCommitMessage) extends WriterCommitMessage

final case class GraftDeltaUpdateWriterFactory(path: String,
    schema: StructType, fileIdx: Int, posIdx: Int,
    bloomCols: Seq[String], checks: Seq[GraftChecks.Check],
    declaredBuckets: Option[Set[String]], statsMode: GraftStats.Mode,
    hadoopConf: GraftHadoop.Shipped)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private val acc = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
      // new images write IN PLACE into their final cells (the operation is
      // gated on an authoritative log, so unmanifested files are invisible
      // until the seal), through the same routed writer every graft batch
      // write uses — checks, blooms, sums, and zone-map capture included
      private val data = new GraftDataWriter(path, schema, partitionId,
        taskId, hadoopConf.value, bloomCols, checks, declaredBuckets, statsMode)

      override def delete(meta: org.apache.spark.sql.catalyst.InternalRow,
          id: org.apache.spark.sql.catalyst.InternalRow): Unit =
        acc.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
          scala.collection.mutable.ArrayBuffer.empty[Long]) +=
          id.getLong(posIdx)

      override def update(meta: org.apache.spark.sql.catalyst.InternalRow,
          id: org.apache.spark.sql.catalyst.InternalRow,
          row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        throw new IllegalStateException(
          "graft MOR update declared delete-and-insert representation " +
            "but received an UPDATE delta")

      override def insert(
          row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        data.write(row)

      override def commit(): WriterCommitMessage =
        GraftDeltaUpdateMessage(
          acc.toSeq.map { case (f, b) => (f, b.toArray) },
          data.commit().asInstanceOf[GraftCommitMessage])

      override def abort(): Unit = data.abort()
      override def close(): Unit = data.close()
    }
}

class GraftDeltaUpdateWrite(path: String, schema: StructType,
    fileIdx: Int, posIdx: Int,
    branch: Option[String] = None,
    verb: String = "UPDATE") extends DeltaWrite with DeltaBatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.hadoop.fs.{FileSystem, Path}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}

  override def toBatch: DeltaBatchWrite = this

  // CLUSTER the delta rows on (_file, bucket columns) and locally sort the
  // same way: delete deltas of one data file land in one task (its vector
  // accumulates in one place), and insert deltas of one cell arrive as one
  // contiguous run at one task's writer — without this, a MERGE inserting
  // a million rows across 200 cells would interleave cells per task and
  // roll a fresh parquet file on every bucket switch (the small-files
  // explosion the COW path prevented with GraftWriteLayout). Delete rows
  // carry null buckets and insert rows a null _file, so the two families
  // hash apart naturally; the mixed tuple never funnels everything into
  // one reducer the way clustering on buckets alone would funnel every
  // delete delta (null, …) together.
  private def clusterCols: Array[String] = {
    val declared = GraftStage.declaredBuckets(path)
    GraftDataSource.FileColumn +: schema.fields.map(_.name).filter(n =>
      declared.map(_.contains(n)).getOrElse(GraftDataSource.isBucket(n)))
  }

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      clusterCols.map(n => Expressions.column(n)
        .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]))

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    clusterCols.map(n => Expressions.sort(Expressions.column(n),
      SortDirection.ASCENDING))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    GraftDeltaUpdateWriterFactory(path, schema, fileIdx, posIdx,
      GraftBloom.columnsOf(path),
      GraftChecks.boundFor(org.apache.spark.sql.SparkSession.active, path, schema),
      GraftStage.declaredBuckets(path), GraftStats.modeOf(path),
      GraftHadoop.ship())

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val dms = messages.collect { case m: GraftDeltaUpdateMessage => m }
    val byRel: Map[String, Array[Long]] = dms.toSeq.flatMap(_.dv)
      .groupMapReduce { case (f, _) =>
        GraftVersions.relOf(root, new Path(f)) }(_._2)(_ ++ _)
    val appended = GraftStage.messageEntries(root,
      dms.map(_.add: WriterCommitMessage))
    if (byRel.isEmpty && appended.isEmpty) return // matched nothing
    GraftDvCommit.seal(path, branch, byRel, appended, verb)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // the new-image files were written in place but never manifested —
    // invisible; delete eagerly rather than leaving them to the sweep
    val fs = GraftHadoop.fs(path)
    messages.foreach {
      case m: GraftDeltaUpdateMessage =>
        m.add.files.foreach(f => fs.delete(new Path(f), false))
      case _ =>
    }
  }
}

/** The shared MERGE-ON-READ sealer: turn per-file deleted positions into
  * fresh deletion-vector sidecars (or, past the cutover bound, clean
  * executor-side rewrites) and seal ONE versioned commit that also adds
  * `appended` entries — the new-image files a delta UPDATE routed into
  * their cells ride the same seal as the vectors retiring their old
  * positions, so readers see both-or-neither.
  *
  * POSITION DELETES COMPOSE: the ordinals address the immutable physical
  * file, not its live view, so losing the commit CAS to an interleaved
  * writer is not a conflict as long as every touched rel is still live —
  * re-begin and re-union against the NEW predecessor's vectors (a
  * concurrent DELETE of other rows of the same file merges losslessly;
  * GDPR workers can trickle-delete in parallel). Only a rel that LEFT the
  * manifest (its cell was rewritten — a compaction, a COW DML, or another
  * statement's fraction cutover) aborts: the positions are addresses into
  * a dead file, so the only sound move is a user-level retry that
  * re-scans the new state. Retries are bounded — each loss means another
  * writer made progress, but a livelock under pathological contention
  * should fail loudly, not spin. */
private[sources] object GraftDvCommit {
  import org.apache.hadoop.fs.{FileSystem, Path}

  def seal(path: String, branch: Option[String],
      byRel: Map[String, Array[Long]],
      appended: Seq[GraftVersions.ManifestEntry],
      verb: String): Unit = {
    val fs = GraftHadoop.fs(path)
    val root = new Path(path)
    // declared stats mode for cutover rewrites, resolved once driver-side
    val statsWanted = GraftStats.wantedOf(GraftStats.mode(fs, root))
    var attempt = 0
    var done = false
    var vectoredN = 0
    var cutoverN = 0
    while (!done) {
      val c = branch match {
        case Some(b) => GraftVersions.beginBranchCommit(fs, root, b)
        case None    => GraftVersions.beginCommit(fs, root)
      }
      val prevByRel = c.prev.getOrElse(throw new IllegalStateException(
        s"graft MOR $verb: the commit log stopped being authoritative " +
          s"mid-statement (concurrent World rewrite?) — retry the $verb"))
        .map(e => e.rel -> e).toMap
      // liveness check SEQUENTIAL (its ConcurrentModificationException
      // drives the retry loop and must surface unwrapped), sidecar reads
      // PARALLEL: a wide statement can touch thousands of already-vectored
      // files, and a sequential read per file would put O(files) round
      // trips inside the commit latency (same rationale as the parallel
      // enrich fallback)
      val resolved = byRel.toSeq.sortBy(_._1).map { case (rel, fresh) =>
        val e = prevByRel.getOrElse(rel,
          throw new java.util.ConcurrentModificationException(
            s"graft MOR $verb: $rel left the latest manifest while this " +
              s"$verb ran (concurrent rewrite of its cell) — retry against " +
              "the new state"))
        (rel, e, fresh)
      }
      import scala.collection.parallel.CollectionConverters._
      val unioned = resolved.par.map { case (rel, e, fresh) =>
        // vectors are immutable: union old + new into a FRESH sidecar, so
        // the predecessor version keeps reading its own vector (time travel)
        val existing = e.dv match {
          case Some((dvRel, _)) => GraftDv.read(fs, new Path(root, dvRel))
          case None => Array.emptyLongArray
        }
        (rel, e, GraftDv.union(existing, fresh))
      }.seq
      // pathological-case cap: a file whose cumulative deleted fraction
      // crosses GraftDv.CutoverFraction (or whose sidecar would exceed the
      // absolute bound) is COW-rewritten executor-side instead of carrying
      // an ever-fatter vector — the rewrite pays once, reads stop paying
      // per query. Both shapes seal in the SAME commit (a statement can
      // trickle one file and gut another).
      val cutFraction = GraftDv.cutoverFraction(
        org.apache.spark.sql.SparkSession.active)
      val (cut0, vec) = unioned.partition { case (_, e, u) =>
        GraftDv.shouldCutover(u.length.toLong, e.rows, cutFraction) }
      // a file whose EVERY row is now deleted simply retires — no vector,
      // no rewrite, no empty replacement file
      val cut = cut0.filterNot { case (_, e, u) =>
        e.rows > 0L && u.length.toLong == e.rows }
      val vecUpdated = vec.map { case (_, e, u) =>
        val (dvRel, n) = GraftDv.write(fs, root, u)
        e.copy(dv = Some((dvRel, n)))
      }
      // inside the retry loop on purpose: a CAS loss may mean a concurrent
      // DELETE grew this file's deleted set, so the rewrite must re-run
      // against the fresh union (the stale output falls to the orphan
      // sweep, like the round's sidecars)
      val rewritten = GraftDv.rewriteLive(
        org.apache.spark.sql.SparkSession.active, root,
        cut.map { case (rel, _, u) => (rel, u) }, statsWanted)
      try {
        GraftVersions.sealCommit(fs, root, c, byRel.keySet,
          vecUpdated ++ rewritten ++ appended)
        vectoredN = vecUpdated.size
        cutoverN = rewritten.size
        done = true
      } catch {
        case e: java.util.ConcurrentModificationException if attempt < 8 =>
          attempt += 1 // this round's sidecars fall to the orphan sweep
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"graft MOR $verb on $path lost the seal CAS (attempt " +
              s"$attempt), re-unioning against the new state: ${e.getMessage}")
      }
    }
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"graft MOR $verb on $path: $vectoredN file(s) vectored, " +
        s"$cutoverN file(s) cut over to rewrite, " +
        s"${byRel.valuesIterator.map(_.length).sum} row(s) deleted, " +
        s"${appended.size} new-image file(s) appended")
  }
}
