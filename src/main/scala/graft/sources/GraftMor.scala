package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions.col

/** MERGE-ON-READ plumbing for the programmatic World API — the same
  * delete-by-address + route-append + one-seal shape the SQL row-level
  * commands take ([[GraftDeltaUpdateOperation]]), exposed to
  * [[graft.world.World]]'s point writes (`insert` / `applyDelta` /
  * `destroy` / `update`).
  *
  * Why it matters at 100 TB: those four calls were the engine's last
  * COW-only write path — a 10-row CDC upsert whose ids lived in 10 distinct
  * gigabyte cells rewrote 10 GB per epoch (`rewritePartitions` pays
  * O(affected cells)). Through here it pays the floor instead:
  * O(displaced rows) deletion-vector entries plus O(incoming rows) of fresh
  * bytes, sealed as ONE versioned commit so readers see the retire and the
  * landing together-or-not-at-all. The pathological case (a statement that
  * guts a file) is capped by the shared cutover in [[GraftDvCommit]] —
  * past the deleted fraction the file's survivors rewrite clean,
  * executor-side.
  *
  * Reference anchor: `World::insert` replace-on-conflict
  * (/root/reference/src/world.rs:124-150); the reference flushes a chunk's
  * removals and inserts in a single `write_buf` — this is that single-flush
  * contract restated as vectors + routed append instead of a cell rewrite.
  */
object GraftMor {
  /** True when the commit log is authoritative for `path` — the gate for
    * the merge-on-read point-write path (a vector needs a manifest entry to
    * hang off; unversioned worlds and barrier windows keep COW). */
  private[graft] def authoritative(path: String): Boolean =
    GraftStage.manifestAuthoritative(path)

  /** Apply one point write merge-on-read: retire `victims` — per-file
    * grouped (absolute file path, physical row positions) addresses, the
    * same O(matched positions) driver channel the SQL delta writers use,
    * grouped so the driver pays ~8 bytes per position — into per-file
    * deletion vectors (cutover-capped), land `appends` (bucket columns
    * included) through the routed chunk writer into their cells, and seal
    * ONE versioned commit carrying both. Empty victims + empty appends is
    * a no-op (no new version). Returns the number of new-image files
    * appended. */
  private[graft] def pointWrite(spark: SparkSession, path: String,
      branch: Option[String], victims: Array[(String, Array[Long])],
      appends: Option[DataFrame], verb: String): Int = {
    val appended = appends.map(routeAppend(spark, path, _)).getOrElse(Seq.empty)
    sealPrewritten(path, branch, victims, appended, verb,
      ownsAppended = true)
    appended.size
  }

  /** Seal a MoR point write whose new-image files are ALREADY in place
    * (written by [[routeAppend]], or by an in-place upsert epoch's own
    * tasks — the zero-copy commit): victim addresses → vectors, `appended`
    * entries ride the same seal. `ownsAppended` deletes the (unmanifested,
    * hence invisible) files on a failed seal instead of leaving them to
    * the orphan sweep. */
  private[graft] def sealPrewritten(path: String, branch: Option[String],
      victims: Array[(String, Array[Long])],
      appended: Seq[GraftVersions.ManifestEntry], verb: String,
      ownsAppended: Boolean = false): Unit = {
    val root = new Path(path)
    // positions are addresses into immutable physical files: distinct per
    // file (an id matched by both the remove side and the upsert side of an
    // applyDelta must retire its row ONCE, not twice)
    val byRel: Map[String, Array[Long]] = victims.toSeq
      .groupMapReduce { case (f, _) =>
        GraftVersions.relOf(root, new Path(f)) }(_._2)(_ ++ _)
      .map { case (rel, ps) => rel -> ps.distinct }
    if (byRel.isEmpty && appended.isEmpty) return
    try GraftDvCommit.seal(path, branch, byRel, appended, verb)
    catch {
      case t: Throwable if ownsAppended =>
        val fs = GraftHadoop.fs(path)
        appended.foreach(e =>
          try fs.delete(new Path(root, e.rel), false)
          catch { case _: Throwable => () })
        throw t
    }
  }

  /** Write `rows` (bucket columns included) IN PLACE into their final cell
    * directories through the routed chunk writer — the in-place discipline
    * of every authoritative-log write ([[GraftStage.manifestAuthoritative]]):
    * per-writer-unique names keep the files invisible until a manifest
    * references them, so this returns their entries for the caller's seal
    * instead of sealing itself. Clustering + bucket-leading sort mirror the
    * connector write's declared layout (one file per touched cell per task,
    * dim-sorted rows for tight zone maps). */
  private def routeAppend(spark: SparkSession, path: String,
      rows: DataFrame): Seq[GraftVersions.ManifestEntry] = {
    val schema = rows.schema
    val declared = GraftStage.declaredBuckets(path)
    val bucketNames = schema.fieldNames.toSeq.filter(n =>
      declared.map(_.contains(n)).getOrElse(GraftDataSource.isBucket(n)))
    require(bucketNames.nonEmpty,
      s"graft MOR append into $path requires bucket columns in the schema")
    // the connector write's intra-cell ordering: declared z-order columns
    // when registered (lexicographic approximation — no function catalog
    // here, same fallback as path-routed connector writes), else the
    // registered dims
    val fields = schema.fieldNames.toSet
    val zCols = GraftZOrder.columnsOf(path).filter(fields.contains)
    val intra =
      if (zCols.nonEmpty) zCols
      else graft.plans.DimPruningRegistry.lookup(path)
        .map(_.map(_.column).filter(fields.contains)).getOrElse(Seq.empty)
    val clustered = rows
      .repartition(bucketNames.map(col): _*)
      .sortWithinPartitions((bucketNames ++ intra).distinct.map(col): _*)
    // task-side state resolved ONCE driver-side (registry/sidecar lookups
    // are driver-JVM), serialized into the closure — the same contract as
    // GraftWriterFactory / GraftDeltaUpdateWriterFactory
    val bloomCols = GraftBloom.columnsOf(path)
    val checks = GraftChecks.boundFor(spark, path, schema)
    val statsMode = GraftStats.modeOf(path)
    val hadoopConf = GraftHadoop.ship()
    val msgs: Array[WriterCommitMessage] = clustered.queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val w = new GraftDataWriter(path, schema, pid, pid.toLong,
            hadoopConf.value, bloomCols, checks, declared, statsMode)
          try {
            it.foreach(w.write)
            Iterator.single(w.commit())
          } catch {
            case t: Throwable => w.abort(); throw t
          } finally w.close()
        }
      }.collect()
    GraftStage.messageEntries(new Path(path), msgs)
  }
}
