package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.example.{GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.ParquetReader

/** MERGE-ON-READ DELETION VECTORS — the storage piece that makes a
  * selective row-level DELETE metadata-cheap instead of whole-chunk
  * copy-on-write.
  *
  * The engine's replace unit is the chunk (the reference's `write_chunk`
  * contract, /root/reference/tokio-fs/src/lib.rs:109-128), which is the
  * right unit for UPDATE/MERGE (changed values can relocate rows across
  * cells) but pathological for trickle deletes: at 100 TB a one-row GDPR
  * erasure in a 1-GB cell would rewrite the gigabyte. A deletion vector is
  * a per-data-file sidecar of deleted ROW POSITIONS (physical ordinals
  * within the parquet file, ascending), referenced from the file's
  * manifest entry ([[GraftVersions.ManifestEntry.dv]] — the fourth,
  * optional manifest field). A DELETE that matches few rows writes one
  * small sidecar per touched file and seals a manifest that swaps each
  * entry's dv reference — ZERO data bytes move. Scans apply the vector as
  * an ordinal skip inside the chunk reader; every read path (live,
  * snapshot, branch, clone, change feed) resolves the dv its manifest
  * entry names, so time travel sees each version's own deleted set.
  *
  * Invariants the rest of the engine leans on:
  *   - data files stay IMMUTABLE — a dv never touches the parquet bytes,
  *     so footer sums/stats/blooms remain valid as CONSERVATIVE metadata
  *     (they may describe deleted rows; anything that must be exact over
  *     live rows — aggregate pushdown — declines when a dv is present);
  *   - dv sidecars are immutable too: a second DELETE on the same file
  *     writes a NEW sidecar holding the union and the commit re-points the
  *     manifest entry, so older manifests keep naming their own vector
  *     (snapshot correctness) and rollback is still pure metadata;
  *   - physical rows are shed by the normal rewrite paths: compaction /
  *     z-order / regrid read through the connector (dv applied) and write
  *     clean files, so their commits drop the dv references naturally;
  *   - expire deletes a dv file when no retained manifest references it;
  *     the orphan sweep covers crashed-commit dv debris;
  *   - sidecars stay SMALL by construction: once a file's cumulative
  *     deleted fraction crosses [[CutoverFraction]] (or the absolute
  *     [[CutoverMaxPositions]] bound), the sealing DELETE rewrites that
  *     file's live rows executor-side ([[rewriteLive]]) instead of
  *     vectoring — the positions encoding never meets the mass-delete
  *     case it is wrong for.
  *
  * Sidecars live under `root/_graft_dv/` (outside the chunk grid — the
  * underscore prefix keeps them invisible to the data-file walk), named by
  * a fresh UUID per write.
  */
private[graft] object GraftDv {
  val DvDir = "_graft_dv"
  /** 8-byte magic + int64 count + count * int64 big-endian positions. */
  private val Magic = "GDV1\n".getBytes("UTF-8")

  def dirOf(root: Path): Path = new Path(root, DvDir)

  /** Absolute path of a dv given the DATA file's absolute path and its
    * manifest entry: the resolution root is whatever the planner resolved
    * the data rel against (the table's own root, or a clone SOURCE's), so
    * it is recovered by stripping the rel suffix — no second root plumb. */
  def absOf(fileAbs: String, e: GraftVersions.ManifestEntry): Option[String] =
    e.dv.map { case (dvRel, _) =>
      val base = fileAbs.stripSuffix(e.rel)
      require(base.length != fileAbs.length,
        s"graft dv: ${e.rel} is not a suffix of $fileAbs")
      base + dvRel
    }

  /** Write a NEW dv sidecar holding `positions` (sorted ascending,
    * distinct — the caller's contract). Returns (chunk-relative path,
    * cardinality) for the manifest entry. */
  def write(fs: FileSystem, root: Path, positions: Array[Long]): (String, Long) = {
    require(positions.nonEmpty, "graft dv: refusing to write an empty vector")
    var i = 1
    while (i < positions.length) {
      require(positions(i) > positions(i - 1),
        "graft dv: positions must be sorted ascending and distinct")
      i += 1
    }
    val rel = s"$DvDir/${java.util.UUID.randomUUID()}.dv"
    val p = new Path(root, rel)
    val out = GraftHadoop.create(fs, p, overwrite = false)
    try {
      val buf = java.nio.ByteBuffer.allocate(
        Magic.length + 8 + positions.length * 8)
      buf.put(Magic)
      buf.putLong(positions.length.toLong)
      positions.foreach(buf.putLong)
      out.write(buf.array())
    } finally out.close()
    (rel, positions.length.toLong)
  }

  /** Read a dv sidecar's positions (sorted ascending, as written). */
  def read(fs: FileSystem, dvAbs: Path): Array[Long] = {
    val in = fs.open(dvAbs)
    val bytes = try in.readAllBytes() finally in.close()
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val magic = new Array[Byte](Magic.length)
    buf.get(magic)
    require(java.util.Arrays.equals(magic, Magic),
      s"graft dv: $dvAbs is not a graft deletion vector")
    val n = buf.getLong
    require(bytes.length == Magic.length + 8 + n * 8,
      s"graft dv: $dvAbs is truncated (declares $n positions)")
    Array.fill(n.toInt)(buf.getLong)
  }

  /** Union of two sorted-distinct position arrays, sorted distinct. */
  def union(a: Array[Long], b: Array[Long]): Array[Long] =
    (a ++ b).distinct.sorted

  /** Fraction of a file's PHYSICAL rows above which a DELETE abandons the
    * vector and rewrites the file's live rows instead. The positions
    * encoding is right for trickle deletes (8 B per deleted row) and
    * pathological for mass ones — a 50%-delete of a 10M-row file would be
    * a 40 MB sidecar that every subsequent read re-parses, where the
    * rewrite pays once and leaves a HALVED clean file. 20% keeps the
    * sidecar at most ~1/5 the row count while deletes stay metadata-cheap
    * in the target workload (GDPR erasure, label fixes). */
  val CutoverFraction = 0.2
  /** Absolute cap regardless of fraction: 2^22 positions = a 32 MB
    * sidecar — the bound for files whose physical row count the manifest
    * never learned (rows = −1, foreign/legacy entries). */
  val CutoverMaxPositions: Long = 1L << 22

  /** Session override for [[CutoverFraction]] — `1.0` disables the
    * cutover ENTIRELY (the fraction test can never fire, and the absolute
    * bound is waived too: an operator opting out wants vectors kept fat on
    * purpose — e.g. before-images staying cheap for a change-feed
    * consumer, or concurrent trickle-deleters that must keep composing —
    * and a silent rewrite at 2^22 positions would still retire the rel
    * those racing statements address). A malformed or out-of-range value
    * fails LOUDLY: silently falling back to the default would rewrite
    * files the operator explicitly asked to keep vectored. */
  val CutoverFractionConf = "graft.dv.cutover.fraction"

  def cutoverFraction(spark: org.apache.spark.sql.SparkSession): Double = {
    val raw = try spark.conf.get(CutoverFractionConf)
      catch { case _: java.util.NoSuchElementException => return CutoverFraction }
    val v = try raw.toDouble catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft: $CutoverFractionConf must be a number in (0, 1], got '$raw'")
    }
    require(v > 0.0 && v <= 1.0,
      s"graft: $CutoverFractionConf must be in (0, 1] (1.0 disables the " +
        s"cutover), got '$raw'")
    v
  }

  /** Should a DELETE leaving `unionLen` total deleted positions on a file
    * of `fileRows` physical rows (−1 = unknown) rewrite instead of
    * vectoring? `fraction = 1.0` is the declared opt-out: no cutover at
    * all (see [[CutoverFractionConf]]). */
  def shouldCutover(unionLen: Long, fileRows: Long,
      fraction: Double = CutoverFraction): Boolean =
    fraction < 1.0 &&
      ((fileRows > 0L && unionLen.toDouble > fraction * fileRows) ||
        unionLen > CutoverMaxPositions)

  /** COW-rewrite each (rel, deleted positions) file to a clean
    * live-rows-only sibling in the same cell, EXECUTOR-SIDE — one task per
    * file, parallel across the job, so a mass delete's rewrite cost (and
    * the World-rewrite barrier's vector materialization, which shares this
    * path) rides the cluster, not the driver.
    * Returns the clean entries (no dv), bounds + row count captured from
    * the output footer the task just closed (page-hot; `countOpen = false`
    * — this is not a driver seal read). `statsWanted`: None = the table
    * declared stats off; Some(w) = capture with the declared column
    * filter. */
  def rewriteLive(spark: org.apache.spark.sql.SparkSession, root: Path,
      jobs: Seq[(String, Array[Long])],
      statsWanted: Option[Option[Set[String]]])
      : Seq[GraftVersions.ManifestEntry] = {
    if (jobs.isEmpty) return Seq.empty
    val rootStr = root.toString
    val hadoopConf = GraftHadoop.ship()
    spark.sparkContext.parallelize(jobs, jobs.size)
      .map { case (rel, pos) =>
        rewriteOne(hadoopConf.value, rootStr, rel, pos, statsWanted) }
      .collect().toSeq.flatten
  }

  private def rewriteOne(shared: Configuration, rootStr: String, rel: String,
      positions: Array[Long], statsWanted: Option[Option[Set[String]]])
      : Option[GraftVersions.ManifestEntry] = {
    val conf = new Configuration(shared)
    val fs = FileSystem.get(new java.net.URI(rootStr), conf)
    val root = new Path(rootStr)
    val src = new Path(root, rel)
    val dst = new Path(src.getParent,
      s"part-dvc-${java.util.UUID.randomUUID()}.parquet")
    val pfr = GraftHadoop.openFooter(src, conf)
    val schema = try pfr.getFooter.getFileMetaData.getSchema finally pfr.close()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = new GraftParquetWriterBuilder(GraftHadoop.outputFile(dst, conf),
        new GroupWriteSupport())
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val reader: ParquetReader[Group] =
      ParquetReader.builder(new GroupReadSupport(), src).withConf(conf).build()
    var live = 0L
    try {
      var ordinal = 0L
      var di = 0
      var g = reader.read()
      while (g != null) {
        if (di < positions.length && positions(di) == ordinal) di += 1
        else { writer.write(g); live += 1L }
        ordinal += 1
        g = reader.read()
      }
    } finally { reader.close(); writer.close() }
    if (live == 0L) {
      // every row was deleted (reachable only when the manifest never knew
      // the file's row count): the file retires with no replacement
      fs.delete(dst, false)
      return None
    }
    val relDst = (rel.split('/').dropRight(1) :+ dst.getName).mkString("/")
    val size = fs.getFileStatus(dst).getLen
    Some(statsWanted match {
      case Some(w) =>
        val (ints, strs, rows) = GraftStats.ofFile(conf, dst, w, countOpen = false)
        GraftVersions.ManifestEntry(relDst, size, ints, None, strs, rows)
      case None => GraftVersions.ManifestEntry(relDst, size)
    })
  }

  /** dv rels referenced by a set of manifest entries. */
  def relsOf(entries: Seq[GraftVersions.ManifestEntry]): Set[String] =
    entries.flatMap(_.dv.map(_._1)).toSet

}
