package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Version-cursor streaming offsets: a stream over a version-logged world
  * advances by COMMIT, not by file listing. What that buys at scale:
  * `latestOffset` is a manifest-directory listing (not a grid walk per
  * trigger), the checkpointed offset is one number (not the full file set,
  * re-serialized every epoch), and a batch can never tear a multi-file
  * commit (only sealed manifests are addressable). The file-set regime
  * stays for unversioned worlds and barrier windows, and the two regimes
  * compose across any (start, end) pair through chunk-relative identity.
  */
class GraftStreamCursorSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val warehouse = Files.createTempDirectory("graft-scur").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.scur", "graft.sources.GraftCatalog")
    .config("spark.sql.catalog.scur.warehouse", warehouse)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fs: FileSystem =
    FileSystem.get(new java.net.URI(warehouse), new Configuration())

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType),
    StructField("c0", LongType)))

  test("stream advances by sealed commit; checkpoint offset is one number") {
    spark.sql("CREATE TABLE scur.s1 (id BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scur.s1 VALUES (1, 10, 0), (2, 20, 1)") // v1
    val path = s"$warehouse/s1"
    val cp = Files.createTempDirectory("graft-scur-cp").toString
    val q = spark.readStream.format("graft").load(path)
      .select("id", "v")
      .writeStream.outputMode("append").format("memory")
      .queryName("scur_out").option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT id FROM scur_out").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L))
      spark.sql("INSERT INTO scur.s1 VALUES (3, 30, 2)") // v2
      q.processAllAvailable()
      assert(spark.sql("SELECT id FROM scur_out").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 3L),
        "the new commit's rows flow through")
      // the checkpointed offsets are version cursors, not file sets
      val offDir = new java.io.File(cp, "offsets")
      val latest = offDir.listFiles().filter(_.getName.forall(_.isDigit))
        .maxBy(_.getName.toLong)
      val content = new String(
        java.nio.file.Files.readAllBytes(latest.toPath), "UTF-8")
      assert(content.contains("graftVersion"),
        s"offset log must hold a version cursor, got:\n$content")
      assert(!content.contains(".parquet"),
        "no file paths in the offset log — O(1) per batch, not O(grid)")
    } finally q.stop()
  }

  test("graft.maxVersionsPerTrigger bounds each micro-batch's commit span") {
    spark.sql("CREATE TABLE scur.adm (id BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scur.adm VALUES (1, 10, 0)") // v1
    spark.sql("INSERT INTO scur.adm VALUES (2, 20, 0)") // v2
    spark.sql("INSERT INTO scur.adm VALUES (3, 30, 0)") // v3
    val path = s"$warehouse/adm"
    val cp = Files.createTempDirectory("graft-scur-adm").toString
    // start AT version 1 so the backlog is exactly 3 commits; cap = 1
    // commit per batch -> AvailableNow must drain in 3 batches
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft")
      .option("graft.startingVersion", "1")
      .option("graft.maxVersionsPerTrigger", "1")
      .load(path)
      .select("id")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val n = b.count()
        if (n > 0) batchSizes.synchronized { batchSizes += n }
        ()
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batchSizes.toSeq == Seq(1L, 1L, 1L),
      s"each batch spans one commit, got $batchSizes")
    // unset cap, new checkpoint: the same backlog drains in ONE batch
    val cp2 = Files.createTempDirectory("graft-scur-adm2").toString
    val sizes2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = spark.readStream.format("graft")
      .option("graft.startingVersion", "1")
      .load(path)
      .select("id")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val n = b.count()
        if (n > 0) sizes2.synchronized { sizes2 += n }
        ()
      }
      .option("checkpointLocation", cp2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(sizes2.toSeq == Seq(3L), s"uncapped drains in one batch, got $sizes2")
    spark.sql("DROP TABLE scur.adm")
  }

  test("a COW rewrite re-emits exactly the rewritten cell (append semantics)") {
    spark.sql("CREATE TABLE scur.s2 (id BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scur.s2 VALUES (1, 10, 0), (2, 20, 1)") // v1
    val q = spark.readStream.format("graft").load(s"$warehouse/s2")
      .select("id", "v")
      .writeStream.outputMode("append").format("memory")
      .queryName("scur_cow").start()
    try {
      q.processAllAvailable()
      spark.sql("UPDATE scur.s2 SET v = v + 100 WHERE c0 = 1") // v2: rewrites cell c0=1 only
      q.processAllAvailable()
      val got = spark.sql("SELECT id, v FROM scur_cow").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == Seq((1L, 10L), (2L, 20L), (2L, 120L)),
        s"untouched cell not re-emitted, rewritten cell is: $got")
    } finally q.stop()
  }

  test("unsealed live files are invisible: a batch binds to committed manifests only") {
    spark.sql("CREATE TABLE scur.s3 (id BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scur.s3 VALUES (1, 10, 0)") // v1
    val root = new Path(s"$warehouse/s3")
    val stream = new GraftMicroBatchStream(root.toString, schema, Array.empty)
    assert(stream.latestOffset() == GraftVersionOffset(1))
    // simulate a mid-commit state: a data file landed in the live tree but
    // its commit has not sealed (crash debris / in-flight rename)
    val live = GraftDataSource.walkChunks(fs, root, Array.empty)
      .flatMap { case (d, _) => GraftDataSource.chunkFiles(fs, d) }
    val stray = new Path(live.head.getParent, "part-stray.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, live.head, fs, stray, false,
      spark.sparkContext.hadoopConfiguration)
    assert(stream.latestOffset() == GraftVersionOffset(1),
      "an unsealed file must not advance the offset")
    val parts = stream.planInputPartitions(
      stream.initialOffset(), GraftVersionOffset(1))
    assert(PlannedFiles.of(parts).map(_.file)
      .forall(!_.contains("part-stray")),
      "an unsealed file must not enter a batch")
    fs.delete(stray, false)
  }

  test("a lagging cursor resolves retired files in place (snapshot-exact batches)") {
    spark.sql("CREATE TABLE scur.s4 (id BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scur.s4 VALUES (1, 10, 0)") // v1
    val root = s"$warehouse/s4"
    val stream = new GraftMicroBatchStream(root, schema, Array.empty)
    val end = stream.latestOffset() // v1
    spark.sql("UPDATE scur.s4 SET v = v + 1 WHERE c0 = 0") // v2 retires v1's file
    // the batch planned against the stale cursor still reads v1's BYTES:
    // manifest-only retirement left the superseded file in place, so the
    // plan points at the original path and its pre-update values
    val parts = PlannedFiles.of(
      stream.planInputPartitions(stream.initialOffset(), end)).map(_.file)
    assert(parts.nonEmpty, "stale-cursor batch plans v1's files")
    val vs = spark.read.parquet(parts.toSeq: _*).select("v")
      .collect().map(_.getLong(0)).toSeq
    assert(vs == Seq(10L),
      s"the planned bytes are v1's pre-update values, got $vs")
  }

  test("version-mode batches prune by pushed bucket filters from the manifest alone") {
    spark.sql("CREATE TABLE scur.s5 (id BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scur.s5 VALUES (1, 10, 0), (2, 20, 1), (3, 30, 2)")
    val stream = new GraftMicroBatchStream(s"$warehouse/s5", schema,
      Array[Filter](EqualTo("c0", 1L)))
    val parts = PlannedFiles.of(stream.planInputPartitions(
      stream.initialOffset(), stream.latestOffset()))
    assert(parts.nonEmpty && parts.forall(_.buckets("c0") == 1L),
      s"only the matching cell enters the batch: ${parts.map(_.file).toSeq}")
  }

  test("barrier degrades to file-set offsets; the next sealed commit restores the cursor") {
    spark.sql("CREATE TABLE scur.s6 (id BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scur.s6 VALUES (1, 10, 0)") // v1
    val root = new Path(s"$warehouse/s6")
    val stream = new GraftMicroBatchStream(root.toString, schema, Array.empty)
    val v1 = stream.latestOffset()
    assert(v1 == GraftVersionOffset(1))
    GraftVersions.noteBarrier(fs, root) // a World-level rewrite struck
    val deg = stream.latestOffset()
    assert(deg.isInstanceOf[GraftStreamOffset],
      "stale manifests must not back an offset")
    // mixed plan (version start, file-set end): nothing new on disk -> empty
    assert(stream.planInputPartitions(v1, deg).isEmpty)
    spark.sql("INSERT INTO scur.s6 VALUES (2, 20, 1)") // v2 heals (walk-sealed)
    val healed = stream.latestOffset()
    assert(healed == GraftVersionOffset(2), "healed commit restores the cursor")
    // mixed plan (file-set start, version end): only the new commit's files
    val parts = PlannedFiles.of(stream.planInputPartitions(deg, healed))
    assert(parts.nonEmpty && parts.forall(_.buckets("c0") == 1L),
      s"only commit v2's cell enters the batch: ${parts.map(_.file).toSeq}")
  }

  test("graft.startingVersion: inclusive numeric start, 'latest' tails, bad values fail fast") {
    spark.sql("CREATE TABLE scur.s7 (id BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scur.s7 VALUES (1, 10, 0)") // v1
    spark.sql("INSERT INTO scur.s7 VALUES (2, 20, 1)") // v2
    val path = s"$warehouse/s7"
    // start at v2: only commit 2's rows flow (v1's cell never enters a batch)
    val q = spark.readStream.format("graft")
      .option("graft.startingVersion", "2").load(path)
      .select("id")
      .writeStream.outputMode("append").format("memory")
      .queryName("scur_sv").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT id FROM scur_sv").collect()
        .map(_.getLong(0)).toSet == Set(2L),
        "startingVersion=2 must emit commit 2 onward, not commit 1")
    } finally q.stop()
    // 'latest' sees nothing until a commit seals after the stream starts
    val tail = new GraftMicroBatchStream(path, schema, Array.empty,
      Some("latest"))
    assert(tail.initialOffset() == GraftVersionOffset(2))
    // a numeric start needs manifest(n-1) retained; out-of-range is loud
    val e = intercept[IllegalArgumentException] {
      new GraftMicroBatchStream(path, schema, Array.empty, Some("99"))
        .initialOffset()
    }
    assert(e.getMessage.contains("no committed version 98"))
    val e2 = intercept[IllegalArgumentException] {
      new GraftMicroBatchStream(path, schema, Array.empty, Some("bogus"))
        .initialOffset()
    }
    assert(e2.getMessage.contains("startingVersion"))
  }

  test("CDC stream: inserts and before-image deletes per commit; tail default; scoped to the touched cell") {
    spark.sql("CREATE TABLE scur.c1 (id BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scur.c1 VALUES (1, 10, 0), (2, 20, 1)") // v1
    val path = s"$warehouse/c1"
    val q = spark.readStream.format("graft")
      .option("graft.follow", "changes").load(path)
      .select("id", "v", "_change_type")
      .writeStream.outputMode("append").format("memory")
      .queryName("scur_cdc").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM scur_cdc").count() == 0,
        "tail default: pre-stream state is not replayed")
      spark.sql("INSERT INTO scur.c1 VALUES (3, 30, 2)") // v2: pure insert
      q.processAllAvailable()
      spark.sql("UPDATE scur.c1 SET v = v + 100 WHERE c0 = 1") // v3: COW of one cell
      q.processAllAvailable()
      val got = spark.sql("SELECT id, v, _change_type FROM scur_cdc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == Set(
        (3L, 30L, "insert"),                      // v2
        (2L, 120L, "insert"), (2L, 20L, "delete") // v3: after- and before-image
      ), s"got $got")
    } finally q.stop()
  }

  test("CDC stream: startingVersion replays history with delete sides resolved from retention") {
    spark.sql("CREATE TABLE scur.c2 (id BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scur.c2 VALUES (1, 10, 0), (2, 20, 1)") // v1
    spark.sql("UPDATE scur.c2 SET v = v * 2 WHERE c0 = 0")          // v2
    spark.sql("DELETE FROM scur.c2 WHERE c0 = 1")                   // v3 (metadata delete)
    val q = spark.readStream.format("graft")
      .option("graft.follow", "changes").option("graft.startingVersion", "2")
      .load(s"$warehouse/c2")
      .select("id", "v", "_change_type")
      .writeStream.outputMode("append").format("memory")
      .queryName("scur_cdc2").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT id, v, _change_type FROM scur_cdc2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      // one batch spans v1->v3 (net diff): cell c0=0's v1 file was retired
      // at v2 (before-image from history), its rewrite inserted; cell
      // c0=1's v1 file deleted at v3 with no replacement
      assert(got == Set(
        (1L, 20L, "insert"), (1L, 10L, "delete"), (2L, 20L, "delete")),
        s"got $got")
    } finally q.stop()
  }

  test("CDC guards: unversioned world refused, batch read refused, writes refused") {
    val dir = Files.createTempDirectory("graft-nolog").toString
    // an unversioned world: World.create writes through Spark's parquet
    // committer and keeps no commit log
    import spark.implicits._
    import graft.core.DimMapping
    val w = new graft.world.World(spark, dir,
      Seq(graft.world.DimSpec("d0", DimMapping(0, 1023, 8))))
    w.create(Seq(1L).toDF("d0"))
    val e = intercept[Exception] {
      val s = new GraftMicroBatchStream(dir, schema, Array.empty, None, follow = true)
      s.initialOffset()
    }
    assert(e.getMessage.contains("version-logged"), e.getMessage)
    spark.sql("CREATE TABLE scur.c3 (id BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scur.c3 VALUES (1, 10, 0)")
    val e2 = intercept[Exception] {
      spark.read.format("graft").option("graft.follow", "changes")
        .load(s"$warehouse/c3").collect()
    }
    assert(e2.getMessage.contains("streaming option"), e2.getMessage)
    // a write through a follow handle dies either at our guard or earlier
    // at Spark's save-mode validation — refused both ways
    intercept[Exception] {
      Seq((2L, 20L, 1L)).toDF("id", "v", "c0").write.format("graft")
        .option("graft.follow", "changes").mode("append").save(s"$warehouse/c3")
    }
    val e3 = intercept[Exception] {
      new GraftTable(s"$warehouse/c3", schema, follow = true)
        .newWriteBuilder(null)
    }
    assert(e3.getMessage.contains("change-feed"), e3.getMessage)
  }

  test("offset JSON: round-trips, and both formats deserialize (legacy checkpoints upgrade)") {
    val stream = new GraftMicroBatchStream("/nonexistent", schema, Array.empty)
    assert(GraftVersionOffset.parse(GraftVersionOffset(7).json()) ==
      GraftVersionOffset(7))
    assert(stream.deserializeOffset("""{"graftVersion":42}""") ==
      GraftVersionOffset(42))
    assert(stream.deserializeOffset("""["/a/b.parquet","/c/d.parquet"]""") ==
      GraftStreamOffset(Seq("/a/b.parquet", "/c/d.parquet")))
  }
}
