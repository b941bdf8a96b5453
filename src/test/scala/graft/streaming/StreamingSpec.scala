package graft.streaming

import graft.core._
import graft.ops.Warc
import graft.world.{DimSpec, World}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Streaming semantics: the write-behind daemon (flush loop + upsert,
  * tokio-fs/src/lib.rs:202-235), watermarked windows, and custom state via
  * flatMapGroupsWithState — driven with MemoryStream + processAllAvailable
  * so each micro-batch is observed synchronously.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-stream").toString

  test("daemon: write-behind flush applies upsert-per-batch (tokio-fs daemon semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = tmp()
    val w = new World(spark, path, Seq(
      DimSpec("d0", DimMapping(0, 1023, 8)), DimSpec("d1", DimMapping(0, 1023, 16))))
    w.create(Seq((114L, 514L), (7L, 7L)).toDF("d0", "d1"))

    val src = MemoryStream[(Long, Long)]
    val q = Daemon.start(w, src.toDF().toDF("d0", "d1"), tmp(), interval = "1 second")
    try {
      src.addData((114L, 600L), (500L, 500L)) // replace 114, insert 500
      q.processAllAvailable()
      val got = w.df.select("d0", "d1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((114L, 600L), (7L, 7L), (500L, 500L)))

      src.addData((7L, 70L)) // second batch replaces id 7
      q.processAllAvailable()
      val got2 = w.df.select("d0", "d1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got2 == Set((114L, 600L), (7L, 70L), (500L, 500L)))
    } finally q.stop()
  }

  test("daemon append mode: raw appends per batch, compaction at the dirty-counter threshold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = tmp()
    val w = new World(spark, path, Seq(
      DimSpec("d0", DimMapping(0, 1023, 8)), DimSpec("d1", DimMapping(0, 1023, 16))))
    w.create(Seq((1L, 1L)).toDF("d0", "d1"))
    // LIVE files per cell (manifest-resolved): the compaction retires the
    // fragments in the manifest only — physical listings keep the bytes
    // for snapshot reads
    def filesIn(dir: String): Int = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), new org.apache.hadoop.conf.Configuration())
      graft.sources.GraftDataSource
        .liveCells(fs, new org.apache.hadoop.fs.Path(path), Array.empty)
        .collect { case (d, _, files)
          if d.toUri.getPath.endsWith(dir) => files.size }.sum
    }
    val src = MemoryStream[(Long, Long)]
    // compactEvery=3: batches 1..2 append (files accumulate), batch 3 compacts
    val q = Daemon.start(w, src.toDF().toDF("d0", "d1"), tmp(),
      interval = "1 second", mode = "append", compactEvery = 3, maxFilesPerChunk = 1)
    try {
      // all rows land in chunk (0,0), same as the created row
      src.addData((2L, 2L)); q.processAllAvailable()
      src.addData((3L, 3L)); q.processAllAvailable()
      assert(filesIn("/c0=0/c1=0") >= 3, "append path must not rewrite per batch")
      src.addData((4L, 4L)); q.processAllAvailable() // batch 3 -> compact
      assert(filesIn("/c0=0/c1=0") == 1,
        "threshold-triggered compaction must bound files per chunk")
      val got = w.df.select("d0").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 3L, 4L), "no rows lost across append + compact")
    } finally q.stop()
  }

  test("daemon append mode: an empty batch seals no version; compaction still counts batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = tmp()
    val w = new World(spark, path, Seq(
      DimSpec("d0", DimMapping(0, 1023, 8)), DimSpec("d1", DimMapping(0, 1023, 16))))
    w.create(Seq((1L, 1L)).toDF("d0", "d1"))
    val fs = graft.sources.GraftHadoop.fs(path)
    val root = new org.apache.hadoop.fs.Path(path)
    def version: Option[Long] = graft.sources.GraftVersions.latestVersion(fs, root)
    def liveFiles: Int = graft.sources.GraftDataSource.liveCells(fs, root, Array.empty)
      .map { case (_, _, files) => files.size }.sum
    val src = MemoryStream[(Long, Long)]
    // compactEvery=4 micro-batches, the empty one included
    val q = Daemon.start(w, src.toDF().toDF("d0", "d1"), tmp(),
      interval = "1 second", mode = "append", compactEvery = 4, maxFilesPerChunk = 1)
    try {
      src.addData((2L, 2L)); q.processAllAvailable()
      val v1 = version
      assert(v1.isDefined, "a batch with rows seals a version")
      src.addData(Seq.empty[(Long, Long)]); q.processAllAvailable()
      assert(q.recentProgress.exists(_.numInputRows == 0), "the empty batch ran")
      assert(version == v1, "an empty batch seals no version")
      src.addData((3L, 3L)); q.processAllAvailable()
      assert(liveFiles >= 3, "append path must not rewrite per batch")
      src.addData((4L, 4L)); q.processAllAvailable() // batch 4 -> compact
      assert(liveFiles == 1, "compaction triggers at the fourth micro-batch")
      val got = w.df.select("d0").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 3L, 4L), "rows exact across an empty batch + compact")
    } finally q.stop()
  }

  test("world as a streaming source: new chunk files are discovered incrementally") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 1023, 8)), DimSpec("d1", DimMapping(0, 1023, 16))))
    w.create(Seq((1L, 1L)).toDF("d0", "d1"))
    val q = w.stream.select("d0", "d1").writeStream.outputMode("append")
      .format("memory").queryName("world_stream_out").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT d0 FROM world_stream_out").count() == 1L)
      w.tryInsert(Seq((114L, 514L)).toDF("d0", "d1")) // appends a new chunk file
      q.processAllAvailable()
      val got = spark.sql("SELECT d0 FROM world_stream_out")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 114L), "the appended chunk must flow through the stream")
    } finally q.stop()
  }

  test("graft connector streaming read: incremental discovery, bucket-pruned at the source") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 1023, 8)), DimSpec("d1", DimMapping(0, 1023, 16))))
    w.create(Seq((1L, 1L), (900L, 900L)).toDF("d0", "d1"))
    // c0 < 50 excludes d0=900 (chunk 112): its chunk files must never be
    // listed into an offset, not merely filtered after the read
    val q = spark.readStream.format("graft").load(w.path)
      .where(col("c0") < 50).select("d0")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_stream_out").start()
    try {
      q.processAllAvailable()
      val first = spark.sql("SELECT d0 FROM graft_stream_out")
        .collect().map(_.getLong(0)).toSet
      assert(first == Set(1L), s"initial batch must carry only unpruned chunks: $first")
      w.tryInsert(Seq((10L, 10L), (901L, 901L)).toDF("d0", "d1"))
      q.processAllAvailable()
      val got = spark.sql("SELECT d0 FROM graft_stream_out")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 10L),
        s"appended unpruned chunk flows through; pruned chunk stays out: $got")
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
        .StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"), s"micro-batches read columnar: $plan")
    } finally q.stop()
  }

  test("dedup daemon: fingerprint store persists across a stream RESTART; replayed batch is idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fp = new World(spark, tmp(), Seq(
      DimSpec("fp64", DimMapping(0L, -1L, 1L << 59)))) // full wrapping u64 domain
    val sink = new World(spark, tmp(), Seq(DimSpec("doc_id", DimMapping(0, 1023, 8))))
    sink.create(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val ckpt = tmp()
    val src = MemoryStream[(Long, String)]
    val data = src.toDF().toDF("doc_id", "text")
    def sinkIds = sink.df.select("doc_id").collect().map(_.getLong(0)).toSet

    val q1 = Daemon.dedupStream(fp, sink, data, "doc_id", "text", ckpt, interval = "1 second")
    try {
      // doc 3 is a whitespace variant of doc 1 -> same normalized fingerprint
      src.addData((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha  beta"))
      q1.processAllAvailable()
      assert(sinkIds == Set(1L, 2L), "in-batch dup must not reach the sink")
    } finally q1.stop()

    // RESTART from the same checkpoint: the fingerprint memory lives in the
    // store world, not in stream state, so pre-restart documents stay seen
    val q2 = Daemon.dedupStream(fp, sink, data, "doc_id", "text", ckpt, interval = "1 second")
    try {
      src.addData((10L, "ALPHA BETA"), (11L, "fresh content")) // 10 = case dup of 1
      q2.processAllAvailable()
      assert(sinkIds == Set(1L, 2L, 11L),
        "a duplicate of a pre-restart document must not re-admit after restart")
      assert(fp.df.count() == 3, "one fingerprint per distinct document ever seen")
    } finally q2.stop()

    // replayed batch (the at-least-once case foreachBatch can produce):
    // all fingerprints already registered -> nothing fresh, sink unchanged
    val replayed = graft.ops.Dedup.incrementalDedup(fp,
      Seq((10L, "ALPHA BETA"), (11L, "fresh content")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(replayed.isEmpty, "replayed batch must admit nothing")
    graft.ops.Pins.releaseAll()
    assert(sinkIds == Set(1L, 2L, 11L))
  }

  test("near-dedup daemon: SimHash signature store drops edited re-crawls across a RESTART") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sig = new World(spark, tmp(), Seq(
      DimSpec("blk64", DimMapping(0L, -1L, 1L << 59)))) // full wrapping u64 domain
    val sink = new World(spark, tmp(), Seq(DimSpec("doc_id", DimMapping(0, 1023, 8))))
    sink.create(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val ckpt = tmp()
    val src = MemoryStream[(Long, String)]
    val data = src.toDF().toDF("doc_id", "text")
    def sinkIds = sink.df.select("doc_id").collect().map(_.getLong(0)).toSet

    val q1 = Daemon.nearDedupStream(sig, sink, data, "doc_id", "text", ckpt,
      interval = "1 second")
    try {
      src.addData((1L, "alpha beta gamma"), (2L, "other words entirely"))
      q1.processAllAvailable()
      assert(sinkIds == Set(1L, 2L))
    } finally q1.stop()

    // RESTART: doc 10 doubles doc 1's words — a different TEXT (md5
    // fingerprint dedup would admit it) with the same SimHash; the
    // signature store must still drop it after the restart
    val q2 = Daemon.nearDedupStream(sig, sink, data, "doc_id", "text", ckpt,
      interval = "1 second")
    try {
      src.addData((10L, "alpha alpha beta beta gamma gamma"), (11L, "fresh stuff"))
      q2.processAllAvailable()
      assert(sinkIds == Set(1L, 2L, 11L),
        "a near-dup of a pre-restart document must not re-admit after restart")
      assert(sig.df.count() == 16,
        "4 block rows per OBSERVED doc — the dropped near-dup registers too")
    } finally q2.stop()

    // replayed batch: signatures already registered -> nothing fresh
    val replayed = graft.ops.Dedup.incrementalNearDedup(sig,
      Seq((10L, "alpha alpha beta beta gamma gamma"), (11L, "fresh stuff"))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(replayed.isEmpty, "replayed batch must admit nothing")
    graft.ops.Pins.releaseAll()
    assert(sinkIds == Set(1L, 2L, 11L))
  }

  test("minhash-dedup daemon: banded store drops shingle-level near-copies across a RESTART") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = new World(spark, tmp(), Seq(
      DimSpec("bk64", DimMapping(0L, -1L, 1L << 59))))
    val sink = new World(spark, tmp(), Seq(DimSpec("doc_id", DimMapping(0, 1023, 8))))
    sink.create(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val ckpt = tmp()
    val src = MemoryStream[(Long, String)]
    val data = src.toDF().toDF("doc_id", "text")
    def sinkIds = sink.df.select("doc_id").collect().map(_.getLong(0)).toSet
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"

    val q1 = Daemon.minhashDedupStream(store, sink, data, "doc_id", "text", ckpt,
      interval = "1 second")
    try {
      src.addData((1L, t1), (2L, "other words entirely distinct from it all here"))
      q1.processAllAvailable()
      assert(sinkIds == Set(1L, 2L))
    } finally q1.stop()

    // RESTART: doc 10 appends one word to doc 1's twenty (jaccard 18/19 —
    // the band join collides; SimHash-distance and exact-fp dedup both
    // admit such a doc when the edit flips enough hash bits); doc 11 fresh
    val q2 = Daemon.minhashDedupStream(store, sink, data, "doc_id", "text", ckpt,
      interval = "1 second")
    try {
      src.addData((10L, t1 + " phi"), (11L, "completely fresh material again"))
      q2.processAllAvailable()
      assert(sinkIds == Set(1L, 2L, 11L),
        "a shingle-near-copy of a pre-restart doc must not re-admit after restart")
      assert(store.df.count() == 32,
        "8 band rows per OBSERVED doc — the dropped near-copy registers too")
    } finally q2.stop()
    graft.ops.Pins.releaseAll()
  }

  test("LM gate daemon: batches score against a fixed offline model; only under-gate docs reach the sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // model from TextSpec's fixture: c1(a)=3 c1(b)=2 c1(c)=1, V=4.
    // "a b" scores 847298 unats/bigram; "a z" (OOV) 1945910 -> a 1-nat gate
    // keeps the former and drops the latter.
    val model = graft.ops.Text.trainLm(
      Seq("a b", "a b", "a c").toDF("text"), "text")
    val sink = new World(spark, tmp(), Seq(DimSpec("doc_id", DimMapping(0, 1023, 8))))
    sink.create(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val src = MemoryStream[(Long, String)]
    val q = Daemon.lmGateStream(model, sink, src.toDF().toDF("doc_id", "text"),
      "doc_id", "text", tmp(), interval = "1 second", thresholdUnats = 1000000L)
    try {
      src.addData((1L, "a b"), (2L, "a z"))
      q.processAllAvailable()
      def sinkIds = sink.df.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(sinkIds == Set(1L), "OOV doc over the gate must not reach the sink")

      // 3: (a,c)+(c,a)+(a,b) = 1252763+1609438+847298 unats over 3 bigrams
      // -> 1.24 nats/bigram, over the gate; 4: sub-bigram doc scores 0/0
      // and is kept; 5: the model's modal bigram, kept
      src.addData((3L, "a c a b"), (4L, "z"), (5L, "a b"))
      q.processAllAvailable()
      assert(sinkIds == Set(1L, 4L, 5L))
    } finally q.stop()
  }

  test("LM train daemon: streamed counts match offline training; replayed batch is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val c1 = new World(spark, tmp(), Seq(
      DimSpec("h", DimMapping(0L, -1L, 1L << 59)))) // full wrapping u64 domain
    val c2 = new World(spark, tmp(), Seq(DimSpec("h", DimMapping(0L, -1L, 1L << 59))))
    val src = MemoryStream[String]
    val q = Daemon.lmTrainStream(c1, c2, src.toDF().toDF("text"), "text",
      tmp(), interval = "1 second")
    try {
      src.addData("a b", "a b"); q.processAllAvailable()
      src.addData("a c"); q.processAllAvailable()
    } finally q.stop()
    // the streamed model scores exactly like one trained offline on the union
    val probe = Seq((100L, "a b"), (101L, "a z"), (102L, "z q a")).toDF("doc_id", "text")
    def scores(m: graft.ops.Text.LmModel) =
      graft.ops.Text.lmScore(m, probe, "doc_id", "text").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val streamed = scores(graft.ops.Text.loadLm(c1, c2))
    val offline = scores(graft.ops.Text.trainLm(
      Seq("a b", "a b", "a c").toDF("text"), "text"))
    assert(streamed == offline)
    // replaying an already-committed batch id must not inflate the counts
    graft.ops.Text.updateLmCounts(c1, c2, Seq("a b").toDF("text"), "text",
      commitId = Some(0L))
    graft.ops.Pins.releaseAll()
    assert(scores(graft.ops.Text.loadLm(c1, c2)) == offline,
      "replay of batch 0 must be a no-op")
    // an unmarked update DOES apply (the batch API always adds)
    graft.ops.Text.updateLmCounts(c1, c2, Seq("a b").toDF("text"), "text")
    graft.ops.Pins.releaseAll()
    assert(scores(graft.ops.Text.loadLm(c1, c2)) != offline)
  }

  test("LM count stores: a crash BETWEEN the two inserts replays to exact counts") {
    import spark.implicits._
    val c1 = new World(spark, tmp(), Seq(DimSpec("h", DimMapping(0L, -1L, 1L << 59))))
    val c2 = new World(spark, tmp(), Seq(DimSpec("h", DimMapping(0L, -1L, 1L << 59))))
    val batch0 = Seq("a b", "a b").toDF("text")
    graft.ops.Text.updateLmCounts(c1, c2, batch0, "text", commitId = Some(0L))
    graft.ops.Pins.releaseAll()
    // batch 1 crashes after the c1 store sealed but before c2 applied —
    // the exact window that used to double c1 on replay
    val batch1 = Seq("a c").toDF("text")
    intercept[RuntimeException] {
      graft.ops.Text.updateLmCounts(c1, c2, batch1, "text", commitId = Some(1L),
        faultAfterC1 = () => throw new RuntimeException("injected crash"))
    }
    graft.ops.Pins.releaseAll()
    // replay of batch 1: the sealed c1 store must be skipped, the missing
    // c2 insert applied — converging to the offline union, not doubling
    graft.ops.Text.updateLmCounts(c1, c2, batch1, "text", commitId = Some(1L))
    graft.ops.Pins.releaseAll()
    val probe = Seq((100L, "a b"), (101L, "a c"), (102L, "z q a")).toDF("doc_id", "text")
    def scores(m: graft.ops.Text.LmModel) =
      graft.ops.Text.lmScore(m, probe, "doc_id", "text").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scores(graft.ops.Text.loadLm(c1, c2)) == scores(graft.ops.Text.trainLm(
      Seq("a b", "a b", "a c").toDF("text"), "text")),
      "torn batch replays to exactly the offline-training counts")
    // a second full replay of the now-sealed batch is a no-op
    graft.ops.Text.updateLmCounts(c1, c2, batch1, "text", commitId = Some(1L))
    graft.ops.Pins.releaseAll()
    assert(scores(graft.ops.Text.loadLm(c1, c2)) == scores(graft.ops.Text.trainLm(
      Seq("a b", "a b", "a c").toDF("text"), "text")))
  }

  test("KL drift daemon: per-batch top drift words vs a fixed reference land keyed by batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq("a a b", "a c").toDF("text")
    val sink = new World(spark, tmp(), Seq(DimSpec("k0", DimMapping(0, (1 << 20) - 1, 1024))))
    sink.create(Seq.empty[(Long, Long, String, Long, Long, Long)]
      .toDF("k0", "batch_id", "word", "cl", "cr", "kl_nnats"))
    val src = MemoryStream[String]
    val q = Daemon.klDriftStream(reference, sink, src.toDF().toDF("text"),
      "text", tmp(), interval = "1 second", topK = 3)
    try {
      src.addData("zz zz zz") // a word the reference never saw dominates
      q.processAllAvailable()
      val b0 = sink.df.where(col("batch_id") === 0).orderBy("k0").collect()
      assert(b0.nonEmpty && b0.head.getAs[String]("word") == "zz",
        s"novel token must top the drift ranking, got ${b0.toSeq}")

      src.addData("a a b a") // matches the reference mix: 'a' leads but drift is mild
      q.processAllAvailable()
      val b1 = sink.df.where(col("batch_id") === 1).collect()
      assert(b1.nonEmpty && b1.map(_.getAs[String]("word")).toSet.contains("a"))
      // batch-0 rows still present (batch-keyed, not overwritten)
      assert(sink.df.where(col("batch_id") === 0).count() == b0.length.toLong)
    } finally q.stop()
  }

  test("tumbling window with watermark over streamed events matches batch counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, String)] // (epoch_us, type)
    val events = src.toDF().toDF("us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val agg = EventStreams.tumblingCounts(events)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      val h = 3600L * 1000000L
      src.addData((0L, "a"), (10L, "a"), (h + 1L, "b"), (h + 2L, "a"))
      q.processAllAvailable()
      val got = spark.sql("SELECT win_start_us, event_type, n FROM tumbling_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == Set((0L, "a", 2L), (h, "b", 1L), (h, "a", 1L)))
    } finally q.stop()
  }

  test("session window merges events within gap, splits beyond it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, Long)] // (epoch_us, user)
    val events = src.toDF().toDF("us", "user_id")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val agg = EventStreams.sessionCounts(events)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("session_out").start()
    try {
      val min = 60L * 1000000L
      // user 1: events at 0, 10min (same session), 50min (new session: gap 40 > 30)
      src.addData((0L, 1L), (10 * min, 1L), (50 * min, 1L))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, session_start_us, n_events FROM session_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 0L, 2L), (1L, 50 * min, 1L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState: per-user error counts accumulate across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[EventStreams.Ev]
    val out = EventStreams.errorRunCounts(spark, src.toDS(), threshold = 2)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("state_out").start()
    try {
      def ev(id: Long, uid: Long, tpe: String) =
        EventStreams.Ev(id, new java.sql.Timestamp(id * 1000), uid, tpe, 1.0)
      src.addData(ev(1, 1, "error"), ev(2, 1, "click"), ev(3, 2, "error"))
      q.processAllAvailable()
      src.addData(ev(4, 1, "error")) // user 1 hits threshold 2
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, n_errors, alert FROM state_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got == Set((1L, 1L, false), (2L, 1L, false), (1L, 2L, true)))
    } finally q.stop()
  }

  test("streaming funnel: converts once at the completing event, matches the batch twin in order") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[EventStreams.Ev]
    val out = EventStreams.funnelStream(spark, src.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    try {
      // ids double as epoch micros (all multiples of 1000, so the
      // millisecond java.sql.Timestamp round-trips micros exactly)
      def ev(us: Long, uid: Long, tpe: String) =
        EventStreams.Ev(us, new java.sql.Timestamp(us / 1000), uid, tpe, 1.0)
      def got() = spark.sql("SELECT * FROM funnel_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // batch 1: user 1 views then clicks (out of arrival order within the
      // batch — the per-batch event-time sort must fix it); user 2 clicks
      // without a view (must not start)
      src.addData(ev(20000000L, 1L, "click"), ev(10000000L, 1L, "view"),
        ev(5000000L, 2L, "click"))
      q.processAllAvailable()
      assert(got().isEmpty, "no conversion before the final step")
      // batch 2: user 1 purchases -> exactly one conversion, earliest chain
      src.addData(ev(30000000L, 1L, "purchase"))
      q.processAllAvailable()
      assert(got() == Set((1L, 10000000L, 20000000L, 30000000L)))
      // batch 3: a second full pass must NOT re-emit
      src.addData(ev(40000000L, 1L, "view"), ev(50000000L, 1L, "click"),
        ev(60000000L, 1L, "purchase"))
      q.processAllAvailable()
      assert(got() == Set((1L, 10000000L, 20000000L, 30000000L)),
        "a converted user never re-emits")
      // the batch twin over the SAME ordered log reports the same chain
      val all = Seq(
        (20000000L, 1L, "click"), (10000000L, 1L, "view"), (5000000L, 2L, "click"),
        (30000000L, 1L, "purchase"), (40000000L, 1L, "view"),
        (50000000L, 1L, "click"), (60000000L, 1L, "purchase"))
      val batch = graft.ops.Funnel.earliestChain(
          all.toDF("us", "user_id", "event_type")
            .withColumn("ts", timestamp_micros(col("us"))).drop("us"),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .where(col("steps_done") === 3)
        .collect().map(r => (r.getLong(0),
          r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(batch == got(), "streaming conversions must equal the batch twin's chains")
    } finally q.stop()
  }

  test("streaming heavy hitters: key emitted once, at the exact crossing event") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[EventStreams.Ev]
    val out = EventStreams.heavyHitterStream(spark, src.toDS(), threshold = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("hh_out").start()
    try {
      def ev(id: Long, uid: Long) =
        EventStreams.Ev(id, new java.sql.Timestamp(id * 1000), uid, "click", 1.0)
      // batch 1: user 1 twice, user 2 once — nobody crosses
      src.addData(ev(1, 1), ev(2, 1), ev(3, 2))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM hh_out").isEmpty)
      // batch 2: user 1 crosses at event 5 (its 3rd), user 2 stays at 2
      src.addData(ev(4, 2), ev(5, 1), ev(6, 1))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, became_heavy_us FROM hh_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 5L * 1000000L)))
      // batch 3: user 1 already heavy — never re-emitted; user 2 crosses now
      src.addData(ev(7, 1), ev(8, 2))
      q.processAllAvailable()
      val got2 = spark.sql("SELECT user_id, became_heavy_us FROM hh_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got2 == Set((1L, 5L * 1000000L), (2L, 8L * 1000000L)))
    } finally q.stop()
  }

  test("streaming heavy hitters: idle timeout evicts a key's count, fresh arrivals restart it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[EventStreams.Ev]
    val out = EventStreams.heavyHitterStream(spark, src.toDS(), threshold = 2,
      idleTimeout = Some("2 seconds"))
    // a ProcessingTimeTimeout stream NEVER quiesces (the engine always
    // schedules another batch so due timeouts can fire), so
    // processAllAvailable would block forever — sequence via progress
    // polling on a real trigger instead
    val q = out.writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      .format("memory").queryName("hh_ttl_out").start()
    def awaitInput(n: Long): Unit = {
      val deadline = System.nanoTime + 30000000000L
      def total = q.recentProgress.map(_.numInputRows).sum
      while (total < n && System.nanoTime < deadline) Thread.sleep(100)
      assert(total >= n, s"stream processed only $total of $n expected rows")
    }
    try {
      def ev(id: Long, uid: Long) =
        EventStreams.Ev(id, new java.sql.Timestamp(id * 1000), uid, "click", 1.0)
      src.addData(ev(1, 5))
      awaitInput(1)
      // let the idle timeout lapse (timeouts fire in subsequent batches)
      Thread.sleep(2500)
      src.addData(ev(2, 6))
      awaitInput(2)
      // user 5's count was evicted: this arrival restarts at 1, so the
      // threshold is NOT crossed (with NoTimeout the count would be 2 here)
      src.addData(ev(3, 5))
      awaitInput(3)
      assert(spark.sql("SELECT * FROM hh_ttl_out").isEmpty,
        "an evicted key must restart its count, not resume it")
      // a single batch carrying two arrivals crosses regardless of whether
      // the restarted count survived the inter-batch gap (self-contained —
      // no timing dependence on batch scheduling)
      src.addData(ev(4, 5), ev(5, 5))
      awaitInput(5)
      val deadline = System.nanoTime + 30000000000L
      while (spark.sql("SELECT * FROM hh_ttl_out").isEmpty && System.nanoTime < deadline)
        Thread.sleep(100)
      val got = spark.sql("SELECT user_id, became_heavy_us FROM hh_ttl_out")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == 1 && got.head._1 == 5L &&
        Set(4L * 1000000L, 5L * 1000000L).contains(got.head._2),
        s"user 5 must cross exactly once after the restart, got ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming heavy hitters: within-batch crossing picks the (ts, event_id) order") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[EventStreams.Ev]
    val out = EventStreams.heavyHitterStream(spark, src.toDS(), threshold = 2)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("hh_order_out").start()
    try {
      // same user, added in REVERSE id order within one batch with one ts
      // tie — the op must sort by (ts, event_id), so the 2nd event in that
      // order (id 21, ts 10) is the crossing, not an arrival-order artifact
      def at(id: Long, tsUs: Long) = EventStreams.Ev(
        id, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(tsUs * 1000)),
        7L, "click", 1.0)
      src.addData(at(22, 10), at(21, 10), at(20, 5))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, became_heavy_us FROM hh_order_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((7L, 10L)))
    } finally q.stop()
  }

  test("stream-stream interval join: click joins error of same user within 30 min") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Long, Long, Long)] // (click_id, user, epoch_us)
    val errors = MemoryStream[(Long, Long, Long)] // (err_id, user, epoch_us)
    val cdf = clicks.toDF().toDF("click_id", "user_id", "us")
      .withColumn("c_ts", timestamp_micros(col("us"))).drop("us")
    val edf = errors.toDF().toDF("err_id", "user_id", "us")
      .withColumn("e_ts", timestamp_micros(col("us"))).drop("us")
    val joined = EventStreams.clickErrorJoin(cdf, edf, within = "30 minutes")
      .select(col("click_id"), col("err_us"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out").start()
    try {
      val min = 60L * 1000000L
      clicks.addData((1L, 7L, 40 * min), (2L, 7L, 100 * min), (3L, 8L, 40 * min))
      errors.addData((10L, 7L, 20 * min), (11L, 8L, 90 * min))
      q.processAllAvailable()
      val got = spark.sql("SELECT click_id, err_us FROM ssjoin_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // click 1 (user 7, t=40min) matches error at 20min (within 30 min);
      // click 2 (t=100min) does not (error 80 min earlier); click 3's user-8
      // error is AFTER the click -> no match
      assert(got == Set((1L, 20 * min)))
    } finally q.stop()
  }

  test("stream-static enrichment join: batches join the dimension frame, misses pass NULL-padded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, Long)] // (event_id, dim_key)
    val events = src.toDF().toDF("event_id", "k")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("dk", "tier")
    val out = EventStreams.enrichStream(events, dim, "k", "dk")
      .select(col("event_id"), col("tier"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      src.addData((10L, 1L), (11L, 9L))
      q.processAllAvailable()
      src.addData((12L, 2L))
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, tier FROM enrich_out")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(got == Set((10L, Some("gold")), (11L, None), (12L, Some("silver"))),
        s"got: $got")
    } finally q.stop()
  }

  test("stream-stream LEFT-OUTER interval join: unmatched click emits NULL error after watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Long, Long, Long)] // (click_id, user, epoch_us)
    val errors = MemoryStream[(Long, Long, Long)] // (err_id, user, epoch_us)
    val cdf = clicks.toDF().toDF("click_id", "user_id", "us")
      .withColumn("c_ts", timestamp_micros(col("us"))).drop("us")
    val edf = errors.toDF().toDF("err_id", "user_id", "us")
      .withColumn("e_ts", timestamp_micros(col("us"))).drop("us")
    val joined = EventStreams.clickErrorLeftJoin(cdf, edf,
        within = "30 minutes", watermark = "10 minutes")
      .select(col("click_id"), col("err_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssljoin_out").start()
    try {
      val min = 60L * 1000000L
      // click 1 (user 7) has a matching error; click 2 (user 8) has none
      clicks.addData((1L, 7L, 40 * min), (2L, 8L, 40 * min))
      errors.addData((10L, 7L, 20 * min))
      q.processAllAvailable()
      val matched = spark.sql("SELECT click_id, err_id FROM ssljoin_out")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      // the matched pair may emit now; click 2's NULL row must NOT — the
      // watermark hasn't proven absence yet
      assert(!matched.contains((2L, None)), s"premature outer emit: $matched")
      // advance the watermark far past click 2's horizon (40min + 10min wm)
      errors.addData((11L, 9L, 200 * min))
      clicks.addData((3L, 9L, 200 * min))
      q.processAllAvailable()
      val got = spark.sql("SELECT click_id, err_id FROM ssljoin_out")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(got.contains((1L, Some(10L))), s"matched pair missing: $got")
      assert(got.contains((2L, None)), s"outer row for unmatched click missing: $got")
    } finally q.stop()
  }

  test("dedupStream: duplicate ids within the watermark horizon are dropped, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, Long)] // (event_id, epoch_us)
    val events = src.toDF().toDF("event_id", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val out = EventStreams.dedupStream(events, "event_id", watermark = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream_out").start()
    try {
      val min = 60L * 1000000L
      src.addData((1L, 0L), (1L, 1 * min), (2L, 2 * min))
      q.processAllAvailable()
      src.addData((1L, 3 * min), (3L, 4 * min)) // 1 is still a dup within watermark
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id FROM dedup_stream_out")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(got == Seq(1L, 2L, 3L), s"one row per id: $got")
    } finally q.stop()
  }

  test("streaming corpus cleaning: quality gate + bounded-state dedup compose on the incremental path") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the batch pipeline's gate (token floor + langid) applied to a STREAM
    // of documents, then streaming dedup by normalized fingerprint — the
    // same per-row kernels serve both faces, and duplicate reflows of a doc
    // arriving in later micro-batches are dropped with bounded state
    val src = MemoryStream[(Long, String, Long)] // (doc_id, text, epoch_us)
    val docs = src.toDF().toDF("doc_id", "text", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val gated = docs
      .where(graft.ops.Text.tokenCount(col("text")) >= 5 &&
        graft.ops.Text.langId(col("text")) === "en")
      .withColumn("fp", graft.ops.Text.fingerprint(col("text")))
    val out = EventStreams.dedupStream(gated, "fp", watermark = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("clean_stream_out").start()
    try {
      val min = 60L * 1000000L
      // base AFTER epoch 0: stateful operators treat the initial watermark
      // as epoch 0, so a first-batch row AT ts=0 is already "late" and
      // silently dropped before the dedup state ever sees it
      val base = 1000L * min
      val en = "the cat and the dog sat in it for a while"
      src.addData(
        (1L, en, base),
        (2L, "tiny doc", base + 1 * min),               // fails the token floor
        (3L, "w1 w2 w3 w4 w5 w6 w7 w8", base + 2 * min)) // fails langid
      q.processAllAvailable()
      src.addData(
        (4L, "THE  cat AND the dog sat in it for a  while", base + 3 * min), // reflow dup of 1
        (5L, "the fish and the bird flew to it of a sudden", base + 4 * min))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM clean_stream_out")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(got == Seq(1L, 5L),
        s"gate drops 2 and 3, fingerprint dedup drops the reflowed 4: $got")
    } finally q.stop()
  }

  test("streaming crawl ingestion (r14): WARC split -> HTML extract -> zero-copy upsert world, per epoch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.{Clean, Multimodal, Warc}
    // the full ingestion chain on the INCREMENTAL path: a stream of WARC
    // archives fans out to records per micro-batch (mapPartitions works on
    // streaming Datasets), response payloads extract to text through the
    // codegen'd kernel, and each epoch upserts into a versioned world by
    // doc id — re-crawls of the same page replace their previous extraction
    // (exactly-once per epoch, zero-copy once the log is authoritative)
    val path = tmp() + "/crawl"
    val w = new World(spark, path, Seq(DimSpec("doc_id", DimMapping(0, 1023, 64))))
    w.create(Seq((999L, "seed")).toDF("doc_id", "clean_text"))
    def archive(id: Long, html: String): Multimodal.MediaBytesRow =
      Multimodal.MediaBytesRow(id, Warc.encode(Seq(
        ("warcinfo", "", "software: graft-crawler"),
        ("response", s"https://e.org/$id", html))))
    val src = MemoryStream[(Long, String)] // (doc_id, page html)
    val recs = Warc.split(spark,
      src.toDS().map { case (id, html) => archive(id, html) })
    val cleaned = recs.toDF()
      .where(col("rec_type") === "response")
      .select(col("doc_id"), Clean.extractHtml(col("payload")).as("clean_text"))
    val cp = tmp()
    val q = w.withBuckets(cleaned).writeStream.format("graft")
      .option("graft.mode", "upsert")
      .option("checkpointLocation", cp)
      .start(path)
    try {
      src.addData((1L, "<p>first page</p><div><a href=\"/\">Nav Only</a></div>"),
        (2L, "<p>second page</p>"))
      q.processAllAvailable()
      src.addData((1L, "<p>first page recrawled</p>")) // replaces doc 1
      q.processAllAvailable()
      val got = spark.read.format("graft").load(path)
        .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
      assert(got == Map(1L -> "first page recrawled", 2L -> "second page",
        999L -> "seed"),
        s"per-epoch upsert applied the re-crawl, nav chrome gated out: $got")
    } finally q.stop()
  }

  test("the crawl loop closes (r14): fetched pages stream outlinks through canonicalize + robots into the next frontier") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.{HtmlLinks, UrlCanonical}
    import graft.ops.Robots
    // a crawler is a FIXPOINT: fetched pages yield links, links gate into
    // the frontier, the frontier is what gets fetched next. Per micro-batch:
    // outlink extraction (native kernel) -> resolve root-relative against
    // the page's own host -> canonicalize (the frontier key) -> robots gate
    // -> tryInsert into a url-hash-keyed frontier World, whose conflict
    // rule IS the visited-set semantics (a re-discovered URL is not
    // re-enqueued).
    val rules = Robots.parse(spark, Seq(
      Robots.RobotsTxt("e.org", "User-agent: *\nDisallow: /private\n")).toDS()).toDF()
    val path = tmp() + "/frontier"
    val frontier = new World(spark, path,
      Seq(DimSpec("url_h", DimMapping(0, 1023, 64))))
    // the seed must carry the SAME key the pipeline computes, or the
    // visited-set conflict rule cannot recognize a re-discovered seed
    frontier.create(Seq("https://e.org/seed").toDF("url")
      .select(pmod(xxhash64(col("url")), lit(1024L)).as("url_h"), col("url")))
    val src = MemoryStream[(Long, String)] // (doc_id, page html)
    val q = src.toDS().toDF("doc_id", "html").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val urls = batch
          .select(explode(HtmlLinks(col("html"))).as("href"))
          .select(UrlCanonical(
            when(col("href").startsWith("http"), col("href"))
              .otherwise(concat(lit("https://e.org"), col("href")))).as("url"))
          .distinct()
          .withColumn("host", regexp_extract(col("url"), "^https?://([^/]+)/", 1))
          .withColumn("path", regexp_extract(col("url"), "^https?://[^/]+([^?#]*)", 1))
        val allowed = Robots.gate(urls, rules)
          .where(col("allowed"))
          .select(pmod(xxhash64(col("url")), lit(1024L)).as("url_h"), col("url"))
        frontier.tryInsert(allowed)
        ()
      }
      .option("checkpointLocation", tmp())
      .start()
    try {
      // page 1: one allowed link (twice — must dedup), one robots-blocked,
      // one tracking-param spelling of the seed (canonicalizes to it:
      // already visited, must not re-enqueue)
      src.addData((1L, """<a href="/a">x</a><a href="/a#frag">x</a>
        <a href="/private/x">no</a><a href="https://e.org/seed?utm_source=z">s</a>"""))
      q.processAllAvailable()
      val after1 = spark.read.format("graft").load(path)
        .select("url").as[String].collect().toList.sorted
      assert(after1 == List("https://e.org/a", "https://e.org/seed"),
        s"ep1 frontier: $after1")
      // page 2: re-discovers /a (stays single) and finds /b
      src.addData((2L, """<a href="/a">again</a><a href="/b?z=1&utm_id=t">new</a>"""))
      q.processAllAvailable()
      val after2 = spark.read.format("graft").load(path)
        .select("url").as[String].collect().toList.sorted
      assert(after2 == List("https://e.org/a", "https://e.org/b?z=1",
        "https://e.org/seed"), s"ep2 frontier: $after2")
    } finally q.stop()
  }

  test("late data beyond watermark is dropped from append-mode output") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, String)]
    val events = src.toDF().toDF("us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val agg = EventStreams.tumblingCounts(events, watermark = "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      val h = 3600L * 1000000L
      src.addData((0L, "a"), (10L, "a"))
      q.processAllAvailable()
      // advance event time far: watermark passes hour-0 window end
      src.addData((3 * h, "b"))
      q.processAllAvailable()
      // this event is in hour 0 — behind the watermark — must be dropped
      src.addData((20L, "a"))
      q.processAllAvailable()
      src.addData((4 * h, "b")) // push watermark so hour-3 window could close too
      q.processAllAvailable()
      val hour0 = spark.sql("SELECT n FROM late_out WHERE win_start_us = 0")
        .collect().map(_.getLong(0)).toList
      assert(hour0 == List(2L), s"late row must not join the closed window: $hour0")
    } finally q.stop()
  }

  test("WET export daemon: batches land as bounded shard files; replay is byte-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = tmp()
    val src = MemoryStream[(Long, Long, String, String)]
    val q = Daemon.wetExportStream(outDir,
      src.toDF().toDF("doc_id", "host_id", "uri", "text"), tmp(),
      interval = "1 second", docsPerShard = 2)
    try {
      // batch 0: host 1 gets 3 docs -> blocks 0 (2 docs) and 1 (1 doc)
      src.addData((0L, 1L, "https://h1.example/0", "alpha beta"),
        (1L, 1L, "https://h1.example/1", "gamma"),
        (2L, 1L, "https://h1.example/2", "delta"))
      q.processAllAvailable()
      // batch 1: a second host
      src.addData((10L, 2L, "https://h2.example/10", "epsilon"))
      q.processAllAvailable()
    } finally q.stop()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), new org.apache.hadoop.conf.Configuration())
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .map(_.getPath.getName).filter(_.endsWith(".warc.gz")).sorted
    // bounded: one file per (host, doc-block, epoch), never one per host
    assert(files.toSeq == Seq("wet-h1-b0-e0.warc.gz", "wet-h1-b1-e0.warc.gz",
      "wet-h2-b5-e1.warc.gz"), files.toSeq)
    // round trip: every doc comes back with uri + payload intact
    val got = Warc.readShardFiles(spark, outDir).collect()
      .map(r => (r.target_uri, r.payload)).toSet
    assert(got == Set(
      ("https://h1.example/0", "alpha beta"), ("https://h1.example/1", "gamma"),
      ("https://h1.example/2", "delta"), ("https://h2.example/10", "epsilon")))
    // replay idempotence: re-exporting batch 0's docs under the same epoch
    // rewrites the same file names byte-identically (no duplicate shards)
    val before = files.map { f =>
      val in = fs.open(new org.apache.hadoop.fs.Path(outDir, f))
      try f -> in.readAllBytes().toSeq finally in.close()
    }.toMap
    val replay = Seq((0L, 1L, "https://h1.example/0", "alpha beta"),
      (1L, 1L, "https://h1.example/1", "gamma"),
      (2L, 1L, "https://h1.example/2", "delta"))
      .toDF("doc_id", "host_id", "uri", "text").as[Warc.WetDoc]
    Warc.writeShardFiles(Warc.encodeShards(spark, replay, docsPerShard = 2),
      outDir, epoch = Some(0L))
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .map(_.getPath.getName).filter(_.endsWith(".warc.gz")).sorted
    assert(after.toSeq == files.toSeq, "replay must not create new shards")
    before.foreach { case (f, bytes) =>
      val in = fs.open(new org.apache.hadoop.fs.Path(outDir, f))
      val now = try in.readAllBytes().toSeq finally in.close()
      assert(now == bytes, s"replayed shard $f must be byte-identical")
    }
  }

  test("politeness schedule stream: per-host waves continue across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val urls = src.toDF().toDF("ord", "host")
    val delays = Seq(("a.com", 2000L)).toDF("host", "delay_ms")
    val out = graft.ops.Robots.scheduleStream(urls, delays,
      orderCol = "ord", burst = 4)
    val q = out.writeStream
      .format("memory").queryName("politeness_out")
      .option("checkpointLocation", tmp())
      .outputMode("append")
      .start()
    try {
      // batch 1: five a.com URLs (out of discovery order on purpose) + one
      // directive-less b.com URL
      src.addData((2L, "a.com"), (0L, "a.com"), (1L, "a.com"),
        (3L, "a.com"), (4L, "a.com"), (0L, "b.com"))
      q.processAllAvailable()
      // batch 2: three MORE a.com URLs — waves must continue from rank 5,
      // not restart at 0 (the politeness clock spans batches)
      src.addData((5L, "a.com"), (6L, "a.com"), (7L, "a.com"))
      q.processAllAvailable()
      val got = spark.table("politeness_out")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2))
      val aCom = got.filter(_._1 == "a.com")
      // ranks 0..7 at burst 4 -> waves 0,0,0,0,1,1,1,1; 2000 ms per wave
      assert(aCom.map(_._2).toSeq == (0L to 7L), s"got $got")
      assert(aCom.map(_._3).toSeq == Seq(0L, 0L, 0L, 0L, 1L, 1L, 1L, 1L), s"got $got")
      assert(aCom.map(_._4).toSeq == Seq(0L, 0L, 0L, 0L, 2000L, 2000L, 2000L, 2000L))
      // b.com: no directive -> default 1000 ms, single URL -> wave 0
      assert(got.filter(_._1 == "b.com").toSeq == Seq(("b.com", 0L, 0L, 0L)))
    } finally q.stop()
  }
}
