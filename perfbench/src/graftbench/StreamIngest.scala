package graftbench

import graft.core.DimMapping
import graft.streaming.Daemon
import graft.world.World
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.collection.mutable.ArrayBuffer

/** `stream_ingest`: an open loop. The main thread adds fresh-id events to
  * an in-process stream source on a fixed schedule, stepping through
  * [[Rates]], while `Daemon.start(mode = "append")` flushes them into a world
  * on the query's own thread. A row's lag is the commit time of the batch
  * that carried it minus the time the row was due. */
object StreamIngest {
  val SeededRows = 200000L
  val Rates: Seq[Int] = Seq(2000, 8000, 32000)
  /** The rate whose lag is the workload's p50/p90. */
  val ReferenceRate = 8000
  val TickMs = 100
  val IntervalMs = 1000
  /** Larger than the number of batches in a run, so the timed window
    * measures the append path alone: a multi-second compaction batch would
    * make the lag depend on where it happens to fall. point_write times
    * compaction. */
  val CompactEvery = 64
  val MaxFilesPerChunk = 4
  /** A rate is sustained when its p90 lag stays under this limit and the
    * backlog at the end of its step is under two intervals of rows. */
  val LagLimitMs = 2500.0

  val IdDomain: Long = 1L << 24
  val Users: Long = Events.Users

  def open(spark: SparkSession, path: String): World =
    World(spark, path)(
      "event_id" -> DimMapping(0L, IdDomain - 1, IdDomain / 16),
      "user_id" -> DimMapping(0L, Users - 1, Users / 16))

  private final case class Block(offset: Long, due: Double, rows: Int, rate: Int)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val sp = spark
    import sp.implicits._
    val world = setupRepeated("stream_ingest") { path =>
      val w = open(spark, path)
      w.append(Events.rows(spark, seed, 0L, SeededRows))
      w
    }

    var nextId = SeededRows
    def rows(n: Int): Seq[(Long, Long, Long)] = (0 until n).map { _ =>
      val id = nextId; nextId += 1
      (id, Gen.user(seed, id, Users), Gen.value(seed, id))
    }
    val source = MemoryStream[(Long, Long, Long)](spark)
    val blocks = ArrayBuffer.empty[Block]
    val late = new Samples

    tracer.on = trace
    tracer.op("ingest") {
      // in a traced run the query thread inherits the root span from here
      val query = tracer.span("streaming.start")(Daemon.start(world,
        source.toDF().toDF("event_id", "user_id", "value"),
        scratchPath("stream_ingest/checkpoint"), interval = s"$IntervalMs milliseconds",
        mode = "append", compactEvery = CompactEvery, maxFilesPerChunk = MaxFilesPerChunk))
      // warm-up, untimed: a few batches through the whole flush path
      (0 until 2).foreach { _ => source.addData(rows(500)); query.processAllAvailable() }
      phase("warm-up done")

      val v0 = Events.version(spark, world.path)
      val (_, _, disk0) = Events.storage(spark, world.path)
      val warmBatches = query.recentProgress.count(_.numInputRows > 0)
      System.gc()
      val gc0 = Heap.gcMillis
      val stepMs = seconds * 1000.0 / Rates.size
      // start on a trigger boundary, so every run splits its ticks into
      // batches the same way
      val t0 = (math.floor(tracer.now / IntervalMs) + 2) * IntervalMs + 50
      var k = 0
      Rates.zipWithIndex.foreach { case (rate, s) =>
        val stepEnd = t0 + (s + 1) * stepMs
        var due = t0 + s * stepMs + 0.0
        while (due < stepEnd) {
          val wait = due - tracer.now
          if (wait > 0) Thread.sleep(wait.toLong)
          late.add(math.max(0.0, tracer.now - due))
          val n = rate * TickMs / 1000
          val off = source.addData(rows(n)).toString.toLong
          blocks += Block(off, due, n, rate)
          k += 1
          due = t0 + k * TickMs
        }
      }
      query.processAllAvailable()
      query.stop()
      phase("timed phase done")
      val gcMs = Heap.gcMillis - gc0
      e2e("heap_mb") = Heap.retainedMb()
      layer("driver.gc_ms") = gcMs.toDouble
      attempted = blocks.map(_.rows.toLong).sum
      val (live, dv, disk1) = Events.storage(spark, world.path)
      val batches = query.recentProgress.count(_.numInputRows > 0) - warmBatches
      layer("sources.live_files") = live
      layer("sources.dv_files") = dv
      layer("sources.versions_per_write") =
        (Events.version(spark, world.path) - v0).toDouble / math.max(1, batches)
      // appends only add files, so the growth on disk is what the window wrote
      layer("sources.bytes_written_per_user_byte") =
        (disk1 - disk0).toDouble / math.max(1L, attempted * Events.RowBytes)
      summarize(ctx, query.recentProgress.toSeq, blocks.toSeq, late)
    }
    tracer.on = false

    // durability: every emitted row, exactly once, through a fresh World
    World.clearReadMemo()
    val (n, sum, distinct) =
      Events.census(open(spark, world.path).df).as[(Long, Long, Long)].collect().head
    val (_, want) = Checks.summary(
      (0L until nextId).map(id => (id, Gen.user(seed, id, Users), Gen.value(seed, id))))
    check(Checks.ingested((n, sum), distinct, nextId, want),
      s"ingested world reads ($n, $sum) with $distinct distinct ids, want ($nextId, $want)")
  }

  private def summarize(ctx: Ctx, progress: Seq[StreamingQueryProgress],
      blocks: Seq[Block], late: Samples): Unit = {
    import ctx._
    def commitOf(p: StreamingQueryProgress): Double =
      java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
    def endOffset(p: StreamingQueryProgress): Long =
      Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(-1L)
    val batches = progress.filter(_.numInputRows > 0).sortBy(_.batchId)
    // a block is committed by the first batch whose end offset reaches it
    val ends = batches.map(endOffset).toArray
    val commits = batches.map(commitOf).toArray
    def commitTime(off: Long): Double = {
      val i = ends.indexWhere(_ >= off)
      if (i >= 0) commits(i) else Double.NaN
    }
    val lagByRate = blocks.groupBy(_.rate).map { case (rate, bs) =>
      // one sample per row: every row of a block shares its lag
      rate -> bs.flatMap(b => Iterator.fill(b.rows)(commitTime(b.offset) - b.due))
    }
    val ok = Rates.map { rate =>
      val bs = blocks.filter(_.rate == rate)
      val stepEnd = bs.map(_.due).max + TickMs
      val committed = bs.filter(b => commitTime(b.offset) <= stepEnd).map(_.rows).sum
      val backlog = bs.map(_.rows).sum - committed
      val p90 = Stats.pct(lagByRate(rate), 0.9)
      say(s"ingest_lag_p50_ms@$rate", Stats.pct(lagByRate(rate), 0.5), "ms", lagByRate(rate).size)
      say(s"ingest_lag_p90_ms@$rate", p90, "ms", lagByRate(rate).size)
      say(s"backlog_rows@$rate", backlog, "count")
      layer("streaming.backlog_rows") =
        math.max(layer.getOrElse("streaming.backlog_rows", 0.0), backlog)
      rate -> (p90 <= LagLimitMs && backlog <= 2 * rate * IntervalMs / 1000)
    }
    val maxRate = ok.collect { case (r, true) => r }.maxOption.getOrElse(0).toDouble
    // drain rate of the flush path: rows per second of batch time over every
    // batch of the timed window. The top rate's step alone holds a handful of
    // batches, too few for a figure that repeats from run to run
    val firstTimed = blocks.map(_.offset).min
    val timed = batches.filter(p => endOffset(p) >= firstTimed)
    val capacity = timed.map(_.numInputRows).sum * 1000.0 /
      math.max(1.0, timed.map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum)
    val ref = lagByRate(ReferenceRate)
    e2e("p50_ms") = Stats.pct(ref, 0.5)
    e2e("p90_ms") = Stats.pct(ref, 0.9)
    e2e("throughput") = capacity
    e2e("recall") = 1.0
    say("setup_s", e2e("setup_s"), "s")
    say("ingest_lag_p50_ms", e2e("p50_ms"), "ms", ref.size)
    say("ingest_lag_p90_ms", e2e("p90_ms"), "ms", ref.size)
    say("ingest_max_rows_per_s", maxRate, "1/s")
    say("ingest_capacity_rows_per_s", capacity, "1/s")
    say("generator_late_p90_ms", late.p90, "ms", late.n)
    say("heap_mb", e2e("heap_mb"), "MB")
    check(!lagByRate.values.flatten.exists(_.isNaN), "a block was never committed")

    if (trace) {
      tracer.drain()
      val root = tracer.named("bench.ingest").head
      val work = tracer.workFor(tracer.subtree(root))
      // batch spans from what the StreamingQueryListener saw
      val heard = tracer.progress.synchronized(tracer.progress.map(_.progress).toSeq)
        .filter(_.numInputRows > 0)
      val spans = heard.map { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val s = tracer.record("streaming.batch", root.id, start, commitOf(p))
        val add = p.durationMs.getOrDefault("addBatch", 0L).toDouble
        val commit = p.durationMs.getOrDefault("commitOffsets", 0L).toDouble
        tracer.record("world.append", s.id, s.end - commit - add, s.end - commit)
        s
      }
      val n = math.max(1, spans.size).toDouble
      val addMs = heard.map(_.durationMs.getOrDefault("addBatch", 0L).toDouble)
      layer("streaming.batch_ms") = Stats.median(spans.map(_.dur))
      layer("streaming.add_batch_ms") = Stats.mean(addMs)
      layer("world.append.ms") = Stats.median(addMs)
      layer("streaming.rows_per_batch") = Stats.mean(heard.map(_.numInputRows.toDouble))
      layer("streaming.generator_late_ms") = late.p90
      layer("driver.jobs_per_op") = work.jobs / n
      layer("driver.gap_ms_per_op") = spans.map(s =>
        s.dur - Intervals.covered(work.jobIntervals.toSeq, s.start, s.end)).sum / n
    }
  }
}
