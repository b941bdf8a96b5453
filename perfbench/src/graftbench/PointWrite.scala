package graftbench

import graft.world.World
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** `point_write`: a closed loop of keyed point writes and reads over the
  * workload's own events world, on the merge-on-read path. Writes are
  * upserts that relocate ids to another chunk, destroys, fresh inserts and
  * `applyDelta`, with a compaction every [[CompactEvery]] writes (timed as a
  * write). Reads are hint lookups and small boxes biased toward recently
  * written ids. Every answer is checked against an in-memory model, and a
  * fresh `World` over the same path must read back the model's final state. */
object PointWrite {
  val SeededRows = 500000L
  val CompactEvery = 5
  val MaxFilesPerChunk = 4

  /** Fixed op cycle: 6 writes and 4 reads per 10 operations. */
  val Cycle: Vector[String] = Vector("upsert", "hint", "destroy", "box", "insert",
    "upsert", "hint", "delta", "box", "upsert")

  def run(ctx: Ctx): Unit = {
    import ctx._
    val sp = spark
    import sp.implicits._
    val (world, model) = setupRepeated("point_write") { path =>
      val w = Events.open(spark, path)
      w.append(Events.rows(spark, seed, 0L, SeededRows))
      (w, new Model(seed, SeededRows))
    }
    val r = new Rng(seed * 17 + 3)
    val qs = new Quantiles
    var nextFresh = SeededRows
    val recent = new Array[Long](256)
    var recentN = 0
    def touch(id: Long): Unit = { recent(recentN % recent.length) = id; recentN += 1 }
    def recentId(): Long =
      if (recentN > 0 && r.chance(0.7)) recent(r.int(math.min(recentN, recent.length)))
      else (r.long() >>> 1) % nextFresh
    def liveIds(k: Int, exclude: Set[Long] = Set.empty): Seq[Long] = {
      val out = mutable.LinkedHashSet.empty[Long]
      while (out.size < k) {
        val id = (r.long() >>> 1) % nextFresh
        if (model.live(id.toInt) && !exclude(id)) out += id
      }
      out.toSeq
    }
    def relocated(id: Long): (Long, Long, Long) = {
      val u = (model.user(id.toInt) + Events.Ipc1 * r.between(1, Events.Grid - 1)) % Events.Users
      (id, u, r.long() >>> 44)
    }
    def fresh(k: Int): Seq[(Long, Long, Long)] =
      (0 until k).map { _ =>
        nextFresh += 1
        (nextFresh - 1, (r.long() >>> 1) % Events.Users, r.long() >>> 44)
      }
    def frame(rows: Seq[(Long, Long, Long)]): DataFrame = rows.toDF("event_id", "user_id", "value")
    def apply(rows: Seq[(Long, Long, Long)]): Unit =
      rows.foreach { case (id, u, v) => model.put(id, u, v); touch(id) }

    val writes = new Samples
    val reads = new Samples
    val tracedMs = new Samples
    val untracedMs = new Samples
    var writesDone = 0
    var rowsWritten = 0L

    def write(kind: String): Unit = tracer.op("write") {
      kind match {
        case "upsert" =>
          val rows = liveIds(qs.between("upsert", 1, 64)).map(relocated)
          val displaced = tracer.span("world.insert")(world.insert(frame(rows)))
          check(displaced == rows.size, s"upsert displaced $displaced of ${rows.size}")
          apply(rows); rowsWritten += rows.size
        case "insert" =>
          val rows = fresh(qs.between("insert", 1, 64))
          val displaced = tracer.span("world.insert")(world.insert(frame(rows)))
          check(displaced == 0, s"fresh insert displaced $displaced")
          apply(rows); rowsWritten += rows.size
        case "destroy" =>
          val ids = liveIds(qs.between("destroy", 1, 16))
          val removed = tracer.span("world.destroy")(world.destroy(ids))
          check(removed == ids.size, s"destroy removed $removed of ${ids.size}")
          ids.foreach { id => model.remove(id); touch(id) }
        case "delta" =>
          val rm = liveIds(qs.between("delta.rm", 1, 8))
          val moved = liveIds(qs.between("delta.move", 1, 16), rm.toSet).map(relocated)
          val ups = moved ++ fresh(qs.between("delta.fresh", 1, 16))
          val got = tracer.span("world.apply_delta")(
            world.applyDelta(rm.toDF("event_id"), frame(ups)))
          check(got == ((rm.size.toLong, moved.size.toLong)),
            s"applyDelta returned $got, want (${rm.size}, ${moved.size})")
          rm.foreach { id => model.remove(id); touch(id) }
          apply(ups); rowsWritten += ups.size
        case "compact" =>
          tracer.span("world.compact")(world.compact(MaxFilesPerChunk))
      }
    }

    def read(kind: String): Unit = tracer.op("read") {
      val (sel, want) = kind match {
        case "hint" =>
          val ids = Seq.fill(qs.between("hint", 1, 16))(recentId())
          val q = Query.Hint(ids)
          (Query.select(world, q), Query.expectDsl(model, q))
        case _ =>
          val id = recentId()
          val u = model.user(id.toInt)
          val c0 = id / Events.Ipc0 * Events.Ipc0
          val c1 = u / Events.Ipc1 * Events.Ipc1
          val q = Query.Box(and = true,
            (c0, math.min(Events.IdDomain, c0 + Events.Ipc0 * qs.between("box0", 1, 2))),
            (c1, math.min(Events.Users, c1 + Events.Ipc1 * qs.between("box1", 1, 2))))
          (Query.select(world, q), Query.expectDsl(model, q))
      }
      val df = tracer.span("world.select")(sel.iter())
      val row = tracer.span("sources.scan")(
        Events.summarize(df.select("event_id", "user_id", "value")).collect().head)
      val got = (row.getLong(0), row.getLong(1))
      check(Checks.sameRows(got, want), s"$kind read after writes: got $got want $want")
    }

    def isRead(kind: String) = kind == "hint" || kind == "box"
    def step(i: Int, traced: Boolean): Unit = {
      val slot = Cycle(i % Cycle.size)
      // every CompactEvery-th write slot compacts instead
      val kind =
        if (!isRead(slot) && writesDone > 0 && writesDone % CompactEvery == 0) "compact" else slot
      attempted += 1
      val (_, ms) = Time.timed(if (isRead(kind)) read(kind) else write(kind))
      if (isRead(kind)) reads.add(ms) else { writes.add(ms); writesDone += 1 }
      (if (traced) tracedMs else untracedMs).add(ms)
    }

    // warm-up, untimed: the merge-on-read write and read paths once each
    Seq("upsert", "hint").foreach(k => step(Cycle.indexOf(k), traced = false))
    writes.ms.clear(); reads.ms.clear(); tracedMs.ms.clear(); untracedMs.ms.clear()
    writesDone = 0; rowsWritten = 0L; attempted = 0L

    val v0 = Events.version(spark, world.path)
    val (_, _, disk0) = Events.storage(spark, world.path)
    System.gc()
    val gc0 = Heap.gcMillis
    closedLoop(step)
    val gcMs = Heap.gcMillis - gc0
    e2e("heap_mb") = Heap.retainedMb()
    val versions = Events.version(spark, world.path) - v0

    // durability: a fresh World over the same path, read memo dropped
    World.clearReadMemo()
    val reopened = Events.open(spark, world.path)
    val back = Events.census(reopened.df).collect().head
    val (n, sum, distinct) = (back.getLong(0), back.getLong(1), back.getLong(2))
    check(Checks.sameRows((n, sum), model.total) && distinct == model.liveRows,
      s"reopened world reads ($n, $sum) with $distinct distinct ids, " +
        s"model ${model.total}")

    val (liveFiles, dvFiles, diskBytes) = Events.storage(spark, world.path)
    val all2 = writes.ms ++ reads.ms
    e2e("p50_ms") = writes.p50
    e2e("p90_ms") = writes.p90
    e2e("throughput") = all2.size / (all2.sum / 1000.0)
    e2e("recall") = 1.0
    val spaceAmp = diskBytes.toDouble / (model.liveRows * Events.RowBytes)
    say("setup_s", e2e("setup_s"), "s")
    say("write_p50_ms", writes.p50, "ms", writes.n)
    say("write_p90_ms", writes.p90, "ms", writes.n)
    say("read_p50_ms", reads.p50, "ms", reads.n)
    say("read_p90_ms", reads.p90, "ms", reads.n)
    say("ops_per_s", e2e("throughput"), "1/s", all2.size)
    say("space_amp", spaceAmp, "ratio")
    say("heap_mb", e2e("heap_mb"), "MB")
    say("error_ratio", failed.toDouble / math.max(1L, attempted), "ratio", attempted.toInt)

    if (trace) {
      tracer.drain()
      val roots = tracer.named("bench.write") ++ tracer.named("bench.read")
      val n = math.max(1, roots.size).toDouble
      val readRoots = tracer.named("bench.read")
      val writeRoots = tracer.named("bench.write")
      val readWork = tracer.workFor(readRoots.flatMap(tracer.subtree))
      val writeWork = tracer.workFor(writeRoots.flatMap(tracer.subtree))
      def meanMs(name: String) = Stats.mean(tracer.named(name).map(_.dur))
      Seq("world.select", "world.insert", "world.apply_delta", "world.destroy", "world.compact")
        .foreach(s => layer(s"$s.ms") = meanMs(s))
      layer("sources.live_files") = liveFiles
      layer("sources.dv_files") = dvFiles
      layer("sources.versions_per_write") = versions.toDouble / math.max(1, writesDone)
      layer("sources.bytes_read_per_op") = readWork.bytesRead / math.max(1, readRoots.size).toDouble
      // bytes on disk grow by what the window wrote: retired files stay in place
      layer("sources.bytes_written_per_user_byte") =
        (diskBytes - disk0).toDouble / math.max(1L, rowsWritten * Events.RowBytes)
      layer("sources.space_amp") = spaceAmp
      layer("driver.jobs_per_op") = (readWork.jobs + writeWork.jobs) / n
      layer("driver.gap_ms_per_op") = roots.map(tracer.gapMs).sum / n
      layer("driver.gc_ms") = gcMs.toDouble
      layer("trace.overhead_ms") = tracedMs.p50 - untracedMs.p50
    }
  }
}
