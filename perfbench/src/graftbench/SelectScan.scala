package graftbench

import org.apache.spark.sql.DataFrame

import scala.collection.mutable.ArrayBuffer

/** `select_scan`: closed-loop reads over a seeded, read-only events world.
  * Every query is read twice, so half the reads use each path: the World
  * Select DSL (chunk-granular) and the connector with the same dim
  * predicates (row-exact). Every read is checked against an unpruned filter
  * over the in-memory reference rows. */
object SelectScan {
  /** Every other id of the domain: 1,048,576 rows spread over all 64
    * chunks. */
  val Stride = 2
  val SeededRows: Long = Events.IdDomain / Stride

  /** The read mix, in a fixed cycle so every run sees the same proportions
    * however short it is: 6 hint lookups, 5 single-dim ranges, 5 `and`
    * boxes, 3 `plus` unions and 1 full-scan aggregate per 20 queries. */
  val Cycle: Vector[String] = Vector("hint", "range", "and", "hint", "plus",
    "range", "and", "hint", "full", "range", "and", "hint", "plus", "range",
    "and", "hint", "plus", "range", "and", "hint")

  /** A read of `kind`. Sizes, widths (one chunk up to about a quarter of
    * the grid), range dims and where ranges start inside a chunk come from
    * `qs`; the chunks they start at come from the seeded `r`, hint ids from
    * `hintId`. */
  def query(r: Rng, qs: Quantiles, kind: String, hintId: () => Long): Query = {
    def range(d: Int, chunksWide: Int): (Long, Long) = {
      val ipc = if (d == 0) Events.Ipc0 else Events.Ipc1
      val first = r.int(Events.Grid - chunksWide)
      val lo = first * ipc + (qs.next(s"offset$d", 0.1) * ipc).toLong
      (lo, lo + chunksWide * ipc)
    }
    kind match {
      case "hint" => Query.Hint(Seq.fill(qs.between("hint", 1, 16))(hintId()))
      case "range" =>
        val d = qs.between("rangeDim", 0, 1)
        val (lo, hi) = range(d, Widths.dim.at(qs.next("range")))
        Query.Range(d, lo, hi)
      case "and" => Query.Box(and = true, range(0, Widths.box.at(qs.next("and0"))),
        range(1, Widths.box.at(qs.next("and1", 0.25))))
      case "plus" => Query.Box(and = false, range(0, Widths.plus.at(qs.next("plus0"))),
        range(1, Widths.plus.at(qs.next("plus1", 0.25))))
      case _ => Query.Full
    }
  }

  /** Widths in chunks per dim: a quarter of the grid at most (a `plus` of
    * two one-chunk ranges already covers 15 of 64 chunks). */
  object Widths {
    val dim = new Zipf(2, 1.2)
    val box = new Zipf(4, 1.2)
    val plus = new Zipf(1, 1.2)
  }

  val WarmRounds = 3

  /** The `q`-quantile of each kind's query times, averaged with the kinds'
    * shares of [[Cycle]]. Kinds differ up to threefold in cost and a run
    * holds a few dozen queries, so a plain quantile over the mix lands on
    * the boundary between two kinds and jumps between them from run to run.
    * Kinds without samples are left out. */
  def mixQuantile(byKind: Map[String, Samples], q: Double): Double = {
    val shares = Cycle.groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
      .filter { case (k, _) => byKind.get(k).exists(_.n > 0) }
    if (shares.isEmpty) 0.0
    else shares.map { case (k, w) => w * Stats.pct(byKind(k).ms.toSeq, q) }.sum /
      shares.values.sum
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val (world, model) = setupRepeated("select_scan") { path =>
      val w = Events.open(spark, path)
      w.append(Events.rows(spark, seed, 0L, Events.IdDomain, Stride))
      (w, new Model(seed, Events.IdDomain, Stride))
    }
    val (liveFiles, _, _) = Events.storage(spark, world.path)
    val r = new Rng(seed * 31 + 7)
    val qs = new Quantiles
    def connector = spark.read.format("graft").load(world.path)

    val singles = new Samples
    val byKind = scala.collection.mutable.TreeMap.empty[String, Samples]
    val byQuery = scala.collection.mutable.Map.empty[String, Samples]
    val tracedMs = new Samples
    val untracedMs = new Samples
    val facts = ArrayBuffer.empty[(PlanFacts, Long)]
    var chunksSelected = 0L
    var dslOps = 0
    var memoHits = 0
    var memoProbes = 0
    var lastDf: DataFrame = null
    val dfMs = new Samples
    val selectMs = new Samples

    def read(q: Query, dsl: Boolean, traced: Boolean): (Long, Long) = tracer.op("read") {
      if (traced && dsl) {
        val (d, ms) = Time.timed(tracer.span("world.df")(world.df))
        dfMs.add(ms)
        memoProbes += 1
        if (d eq lastDf) memoHits += 1
        lastDf = d
      }
      val (df, selMs) = Time.timed(tracer.span(if (dsl) "world.select" else "sources.load") {
        if (dsl) {
          val sel = Query.select(world, q)
          if (traced) { chunksSelected += sel.shape.positions.size; dslOps += 1 }
          sel.iter()
        } else connector.where(Query.predicate(q))
      })
      if (traced && dsl) selectMs.add(selMs)
      val agg = Events.summarize(df.select("event_id", "user_id", "value"))
      val row = tracer.span("sources.scan")(agg.collect().head)
      if (traced) facts += ((PlanFacts.of(agg), row.getLong(0)))
      (row.getLong(0), row.getLong(1))
    }

    // warm-up, untimed: JIT and codegen for every query kind through both
    // read paths. Read times still fall steeply after one round; the third
    // leaves a shallow slope, so the timed window starts at the same point
    // of it in every run
    def anyId() = (r.long() >>> 1) % SeededRows * Stride
    for (_ <- 0 until WarmRounds; kind <- Cycle.distinct; dsl <- Seq(true, false))
      read(query(r, new Quantiles, kind, anyId), dsl, traced = false)

    val gc0 = Heap.gcMillis
    // one operation = one query answered through both read paths, DSL
    // first: single reads differ tenfold in cost between paths and kinds
    closedLoop { (i, traced) =>
      val q = query(r, qs, Cycle(i % Cycle.size), anyId)
      var pairMs = 0.0
      Seq(true, false).foreach { dsl =>
        attempted += 1
        val path = if (dsl) "dsl" else "connector"
        val (got, ms) = Time.timed(read(q, dsl, traced))
        pairMs += ms
        singles.add(ms)
        byKind.getOrElseUpdate(s"${q.kind}.$path", new Samples).add(ms)
        val want = if (dsl) Query.expectDsl(model, q) else Query.expectExact(model, q)
        check(Checks.sameRows(got, want), s"${q.kind} read via $path: got $got want $want for $q")
      }
      byQuery.getOrElseUpdate(q.kind, new Samples).add(pairMs)
      (if (traced) tracedMs else untracedMs).add(pairMs)
    }
    val gcMs = Heap.gcMillis - gc0
    e2e("heap_mb") = Heap.retainedMb()
    e2e("p50_ms") = mixQuantile(byQuery.toMap, 0.5)
    e2e("p90_ms") = mixQuantile(byQuery.toMap, 0.9)
    e2e("throughput") = singles.n / (singles.ms.sum / 1000.0)
    e2e("recall") = 1.0

    val (_, dvFiles, diskBytes) = Events.storage(spark, world.path)
    say("setup_s", e2e("setup_s"), "s")
    val queries = byQuery.values.map(_.n).sum
    say("query_p50_ms", e2e("p50_ms"), "ms", queries)
    say("query_p90_ms", e2e("p90_ms"), "ms", queries)
    say("read_p50_ms", singles.p50, "ms", singles.n)
    say("read_p90_ms", singles.p90, "ms", singles.n)
    say("reads_per_s", e2e("throughput"), "1/s", singles.n)
    say("heap_mb", e2e("heap_mb"), "MB")
    byKind.foreach { case (k, v) => say(s"read_p50_ms.$k", v.p50, "ms", v.n) }
    say("error_ratio", failed.toDouble / math.max(1L, attempted), "ratio", attempted.toInt)

    if (trace) {
      tracer.drain()
      val roots = tracer.named("bench.read")
      val n = math.max(1, roots.size).toDouble
      val work = tracer.workFor(roots.flatMap(tracer.subtree))
      val returned = math.max(1L, facts.map(_._2).sum)
      val f = facts.map(_._1)
      layer("world.select.ms") = Stats.mean(selectMs.ms.toSeq)
      layer("world.df.ms") = Stats.mean(dfMs.ms.toSeq)
      layer("world.df.memo_hit_ratio") = memoHits.toDouble / math.max(1, memoProbes)
      layer("core.chunks_selected_per_op") = chunksSelected.toDouble / math.max(1, dslOps)
      layer("plans.plan_ms_per_op") = f.map(_.planMs).sum / n
      layer("plans.partitions_read_per_op") = f.map(_.partitions).sum / n
      layer("plans.files_read_per_op") = f.map(_.files).sum / n
      layer("plans.chunk_prune_ratio") = 1.0 - f.map(_.partitions).sum / (n * liveFiles)
      layer("sources.live_files") = liveFiles
      layer("sources.dv_files") = dvFiles
      layer("sources.bytes_read_per_op") = work.bytesRead / n
      layer("sources.rows_read_per_row_returned") = work.recordsRead.toDouble / returned
      layer("sources.columnar_scan_ratio") =
        f.count(_.columnar > 0).toDouble / math.max(1, f.count(_.scans > 0))
      layer("sources.space_amp") = diskBytes.toDouble / (model.liveRows * Events.RowBytes)
      layer("driver.jobs_per_op") = work.jobs / n
      layer("driver.gap_ms_per_op") = roots.map(tracer.gapMs).sum / n
      layer("driver.gc_ms") = gcMs.toDouble
      layer("trace.overhead_ms") = tracedMs.p50 - untracedMs.p50
    }
  }
}
