package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Metric names and units. BENCHMARK.json lists the same names; the
  * self-test checks the two agree. */
object Metrics {
  /** End-to-end metrics, reported by every workload (see README.md for what
    * each means on each workload). */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "p50_ms" -> "ms", "p90_ms" -> "ms",
    "throughput" -> "1/s", "heap_mb" -> "MB", "recall" -> "ratio")

  val opsStages = Seq("normalize", "quality", "exact_dedup", "minhash_pairs",
    "simhash_pairs", "ann_build", "ann_search")
  val kernels = Seq("minhash_signature", "simhash64", "normalize_ws",
    "cosine_sim", "chunk_of")
  val selfLayers = Seq("bench", "world", "sources", "ops", "functions", "streaming")

  /** Per-layer metrics of the traced run. A layer a workload does not
    * exercise reports 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "world.select.ms" -> "ms", "world.df.ms" -> "ms",
    "world.df.memo_hit_ratio" -> "ratio", "world.insert.ms" -> "ms",
    "world.apply_delta.ms" -> "ms", "world.destroy.ms" -> "ms",
    "world.compact.ms" -> "ms", "world.append.ms" -> "ms",
    "core.chunks_selected_per_op" -> "count",
    "plans.plan_ms_per_op" -> "ms", "plans.partitions_read_per_op" -> "count",
    "plans.chunk_prune_ratio" -> "ratio", "plans.files_read_per_op" -> "count",
    "sources.live_files" -> "count", "sources.dv_files" -> "count",
    "sources.versions_per_write" -> "count", "sources.bytes_read_per_op" -> "B",
    "sources.rows_read_per_row_returned" -> "ratio",
    "sources.bytes_written_per_user_byte" -> "ratio",
    "sources.columnar_scan_ratio" -> "ratio", "sources.space_amp" -> "ratio",
    "driver.jobs_per_op" -> "count", "driver.gap_ms_per_op" -> "ms",
    "driver.gc_ms" -> "ms") ++
    opsStages.flatMap(s => Seq(s"ops.$s.ms" -> "ms", s"ops.$s.shuffle_mb" -> "MB",
      s"ops.$s.task_busy_s" -> "s", s"ops.$s.parallel_eff" -> "ratio")) ++
    Seq("ops.minhash_pairs.candidate_pairs" -> "count",
      "ops.minhash_pairs.useful_ratio" -> "ratio",
      "ops.simhash_pairs.candidate_pairs" -> "count",
      "ops.simhash_pairs.useful_ratio" -> "ratio",
      "ops.ann_search.recall_at_10" -> "ratio",
      "ops.minhash_pairs.recall" -> "ratio",
      "ops.simhash_pairs.recall" -> "ratio") ++
    kernels.map(k => s"functions.$k.rows_per_s" -> "1/s") ++
    Seq("streaming.batch_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
      "streaming.rows_per_batch" -> "count", "streaming.backlog_rows" -> "count",
      "streaming.generator_late_ms" -> "ms") ++
    selfLayers.map(l => s"$l.self_ms_per_op" -> "ms") ++
    Seq("trace.overhead_ms" -> "ms", "trace.spans" -> "count")

  val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
}

/** Everything one run shares: session, seed, clock, tracer, checks and the
  * metrics it reports. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val scratch: String) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(spark, trace)
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { if (problems.size < 20) problems += what; failed += 1 }

  /** Prints one human-readable result line (stdout, before the JSON). */
  def say(name: String, v: Double, unit: String, n: Int = -1): Unit =
    println(f"  $name%-28s ${Json.num(math.rint(v * 1e4) / 1e4)}%s $unit%s" +
      (if (n >= 0) s" (n=$n)" else ""))

  /** Runs the set-up `SetupReps` times, each from scratch in a fresh
    * directory under `name` (the previous one deleted first), and reports
    * the median time as `setup_s`. Returns the last set-up. */
  def setupRepeated[T](name: String)(build: String => T): T = {
    var last: Option[T] = None
    val times = (0 until Ctx.SetupReps).map { i =>
      if (i > 0) deleteDir(scratchPath(s"$name/rep${i - 1}"))
      val (r, ms) = Time.timed(build(scratchPath(s"$name/rep$i")))
      last = Some(r)
      ms / 1000.0
    }
    e2e("setup_s") = Stats.median(times)
    phase("set-up done")
    last.get
  }

  private def deleteDir(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  /** Runs `step` in a closed loop until `seconds` have passed: one client,
    * the next operation sent only when the previous returned. In a traced
    * run, operations alternate between traced and untraced. */
  def closedLoop(step: (Int, Boolean) => Unit): Unit = {
    phase("warm-up done")
    val end = Time.nowMs + seconds * 1000.0
    var i = 0
    while (Time.nowMs < end) {
      val traced = trace && i % 2 == 0
      tracer.on = traced
      step(i, traced)
      i += 1
    }
    tracer.on = false
    phase("timed phase done")
  }

  def scratchPath(name: String): String = s"$scratch/$name"

  private val t0 = Time.nowMs
  /** Logs a phase boundary with the time since start (stderr). */
  def phase(name: String): Unit =
    System.err.println(f"[graftbench +${(Time.nowMs - t0) / 1000}%.1fs] $name")
}

object Ctx {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
}

object Main {
  private def session(scratch: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // one dedup_search pass compiles more distinct generated classes than
      // the default 100-entry codegen cache holds; with the default, every
      // pass evicts what the next needs and recompiles it, so warm-up never
      // ends and pass times depend on eviction order
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--selftest")) { SelfTest.main(args.drop(1)); return }
    val workload = arg(args, "workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "trace").contains("1")
    val scratch = arg(args, "scratch").getOrElse(sys.error("--scratch required"))
    val spanDir = arg(args, "spans")
    // one core stays with the driver thread, the JIT compiler and the
    // collector: with a task thread per core they preempt tasks, and stage
    // times (and so every figure) vary from run to run with the scheduler
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors - 1)
    val wl: Ctx => Unit = workload match {
      case "select_scan" => SelectScan.run
      case "point_write" => PointWrite.run
      case "dedup_search" => DedupSearch.run
      case "stream_ingest" => StreamIngest.run
      case other => sys.error(s"unknown workload $other")
    }
    val spark = session(scratch, cpus)
    val ctx = new Ctx(spark, seed, seconds, trace, scratch)
    ctx.phase("session ready")
    println(s"graftbench workload=$workload seed=$seed seconds=$seconds " +
      s"trace=${if (trace) 1 else 0} cpus=$cpus")
    wl(ctx)
    if (trace) {
      ctx.tracer.drain()
      ctx.layer("trace.spans") = ctx.tracer.spans.size.toDouble
      val nOps = math.max(1, ctx.tracer.opsTraced.values.sum)
      val self = ctx.tracer.layerSelfMs
      Metrics.selfLayers.foreach { l =>
        ctx.layer(s"$l.self_ms_per_op") = self.getOrElse(l, 0.0) / nOps
      }
      spanDir.foreach(d => ctx.tracer.dump(new java.io.File(d, s"spans-$workload-seed$seed.jsonl")))
    }
    ctx.phase("checks done")
    ctx.problems.foreach(p => println(s"  CHECK FAILED: $p"))
    val correct = ctx.problems.isEmpty
    val metrics = (if (trace) Metrics.perLayer else Metrics.endToEnd).map { case (n, unit) =>
      val v = (if (trace) ctx.layer else ctx.e2e).getOrElse(n, 0.0)
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(unit)}}"
    }
    spark.stop()
    ctx.phase("session stopped")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, ctx.attempted)}, """ +
      s""""failed": ${ctx.failed}, "metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
