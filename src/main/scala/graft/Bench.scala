package graft
import Harness.jsonString
import org.apache.spark.sql.functions._

object Bench {
  /** The committed full-fidelity bench history: every FULL-suite run appends
    * its JSON line here (narrowed dev runs don't), so the next round's drift
    * check has a complete same-host baseline — the driver's own BENCH_r*.json
    * keeps only a 2000-char stdout tail, which truncates the queries map. */
  private val HistoryFile = new java.io.File("BENCH_HISTORY.jsonl")

  /** Per-query best from the last same-sf line of `history` that is not
    * host_degraded — the cross-round drift baseline (r16), read BEFORE this
    * run appends, so it is genuinely the prior run. Parsed with a regex over
    * the flat shape Bench itself writes (no JSON dependency; names are
    * [a-z0-9_] by construction). Only comparable records count: the record
    * must carry the SAME sf dir (a local sf0.001 iteration must not judge
    * itself against sf0.1 history, nor vice versa). Returns the baseline's
    * name, empty when no line matches. */
  private[graft] def priorBest(sfDir: String,
      history: java.io.File): (String, Map[String, Double]) = {
    val sfTag = "\"sf\":" + jsonString(sfDir)
    val kvNum = "\"([a-z0-9_]+)\":([0-9][0-9.eE+\\-]*)".r
    val found =
      if (!history.isFile) None
      else scala.util.Try {
        val src = scala.io.Source.fromFile(history, "UTF-8")
        val lines = try src.getLines().toVector finally src.close()
        // a contaminated prior (host_degraded) would inflate the baseline
        // and let a 3x-of-already-inflated regression pass as healthy — the
        // drift check only trusts records that trusted themselves
        lines.reverseIterator.find(l =>
          l.contains(sfTag) && !l.contains("\"host_degraded\":true")).flatMap { line =>
          val qStart = line.indexOf("\"queries\":{")
          if (qStart < 0) None
          else {
            val body = line.substring(qStart + "\"queries\":{".length,
              line.indexOf("}", qStart))
            val m = kvNum.findAllMatchIn(body)
              .map(g => g.group(1) -> g.group(2).toDouble).toMap
            if (m.nonEmpty) Some((history.getPath, m)) else None
          }
        }
      }.toOption.flatten
    found.getOrElse(("", Map.empty))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    // TWO fixed canaries, timed before/after the suite and interleaved
    // every `canaryEvery` queries — each data-independent enough that its
    // healthy time is a property of the machine, not the code under test:
    //  - CPU canary: spark.range(5e8).sum — pure compute, no I/O. Catches
    //    cpu starvation / billed steal time (the r5 trap).
    //  - I/O+shuffle canary (r16): a fixed small parquet read plus ONE
    //    32-task hash shuffle (groupBy a synthetic 64-key column). The r15
    //    driver record was contaminated by contention that hit shuffle/
    //    disk/scheduler — another JVM's I/O, page-cache eviction — which
    //    slows real queries while a pure-CPU canary stays "healthy". The
    //    shuffle files are WRITTEN fresh on every invocation (shuffle
    //    reuse never spans jobs), so disk and scheduler contention land on
    //    exactly this number. The input is tiny (customer at any sf); the
    //    canary's healthy time is dominated by fixed per-query machinery,
    //    and health is judged median-relative anyway.
    // A window is healthy only if BOTH canaries are healthy on BOTH sides.
    def canaryCpu(): Double = {
      val t0 = System.nanoTime()
      spark.range(500000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def canaryIo(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/customer.parquet")
        .groupBy((col("c_custkey") % 64).as("k")).agg(count(lit(1)).as("n"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    // dev/test knob (scripts/contention_test.sh tightens it to bracket
    // every query pair); the driver leaves it unset
    val canaryEvery = sys.env.get("SPARK_GRAFT_CANARY_EVERY")
      .map(_.toInt).filter(_ >= 1).getOrElse(20)
    val cpuC = scala.collection.mutable.ArrayBuffer[Double]()
    val ioC = scala.collection.mutable.ArrayBuffer[Double]()
    def sampleCanaries(): Unit = { cpuC += canaryCpu(); ioC += canaryIo() }
    // untimed canary warmup: the FIRST io sample would otherwise pay the
    // one-time plan/codegen/file-index cost (~5x a warm sample) and falsely
    // flag window 0 against the warm median
    canaryCpu(); canaryIo()
    // dev/test seam: marks the start of the TIMED phase so
    // scripts/contention_test.sh can synchronize its hog window with the
    // measured windows instead of guessing warmup duration
    sys.env.get("SPARK_GRAFT_PHASE_FILE").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p), Array.emptyByteArray)
    }
    sampleCanaries()
    // dev-only: SPARK_GRAFT_ONLY=q1_agg,d_simhash narrows the run for
    // iteration; the driver leaves it unset (full suite)
    val queries = Harness.selected
    val narrowed = queries.size < SparkEntry.queries.size
    // (name, [run seconds...], error) — failures are recorded, never silently
    // ignored. Each query is timed as the BEST of 2 consecutive
    // materializations: a single sample let one environmental stall bill
    // 31 s to a 1.7 s query in round 2 and distort the round headline 2x.
    // The second run reuses warmed state (JIT, page cache, codegen'd
    // classes), so best-of-2 measures the code, not the machine's mood;
    // both raw samples are emitted for auditability.
    // per run: (seconds, error). A query's best time is the min over
    // SUCCESSFUL runs only (a fast failure must not masquerade as a fast
    // result), and it is reported as errored only when BOTH runs fail — a
    // transient one-run failure surfaces in "raw"/"flaky", not "errors".
    val windowOf = scala.collection.mutable.Map.empty[String, Int]
    def timedRun(fn: Harness.Query): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      // each run builds the query fresh, so any checkpoint it pinned is
      // dead weight once materialized — it is freed inside the timed window
      // (the release IS part of the operator's cost)
      val err =
        try { Harness.run(spark, sfDir, fn)(Harness.materialize); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
        }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    val results0 = queries.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi > 0 && qi % canaryEvery == 0) sampleCanaries()
      windowOf(name) = cpuC.size - 1
      val two = Seq(timedRun(fn), timedRun(fn))
      // tie-breaker third run ONLY when the two samples can't speak for the
      // code: a >3x spread between successful runs means an environmental
      // stall hit one of them (observed: an idle-host pause billed 87 s to a
      // 2.6 s query — BOTH samples of a pair can be hit), and a 1-of-2
      // failure needs a deciding vote for the flaky-vs-broken call. Bounded:
      // at most one extra run per outlier query, zero for stable ones.
      // 2.5x, not 3: an observed double stall (4.0s/11.6s on a 0.8s query)
      // sat at 2.9x spread and kept its distorted best-of-2
      val ok = two.collect { case (t, None) => t }
      val runs =
        if ((ok.size == 2 && ok.max / ok.min > 2.5) || ok.size == 1) two :+ timedRun(fn)
        else two
      (name, (fn, runs))
    }
    sampleCanaries() // closes the last window (window w = samples w..(w+1))
    // the canary pair that CLOSED the main pass — canary_after_sec must
    // report this one even if a recovery pass appends more samples later
    // (r15 ADVICE: the field's meaning silently shifted when retries ran)
    val mainCloseIdx = cpuC.size - 1
    // a canary is healthy if it's within noise of the run's MEDIAN canary —
    // the median, not the min: one exceptionally fast sample must not drag
    // the threshold under the host's normal spread (observed: minC 0.09 s
    // flagging ordinary 0.3-0.45 s samples), and one degraded window must
    // not inflate it (the mean would). A uniformly-degraded host shows as
    // a high median itself, flagged separately below.
    def medianOf(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val medCpu = medianOf(cpuC.toSeq)
    val medIo = medianOf(ioC.toSeq)
    def healthyCpu(c: Double): Boolean = c <= math.max(3.0 * medCpu, medCpu + 0.5)
    def healthyIo(c: Double): Boolean = c <= math.max(3.0 * medIo, medIo + 0.5)
    def healthyAt(i: Int): Boolean = healthyCpu(cpuC(i)) && healthyIo(ioC(i))
    def windowHealthy(w: Int): Boolean = healthyAt(w) && healthyAt(w + 1)
    val degraded = results0.collect {
      case (name, _) if !windowHealthy(windowOf(name)) => name
    }.toSet
    def best(runs: Seq[(Double, Option[String])]): Double = {
      val ok = runs.collect { case (t, None) => t }
      if (ok.nonEmpty) ok.min else runs.map(_._1).min
    }
    // cross-round drift check (r16): the r14 AND r15 driver records were
    // host-distorted while every canary read healthy — contention the
    // canaries didn't sample still billed 6-30x slowdowns to untouched
    // queries. Any query whose best-of exceeds 3x its best in the prior
    // same-sf BENCH_HISTORY.jsonl line (and by >= 1 s — sub-second
    // churn is commit noise, not contamination) is SUSPECT and gets the
    // same healthy-host recovery run as a degraded-window query. A genuine
    // regression keeps its slow time through the retry (min-over-successes
    // only improves if the retry is actually faster) and surfaces in
    // drift_vs_prior for a human to read.
    val (driftBaseline, prior) = priorBest(sfDir, HistoryFile)
    def driftOf(bests: Map[String, Double]): Map[String, (Double, Double)] =
      bests.flatMap { case (name, cur) =>
        prior.get(name).collect {
          case p if cur > 3.0 * p && cur > p + 1.0 => name -> (p, cur)
        }
      }
    val driftSuspects =
      driftOf(results0.map { case (n, (_, runs)) => n -> best(runs) }.toMap).keySet
    // recovery pass: suspect queries (degraded-window OR drift-flagged) get
    // ONE extra run each, taken only while the host is demonstrably healthy
    // again (both canaries, re-checked every `canaryEvery` retries) —
    // best-of then prefers the healthy sample naturally via
    // min-over-successes
    val retryTargets = degraded ++ driftSuspects
    val retryRuns = scala.collection.mutable.Map.empty[String, (Double, Option[String])]
    // a retry only COUNTS AS A CURE if its own bracketing canary window is
    // healthy — contention resuming right after a healthy leading sample
    // must not let up to canaryEvery contaminated retries clear the record
    val retryWindowOf = scala.collection.mutable.Map.empty[String, Int]
    if (retryTargets.nonEmpty) {
      sampleCanaries()
      var healthyNow = healthyAt(cpuC.size - 1)
      var i = 0
      for ((name, (fn, _)) <- results0 if retryTargets(name) && healthyNow) {
        retryWindowOf(name) = cpuC.size - 1
        retryRuns(name) = timedRun(fn)
        i += 1
        if (i % canaryEvery == 0) {
          sampleCanaries()
          healthyNow = healthyAt(cpuC.size - 1)
        }
      }
      sampleCanaries() // close the retry pass so its last window is bracketed too
    }
    val results = results0.map { case (name, (_, runs)) =>
      (name, runs ++ retryRuns.get(name).toSeq)
    }
    val finalBests = results.map { case (n, runs) => n -> best(runs) }.toMap
    val driftFinal = driftOf(finalBests)
    val qs = results.map { case (k, v) => s"${jsonString(k)}:${best(v)}" }.mkString("{", ",", "}")
    val raw = results.map { case (k, v) => s"${jsonString(k)}:${v.map(_._1).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, v) if v.forall(_._2.isDefined) =>
      s"${jsonString(k)}:${jsonString(v.head._2.get)}" }.mkString("{", ",", "}")
    val flaky = results.collect { case (k, v) if v.exists(_._2.isDefined) && v.exists(_._2.isEmpty) =>
      s"${jsonString(k)}:${jsonString(v.collectFirst { case (_, Some(e)) => e }.get)}" }.mkString("{", ",", "}")
    val total = results.map { case (_, v) => best(v) }.sum
    // run1 total: what a SINGLE cold pass costs — directly comparable to the
    // r1/r2 single-run headline; "value" (min-of-2) is the steady-state
    // number and ~25-30% lower by methodology, not by code speedup
    val totalRun1 = results.map(_._2.head._1).sum
    def cJson(xs: Seq[Double]): String = xs.map(c => f"$c%.3f").mkString("[", ",", "]")
    def winJson(xs: scala.collection.Seq[Double]): String = results.map { case (k, _) =>
      val w = windowOf(k)
      s"${jsonString(k)}:[${f"${xs(w)}%.3f"},${f"${xs(w + 1)}%.3f"}]"
    }.mkString("{", ",", "}")
    // host_degraded marks the record NOT TRUSTWORTHY AS RECORDED: a
    // uniformly slow host (high canary medians — relative checks cannot
    // see uniform degradation, the r5/r14 trap; the absolute floors encode
    // an idle 32-core host at sf0.1: CPU canary ~0.1-0.3 s, I/O+shuffle
    // ~0.1-0.5 s), or a degraded window whose queries could NOT be given a
    // healthy recovery run (the retry pass stops when the host is still
    // sick). A transient window spike that was fully cured by recovery
    // stays visible in degraded_window_queries/raw but does not condemn
    // the whole record — best-of already prefers the healthy sample.
    // a cure needs BOTH a healthy bracketing window AND a retry that
    // actually SUCCEEDED — an errored recovery run leaves only the
    // contaminated samples in best-of, so it must condemn, not clear
    val cured = degraded.filter(name =>
      retryWindowOf.get(name).exists(windowHealthy) &&
        retryRuns.get(name).exists(_._2.isEmpty))
    val uncured = degraded -- cured
    val hostDegraded = medCpu > 1.0 || medIo > 1.5 || uncured.nonEmpty
    val retriedJson = degraded.toSeq.sorted.map(jsonString).mkString("[", ",", "]")
    val uncuredJson = uncured.toSeq.sorted.map(jsonString).mkString("[", ",", "]")
    val driftSusJson = driftSuspects.toSeq.sorted.map(jsonString).mkString("[", ",", "]")
    val driftFinalJson = driftFinal.toSeq.sortBy(_._1).map { case (k, (p, c)) =>
      s"${jsonString(k)}:[${f"$p%.3f"},${f"$c%.3f"}]" }.mkString("{", ",", "}")
    // FIELD ORDER IS LOAD-BEARING: the driver records only the LAST 2000
    // characters of stdout, so all sixteen rounds' BENCH_r*.json wrappers
    // hold a fragment that starts mid-line — with the headline printed
    // FIRST, every recorded tail began inside the queries/raw maps and the
    // record carried no total, no health verdict, nothing a reader could
    // grade from. Large maps (window canaries, queries, raw) lead; the
    // summary scalars (totals, health, drift, sf) close the line so they
    // land inside any suffix-truncated capture.
    val line =
      s"""{"canary":"two interleaved canaries every $canaryEvery queries - cpu: range(5e8).sum, data-independent; io: fixed small parquet read + one 32-task hash shuffle (fresh shuffle files each time, so disk/scheduler contention lands on it). A window is degraded unless BOTH canaries are healthy (<= max(3x median, median+0.5s)) on BOTH sides; degraded-window queries get a healthy-host recovery run. host_degraded = uniform degradation (cpu median > 1s or io median > 1.5s) OR degraded-window queries left WITHOUT a recovery run (uncured_queries) - a cured transient spike stays visible but does not condemn the record. canary_after_sec is the cpu sample that closed the MAIN pass (retry-phase canaries follow in the arrays)","drift":"per-query best-of compared against the last same-sf line of BENCH_HISTORY.jsonl that is not host_degraded: > 3x prior AND > prior+1s = suspect -> healthy-host recovery run; drift_vs_prior lists what remains after recovery (genuine regressions or uncured contamination)","timing":"per-query best of 2 runs, +1 tie-breaker run on >2.5x spread between successes or a 1-of-2 failure, +1 recovery run for degraded-window or drift-suspect queries; value_run1 sums first runs (single-run comparable)","query_window_canaries":${winJson(cpuC)},"query_window_canaries_io":${winJson(ioC)},"queries":$qs,"errors":$errs,"flaky":$flaky,"canaries":${cJson(cpuC.toSeq)},"canaries_io":${cJson(ioC.toSeq)},"canary_every":$canaryEvery,"canary_before_sec":${cpuC.head},"canary_after_sec":${cpuC(mainCloseIdx)},"degraded_window_queries":$retriedJson,"uncured_queries":$uncuredJson,"drift_baseline":${jsonString(driftBaseline)},"drift_suspect_queries":$driftSusJson,"drift_vs_prior":$driftFinalJson,"raw":$raw,"value_run1":$totalRun1,"host_degraded":$hostDegraded,"stamp_utc":"${java.time.Instant.now}","label":${jsonString(sys.env.getOrElse("SPARK_GRAFT_BENCH_LABEL", ""))},"nqueries":${results.size},"metric":"total","value":$total,"unit":"sec","sf":${jsonString(sfDir)}}"""
    // file copy first (survives log interleaving), then the line alone on
    // stdout after Spark is quiet
    java.nio.file.Files.write(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")),
      (line + "\n").getBytes("UTF-8"))
    // full-suite runs extend the committed drift baseline; narrowed dev
    // runs must not pollute it
    if (!narrowed)
      java.nio.file.Files.write(HistoryFile.toPath,
        (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
    System.out.println(line)
    // The harness that grades rounds records only the last ~2000 characters
    // of stdout; the full line above is ~40 KB (291 queries x per-run
    // arrays), so two rounds of PERF comparisons collapsed to parsed:null.
    // Emit a compact totals-only FINAL line — it fits any tail >= ~300
    // chars, so the headline numbers always survive. The full per-query
    // data is unchanged: the complete line above, bench_result.json, and
    // BENCH_HISTORY.jsonl all still carry it.
    val compact =
      s"""{"metric":"total","value":$total,"value_run1":$totalRun1,"nqueries":${results.size},"host_degraded":$hostDegraded,"unit":"sec","sf":${jsonString(sfDir)}}"""
    System.out.println(compact)
    System.out.flush()
  }
}
