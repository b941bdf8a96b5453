package graftbench

import graft.ops.{Dedup, Similarity, Text}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** A seeded corpus with planted duplicate clusters, and the exact answers
  * the dedup stages must find. Texts are lowercase words separated by single
  * spaces, so normalization leaves them unchanged and word 3-shingles can be
  * computed here exactly as the engine computes them. */
final class Corpus(seed: Long, val baseDocs: Int, val maxCluster: Int) {
  private val r = new Rng(seed * 101 + 5)
  val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 3000)
      seen += Array.fill(r.between(3, 9))(('a' + r.int(26)).toChar).mkString
    seen.toArray
  }
  private val wordZipf = new Zipf(vocab.length, 1.0)

  /** Cluster of rank i holds about maxCluster / i^0.9 documents (Zipf
    * sizes). Odd ranks (the largest first) are exact copies, even ranks
    * near copies with one token replaced: the work does not depend on the
    * seed, only the content does. */
  val sizes: Array[Int] = Array.tabulate(baseDocs)(i =>
    math.max(1, math.round(maxCluster / math.pow(i + 1, 0.9)).toInt))
  val exact: Array[Boolean] = Array.tabulate(baseDocs)(_ % 2 == 0)
  val size: Int = sizes.sum
  /** Document words (vocabulary indices), by document id. */
  val words: Array[Array[Int]] = new Array(size)
  val cluster: Array[Int] = new Array(size)

  locally {
    val perm = (0 until size).toArray
    (size - 1 to 1 by -1).foreach { i =>
      val j = r.int(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    var next = 0
    sizes.indices.foreach { c =>
      val base = Array.fill(r.between(80, 120))(wordZipf.sample(r) - 1)
      (0 until sizes(c)).foreach { k =>
        val doc =
          if (k == 0 || exact(c)) base
          else {
            val d = base.clone()
            d(r.int(d.length)) = wordZipf.sample(r) - 1
            d
          }
        val id = perm(next); next += 1
        words(id) = doc; cluster(id) = c
      }
    }
  }

  def text(id: Int): String = words(id).map(vocab).mkString(" ")

  /** Distinct word 3-shingles of a document, as sorted keys. */
  val shingles: Array[Array[Long]] = words.map { w =>
    if (w.length < 3) Array(w.foldLeft(17L)((h, x) => h * 31 + x))
    else w.sliding(3).map(t => (t(0).toLong << 42) | (t(1).toLong << 21) | t(2))
      .toArray.distinct.sorted
  }

  /** floor(|a ∩ b| * 100 / |a ∪ b|), the engine's integer Jaccard. */
  def jaccardPct(a: Int, b: Int): Int = {
    val x = shingles(a); val y = shingles(b)
    var i = 0; var j = 0; var inter = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { inter += 1; i += 1; j += 1 } else if (x(i) < y(j)) i += 1 else j += 1
    }
    inter * 100 / (x.length + y.length - inter)
  }

  /** Exact dedup survivors: the smallest id of each distinct text. */
  lazy val survivors: Array[Long] =
    words.indices.groupBy(i => words(i).toSeq).values.map(_.min.toLong).toArray.sorted

  /** Members of each cluster, by cluster. */
  lazy val members: Array[Array[Int]] = {
    val m = Array.fill(baseDocs)(mutable.ArrayBuffer.empty[Int])
    cluster.indices.foreach(i => m(cluster(i)) += i)
    m.map(_.toArray)
  }

  /** Planted pairs meeting `ok`: pairs inside one cluster (exact clusters
    * always qualify). */
  def pairCount(ok: (Int, Int) => Boolean): Long =
    members.indices.map { c =>
      val ms = members(c)
      val n = ms.length.toLong
      if (exact(c)) n * (n - 1) / 2
      else {
        var k = 0L
        for (x <- ms.indices; y <- x + 1 until ms.length) if (ok(ms(x), ms(y))) k += 1
        k
      }
    }.sum

  def planted(a: Int, b: Int, ok: (Int, Int) => Boolean): Boolean =
    cluster(a) == cluster(b) && (exact(cluster(a)) || ok(a, b))
}

/** `dedup_search`: a batch pipeline over the seeded corpus — normalize,
  * quality signals and language id, exact dedup, MinHash-LSH pairs, SimHash
  * pairs and IVF top-k search (which trains its own index) — repeated for
  * the run's seconds. Exact dedup must match the planted truth exactly;
  * pair and search recall are measured against the planted pairs and
  * brute-force kNN computed in set-up. */
object DedupSearch {
  val BaseDocs = 200
  val MaxCluster = 100
  val Vectors = 2000
  val Queries = 100
  val Dim = Similarity.DefaultDim
  val K = 10
  val JaccardPct = 50
  val MaxHamming = 3
  /** Untimed passes before the timed loop: pass time falls for about this
    * many passes while the JIT compiles the planner and the kernels. */
  val WarmPasses = 6

  private def pairKey(a: Column, b: Column): Column =
    a.cast("long").bitwiseOR(shiftleft(b.cast("long"), 32))

  def run(ctx: Ctx): Unit = {
    import ctx._
    val sp = spark
    import sp.implicits._

    final class Setup(val corpus: Corpus, val docs: DataFrame, val emb: DataFrame,
        val queries: DataFrame, val truthKnn: Map[Long, Set[Long]],
        val simhash: Map[Long, Long], val minhashTruth: Long, val simhashTruth: Long)

    val setup = setupRepeated("dedup_search") { _ =>
      spark.catalog.clearCache()
      val c = new Corpus(seed, BaseDocs, MaxCluster)
      val docs = (0 until c.size).map(id => (id.toLong, c.text(id))).toDF("id", "text")
        .repartition(cpus).cache()
      docs.count()
      val er = new Rng(seed * 7 + 11)
      val centers = Array.fill(100)(Array.fill(Dim)(er.gaussian()))
      def vec(): Seq[Float] = {
        val ctr = centers(er.int(centers.length))
        ctr.map(x => (x + 0.6 * er.gaussian()).toFloat).toSeq
      }
      val emb = (0 until Vectors).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
        .repartition(cpus).cache()
      emb.count()
      val queries = (0 until Queries).map(i => (1000000L + i, vec()))
        .toDF("vec_id", "embedding").cache()
      val knn = Similarity.bruteTopK(emb, queries, K).select("q_id", "t_id").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2).toSet }
      val sh = docs.select(col("id"), Dedup.simhash(col("text"))).as[(Long, Long)].collect().toMap
      val mhTruth = c.pairCount((a, b) => c.jaccardPct(a, b) >= JaccardPct)
      val shTruth = c.pairCount((a, b) =>
        java.lang.Long.bitCount(sh(a.toLong) ^ sh(b.toLong)) <= MaxHamming)
      new Setup(c, docs, emb, queries, knn, sh, mhTruth, shTruth)
    }
    val c = setup.corpus
    val charSum = (0 until c.size).map(i => c.text(i).length.toLong).sum

    val passMs = new Samples
    val tracedMs = new Samples
    val untracedMs = new Samples
    val recalls = mutable.Map.empty[String, Double]
    val stageFacts = mutable.Map.empty[String, PlanFacts]
    val outPairs = mutable.Map.empty[String, Long]

    def stage[T](name: String)(f: => T): T = tracer.span(s"ops.$name")(f)

    def collectPairs(name: String, df: DataFrame): Array[Long] = {
      val out = df.select(pairKey(col("id_a"), col("id_b"))).as[Long]
      val keys = stage(name)(out.collect())
      if (tracer.on) stageFacts(name) = PlanFacts.of(out)
      keys
    }

    /** One pass of the pipeline; checks and recall outside the timing. */
    def pass(): () => Unit = tracer.op("pass") {
      val normed = stage("normalize") {
        val n = setup.docs
          .select(col("id"), graft.functions.NormalizeWs(col("text")).as("text")).cache()
        n.count(); n
      }
      val quality = stage("quality") {
        Text.qualitySignals(normed, col("text"))
          .withColumn("lang", Text.langId(col("text")))
          .agg(sum("n_chars_q"), sum(when(col("lang") === "en", 1L).otherwise(0L)))
          .as[(Long, Long)].collect().head
      }
      val exactIds = stage("exact_dedup")(Dedup.exactDedup(normed, "id", "text")
        .select("id").as[Long].collect())
      val mh = collectPairs("minhash_pairs", Dedup.minhashLshPairs(normed, "id", "text"))
      val shp = collectPairs("simhash_pairs", Dedup.simhashPairs(normed, "id", "text", MaxHamming))
      val ann = stage("ann_search")(Similarity.ivfTopK(setup.emb, setup.queries, K)
        .select("q_id", "t_id").as[(Long, Long)].collect())
      normed.unpersist()
      () => {
        check(quality._1 == charSum, s"quality: ${quality._1} chars, want $charSum")
        check(Checks.sameIds(exactIds, c.survivors),
          s"exact dedup kept ${exactIds.length} docs, want ${c.survivors.length}")
        def recall(keys: Array[Long], ok: (Int, Int) => Boolean, truth: Long) =
          Checks.pairRecall(keys.toSeq, c, ok, truth)
        recalls("minhash") =
          recall(mh, (a, b) => c.jaccardPct(a, b) >= JaccardPct, setup.minhashTruth)
        recalls("simhash") = recall(shp, (a, b) =>
          java.lang.Long.bitCount(setup.simhash(a.toLong) ^ setup.simhash(b.toLong)) <= MaxHamming,
          setup.simhashTruth)
        val hits = ann.count { case (q, t) => setup.truthKnn.getOrElse(q, Set.empty)(t) }
        recalls("knn") = hits.toDouble / (Queries * K)
        outPairs("minhash_pairs") = mh.length
        outPairs("simhash_pairs") = shp.length
      }
    }

    (0 until WarmPasses).foreach(_ => pass()()) // untimed

    val gc0 = Heap.gcMillis
    closedLoop { (_, traced) =>
      attempted += 1
      val (verify, ms) = Time.timed(pass())
      passMs.add(ms)
      (if (traced) tracedMs else untracedMs).add(ms)
      verify()
    }
    val gcMs = Heap.gcMillis - gc0
    e2e("heap_mb") = Heap.retainedMb()
    check(recalls("simhash") == 1.0,
      s"simhash pigeonhole blocking is complete, recall ${recalls("simhash")}")
    check(recalls("minhash") >= 0.5, s"minhash pair recall ${recalls("minhash")} below 0.5")
    check(recalls("knn") >= 0.5, s"ivf recall@10 ${recalls("knn")} below 0.5")

    e2e("p50_ms") = passMs.p50
    e2e("p90_ms") = passMs.p90
    e2e("throughput") = c.size * passMs.n / (passMs.ms.sum / 1000.0)
    e2e("recall") = Seq(recalls("knn"), recalls("minhash"), recalls("simhash")).min
    say("setup_s", e2e("setup_s"), "s")
    say("pass_p50_ms", passMs.p50, "ms", passMs.n)
    say("pass_p90_ms", passMs.p90, "ms", passMs.n)
    say("docs_per_s", e2e("throughput"), "1/s", passMs.n)
    say("corpus_docs", c.size, "count")
    say("recall_at_10", recalls("knn"), "ratio", Queries)
    say("minhash_pair_recall", recalls("minhash"), "ratio", setup.minhashTruth.toInt)
    say("simhash_pair_recall", recalls("simhash"), "ratio", setup.simhashTruth.toInt)
    say("heap_mb", e2e("heap_mb"), "MB")
    say("error_ratio", failed.toDouble / math.max(1L, attempted), "ratio", attempted.toInt)

    if (trace) {
      tracer.drain()
      val passes = math.max(1, tracer.named("bench.pass").size)
      // IVF training alone, outside the passes (ivfTopK trains inside)
      tracer.on = true
      tracer.op("ann_build")(tracer.span("ops.ann_build")(
        Similarity.trainCentroids(setup.emb, 64, Dim)))
      tracer.on = false
      tracer.drain()
      Metrics.opsStages.foreach { s =>
        val spans = tracer.named(s"ops.$s")
        val n = math.max(1, spans.size)
        val w = tracer.workFor(spans.flatMap(tracer.subtree))
        val ms = spans.map(_.dur).sum / n
        val busy = w.taskMs / 1000.0 / n
        layer(s"ops.$s.ms") = ms
        layer(s"ops.$s.shuffle_mb") = w.shuffleBytes / 1e6 / n
        layer(s"ops.$s.task_busy_s") = busy
        layer(s"ops.$s.parallel_eff") = if (ms > 0) busy / (ms / 1000.0 * cpus) else 0.0
      }
      Seq("minhash_pairs", "simhash_pairs").foreach { s =>
        val cand = stageFacts.get(s).map(_.joinRows.foldLeft(0L)(math.max)).getOrElse(0L)
        layer(s"ops.$s.candidate_pairs") = cand.toDouble
        layer(s"ops.$s.useful_ratio") = if (cand > 0) outPairs(s).toDouble / cand else 0.0
      }
      layer("ops.ann_search.recall_at_10") = recalls("knn")
      layer("ops.minhash_pairs.recall") = recalls("minhash")
      layer("ops.simhash_pairs.recall") = recalls("simhash")
      val roots = tracer.named("bench.pass")
      layer("driver.jobs_per_op") =
        tracer.workFor(roots.flatMap(tracer.subtree)).jobs.toDouble / passes
      layer("driver.gap_ms_per_op") = roots.map(tracer.gapMs).sum / passes
      layer("driver.gc_ms") = gcMs.toDouble
      layer("trace.overhead_ms") = tracedMs.p50 - untracedMs.p50
      kernelThroughput(ctx, setup.docs, setup.emb)
    }
  }

  /** Kernel-alone throughput over cached inputs: each kernel over every row,
    * reduced with `max` so nothing but the kernel and one hash runs. */
  private def kernelThroughput(ctx: Ctx, docs: DataFrame, emb: DataFrame): Unit = {
    import graft.functions._
    val spark = ctx.spark
    val probe = lit(Array.fill(Dim)(0.5f))
    val ids = spark.range(2000000L).toDF("id").cache()
    ids.count()
    val runs: Seq[(String, DataFrame, Column)] = Seq(
      ("minhash_signature", docs, MinHashSignature(Dedup.shingles(col("text")), 64)),
      ("simhash64", docs, SimHash64(split(col("text"), " "))),
      ("normalize_ws", docs, NormalizeWs(col("text"))),
      ("cosine_sim", emb, CosineSim(col("embedding"), probe)),
      ("chunk_of", ids, ChunkOf(col("id"), 0L, 1024L)))
    runs.foreach { case (name, df, k) =>
      val rows = df.count()
      val q = df.agg(max(xxhash64(k)))
      q.collect()
      val secs = (0 until 3).map(_ => Time.timed(q.collect())._2 / 1000.0)
      ctx.layer(s"functions.$name.rows_per_s") = rows / Stats.median(secs)
    }
    ids.unpersist()
  }
}
