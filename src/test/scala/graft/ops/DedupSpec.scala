package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Correctness pinning for the near-dup operators that have no SQL oracle:
  * hand-computable fixtures where the expected pair sets are knowable.
  */
class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("incrementalDedup: cross-batch dedup via a persisted fingerprint world, idempotent replay") {
    import spark.implicits._
    import graft.core.DimMapping
    import graft.world.World
    val path = java.nio.file.Files.createTempDirectory("graft-incdedup").toString
    // full wrapping u64 domain (xxhash64 spans it), 32 chunks
    val w = World(spark, path)("fp64" -> DimMapping(0L, -1L, 1L << 59))
    // doc 3 is a whitespace variant of doc 1 -> same normalized fingerprint
    val b1 = docs((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "alpha  beta   gamma"))
    val f1 = Dedup.incrementalDedup(w, b1, "doc_id", "text")
    assert(f1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // batch 2: doc 10 is a CASE variant of doc 1 (fingerprint lowercases),
    // doc 11 is genuinely new
    val b2 = docs((10L, "ALPHA BETA GAMMA"), (11L, "completely new content"))
    val f2 = Dedup.incrementalDedup(w, b2, "doc_id", "text")
    assert(f2.select("doc_id").as[Long].collect().toSet == Set(11L))
    assert(w.df.count() == 3, "store holds one row per distinct fingerprint ever seen")
    // replaying batch 2 is a no-op: nothing fresh, nothing double-registered
    val f3 = Dedup.incrementalDedup(w, b2, "doc_id", "text")
    assert(f3.isEmpty)
    assert(w.df.count() == 3)
    // every batch's pinned anti-join result must be releasable: after the
    // consumer is done, no checkpoint blocks stay in executor storage
    assert(Pins.retainedCount > 0, "incrementalDedup should pin its batches")
    Pins.releaseAll()
    assert(Pins.retainedCount == 0)
    val deadline = System.nanoTime() + 10000000000L
    while (spark.sparkContext.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"pinned RDDs still persisted: ${spark.sparkContext.getPersistentRDDs.keySet}")
  }

  test("incrementalNearDedup: cross-batch SimHash dedup catches near-dups exact dedup cannot") {
    import spark.implicits._
    import graft.core.DimMapping
    import graft.world.World
    val path = java.nio.file.Files.createTempDirectory("graft-incnear").toString
    val w = World(spark, path)("blk64" -> DimMapping(0L, -1L, 1L << 59))
    val b1 = docs((1L, "alpha beta gamma"), (2L, "totally different words here"))
    val f1 = Dedup.incrementalNearDedup(w, b1, "doc_id", "text")
    assert(f1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(w.df.count() == 8, "4 block rows per admitted doc")
    // doc 10 doubles every word of doc 1: a DIFFERENT text (md5 fingerprint
    // dedup would admit it) with an IDENTICAL SimHash (votes scale, signs
    // don't) — the near-dup store must drop it; doc 11 is genuinely new
    val b2 = docs((10L, "alpha alpha beta beta gamma gamma"),
      (11L, "brand new content entirely"))
    val f2 = Dedup.incrementalNearDedup(w, b2, "doc_id", "text")
    assert(f2.select("doc_id").as[Long].collect().toSet == Set(11L))
    // the dropped doc 10 registers its blocks too (near-duplication is not
    // transitive — a future doc near only doc 10 must still be caught)
    assert(w.df.count() == 16)
    // replay is idempotent
    val f3 = Dedup.incrementalNearDedup(w, b2, "doc_id", "text")
    assert(f3.isEmpty)
    assert(w.df.count() == 16)
    // within-batch near-dups resolve before registration: larger id drops
    // from the RESULT but still registers (loser-witness semantics)
    val b3 = docs((21L, "zeta zeta eta eta theta theta"), (20L, "zeta eta theta"))
    val f4 = Dedup.incrementalNearDedup(w, b3, "doc_id", "text")
    assert(f4.select("doc_id").as[Long].collect().toSet == Set(20L))
    assert(w.df.count() == 24)
    // PARTIAL-registration repair: simulate a run that crashed mid-commit
    // by destroying 2 of doc 1's 4 block rows (blk64 = doc_id*4 + blockIdx)
    w.destroy(Seq(1L * 4 + 2, 1L * 4 + 3))
    assert(w.df.count() == 22)
    // replaying doc 1's batch admits nothing (self-hit on the surviving
    // blocks) but MUST re-register the missing block rows — otherwise a
    // future near-dup sharing only a destroyed block would slip through
    val f5 = Dedup.incrementalNearDedup(w, b1, "doc_id", "text")
    assert(f5.isEmpty, "replay after partial registration must admit nothing")
    assert(w.df.count() == 24, "missing block rows must be repaired on replay")
    Pins.releaseAll()
    assert(Pins.retainedCount == 0)
  }

  test("incrementalMinHashLsh: banded store is bands rows per observed doc; replay and repair hold") {
    import spark.implicits._
    import graft.core.DimMapping
    import graft.world.World
    val path = java.nio.file.Files.createTempDirectory("graft-incmh").toString
    val w = World(spark, path)("bk64" -> DimMapping(0L, -1L, 1L << 59))
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val t2 = "totally different words occupy this second document entirely " +
      "with no overlap of any shingle at all anywhere in it"
    val b1 = docs((1L, t1), (2L, t2))
    val f1 = Dedup.incrementalMinHashLsh(w, b1, "doc_id", "text")
    assert(f1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(w.df.count() == 16, "8 band rows per observed doc — O(bands x docs)")
    // doc 10 appends ONE word to doc 1's 20 (jaccard 18/19): a different
    // exact fingerprint, but high enough similarity that the banded join
    // collides (deterministic under the fixed xxhash seeds — pinned here);
    // doc 11 is genuinely new
    val b2 = docs((10L, t1 + " phi"),
      (11L, "completely unrelated content lives inside this new fresh row today"))
    val f2 = Dedup.incrementalMinHashLsh(w, b2, "doc_id", "text")
    assert(f2.select("doc_id").as[Long].collect().toSet == Set(11L),
      "a shingle-level near-copy of a batch-1 doc must hit the band store")
    assert(w.df.count() == 32, "losers register too (non-transitivity witness)")
    // replay is idempotent: nothing fresh, nothing re-registered
    val f3 = Dedup.incrementalMinHashLsh(w, b2, "doc_id", "text")
    assert(f3.isEmpty)
    assert(w.df.count() == 32)
    // within-batch: smaller id wins; the loser still registers
    val b3 = docs((21L, t2 + " coda"), (20L, t2))
    val f4 = Dedup.incrementalMinHashLsh(w, b3, "doc_id", "text")
    assert(f4.select("doc_id").as[Long].collect().isEmpty ||
      f4.select("doc_id").as[Long].collect().toSet == Set(20L),
      "20 can only survive or lose to the STORE (doc 2), never to 21")
    assert(w.df.count() == 48)
    // partial-registration repair: destroy 3 of doc 1's 8 band rows
    // (bk64 = doc_id*8 + band), then replay doc 1's batch — admits nothing
    // (self-hit on surviving bands), re-registers the missing rows
    w.destroy(Seq(1L * 8 + 5, 1L * 8 + 6, 1L * 8 + 7))
    assert(w.df.count() == 45)
    val f5 = Dedup.incrementalMinHashLsh(w, b1, "doc_id", "text")
    assert(f5.isEmpty, "replay after partial registration admits nothing")
    assert(w.df.count() == 48, "missing band rows repaired on replay")
    // a doc with NO shingles (whitespace-only text; short docs still yield
    // one all-words shingle) passes through fresh and never registers
    val f6 = Dedup.incrementalMinHashLsh(w, docs((30L, "   ")),
      "doc_id", "text")
    assert(f6.select("doc_id").as[Long].collect().toSet == Set(30L))
    assert(w.df.count() == 48)
    Pins.releaseAll()
    assert(Pins.retainedCount == 0)
  }

  test("incrementalNearDedup kept-only mode: store bounded by admissions; the recall hole is exactly the documented triple") {
    import spark.implicits._
    import graft.core.DimMapping
    import graft.world.World
    // find a triple of texts with ham(a,b)<=3, ham(b,c)<=3, ham(a,c)>3 by
    // searching the simhash expression itself (deterministic: fixed pool,
    // first hit in lexicographic scan order wins)
    // candidates = single/double edits of a fixed base doc: simhash is a
    // per-bit vote sum, so one appended/replaced word flips only the bits
    // whose vote was near zero — exactly the small-Hamming neighborhood
    val base = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta")
    val pool = Vector("iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigma", "tau", "upsilon")
    val texts = (pool.map(w => (base :+ w).mkString(" ")) ++
      (for (w1 <- pool; w2 <- pool if w1 < w2)
        yield (base :+ w1 :+ w2).mkString(" ")) ++
      (for (i <- base.indices; w <- pool)
        yield base.updated(i, w).mkString(" "))).distinct.toVector
    val hs = texts.toDF("text").select(col("text"), Dedup.simhash(col("text")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(x: String, y: String) = java.lang.Long.bitCount(hs(x) ^ hs(y))
    val triple = (for {
      a <- texts.iterator; b <- texts.iterator
      if ham(a, b) <= 3 && ham(a, b) > 0
      c <- texts.iterator
      if ham(b, c) <= 3 && ham(b, c) > 0 && ham(a, c) > 3
    } yield (a, b, c)).nextOption()
    assert(triple.nonEmpty, "pool must contain a chain triple")
    val (ta, tb, tc) = triple.get

    def freshIds(w: World, b: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearDedup(w, b, "doc_id", "text", registerLosers = false)
        .select("doc_id").as[Long].collect().toSet

    // kept-only world: batch1 = {A, B near A} -> B drops and does NOT register
    val path = java.nio.file.Files.createTempDirectory("graft-keptonly").toString
    val w = World(spark, path)("blk64" -> DimMapping(0L, -1L, 1L << 59))
    assert(freshIds(w, docs((1L, ta), (2L, tb))) == Set(1L))
    assert(w.df.count() == 4, "kept-only: 4 block rows for the single admission")
    // batch2 = {C near B only}: the documented hole — C is a false fresh
    // here, while the default mode (loser registered) catches it
    assert(freshIds(w, docs((3L, tc))) == Set(3L),
      "kept-only mode admits a doc near only a dropped loser (documented)")
    assert(w.df.count() == 8)
    // same stream under the DEFAULT mode drops C via B's registered blocks
    val path2 = java.nio.file.Files.createTempDirectory("graft-allreg").toString
    val w2 = World(spark, path2)("blk64" -> DimMapping(0L, -1L, 1L << 59))
    Dedup.incrementalNearDedup(w2, docs((1L, ta), (2L, tb)), "doc_id", "text")
    assert(Dedup.incrementalNearDedup(w2, docs((3L, tc)), "doc_id", "text").isEmpty,
      "default mode catches the same doc through the loser's registration")
    // kept-only replay: nothing re-admitted, store unchanged
    assert(freshIds(w, docs((1L, ta), (2L, tb))).isEmpty)
    assert(w.df.count() == 8)
    // kept-only partial-registration repair: losing 2 of doc 1's block rows
    // then replaying its batch restores them without re-admitting
    w.destroy(Seq(1L * 4 + 2, 1L * 4 + 3))
    assert(w.df.count() == 6)
    assert(freshIds(w, docs((1L, ta), (2L, tb))).isEmpty)
    assert(w.df.count() == 8, "self-hit replay must repair partial registration")
    Pins.releaseAll()
    assert(Pins.retainedCount == 0)
  }

  test("semanticDedup: paraphrase groups keep their lowest id; sub-threshold pairs both survive") {
    import spark.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // sorted-id layout puts one member of each distinct direction at the
    // trainer's evenly-spaced init positions (0,2,4,6 for n=8, k=4), so the
    // k-means clusters are the four directions and the fixture is stable:
    // three "paraphrase" pairs (base + small perturbation, cosine > 0.999)
    // and one sub-threshold pair (cosine ~= 0.71 < 0.95)
    val emb = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0.999, 0.01, 0, 0)),
      (3L, v(0, 1, 0, 0)), (4L, v(0.01, 0.999, -0.01, 0)),
      (5L, v(0, 0, 1, 0)), (6L, v(0, 0.02, 0.998, 0.01)),
      (7L, v(0, 0, 0, 1)), (8L, v(0, 0, 0.7, 0.714))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, threshold = 0.95, nlist = 4, dim = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L, 5L, 7L, 8L),
      "each paraphrase pair keeps its min id; the cosine-0.71 pair is untouched")
    // recall floor on the planted paraphrases: every copy was dropped
    assert(!out.contains(2L) && !out.contains(4L) && !out.contains(6L))
  }

  test("shingles: distinct word 3-grams in order") {
    import spark.implicits._
    val got = docs((1L, "a b c d c d e"))
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d", "c d c", "d c d", "c d e"))
  }

  test("native shingles are byte-identical to the HOF formulation on edge cases") {
    import spark.implicits._
    // the HOF chain WordShingles replaced, kept as the semantic pin
    def hofShingles(text: org.apache.spark.sql.Column, n: Int) = {
      val words = split(lower(trim(text)), "\\s+")
      array_distinct(filter(
        transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
          i => concat_ws(" ", slice(words, i + 1, lit(n)))),
        s => s =!= ""))
    }
    val fixtures = Seq(
      "a b c d c d e",
      "",                      // empty -> no shingles
      "   ",                   // spaces only
      "one",                   // shorter than n -> single all-words shingle
      "one two",               // two words < n
      "MiXeD CaSe WORDS here", // lowering
      "\ttab\nnewline lead",   // non-space whitespace survives trim -> empty first word
      " padded   with   runs  of spaces ",
      "dup dup dup dup dup"    // heavy duplication
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = fixtures.toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3, 5)) {
      val nat = df.select(col("doc_id"), Dedup.shingles(col("text"), n).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      val hof = df.select(col("doc_id"), hofShingles(col("text"), n).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      assert(nat == hof, s"divergence at n=$n")
    }
  }

  test("exact duplicates always collide in MinHash-LSH; disjoint texts never pass verify") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different words about spark catalyst partitions and shuffles"))
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 100L)), s"got $pairs")
  }

  test("minhash LSH finds high-overlap near-duplicates") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    val near = base.replaceFirst("alpha", "ALPHA2")
    val d = docs((1L, base), (2L, near),
      (3L, "unrelated totally separate vocabulary in this one document here now"))
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: pairs returned are exactly those with true hamming distance <= maxDist") {
    val base = "one two three four five six seven eight nine ten eleven twelve " * 4
    val d = docs((1L, base), (2L, base), (3L, base + " thirteen"),
      (4L, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo"))
    // ground truth: hamming distance from the simhash expression itself
    val hashes = d.select(col("doc_id"), Dedup.simhash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
    val expected = (for {
      a <- hashes.keys; b <- hashes.keys if a < b && ham(a, b) <= 3
    } yield ((a, b), ham(a, b).toLong)).toMap
    val pairs = Dedup.simhashPairs(d, "doc_id", "text", maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs == expected, s"blocking must find exactly the true pairs: $pairs vs $expected")
    assert(pairs.get((1L, 2L)) == Some(0L), "identical texts -> hamming 0")
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L }, "disjoint text unpaired")
  }

  test("ngram jaccard: exact percent on a hand-computed pair") {
    // A: shingles {a b c, b c d, c d e} ; B: {a b c, b c x, c x y}
    // inter = 1, union = 5 -> 20% (below 0.5 threshold -> excluded)
    val d = docs((1L, "a b c d e"), (2L, "a b c x y"), (3L, "a b c d e"))
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs == Map((1L, 3L) -> 100L), s"got $pairs")
    val loose = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(loose((1L, 2L)) == 20L)
  }

  test("ngram jaccard: PPJoin filters are exact vs brute force on a self-similar random corpus") {
    // The accumulated-overlap positional filter is soundness-critical: a
    // too-tight bound silently drops true pairs. Pin it against an in-memory
    // brute force on the adversarial shape (tiny vocab -> docs share most
    // shingles, candidate volume is maximal) across two thresholds.
    val rng = new scala.util.Random(4242)
    val vocab = Vector("ga", "bu", "zo", "meu", "ta", "ri", "po", "na", "ke", "lu", "si", "do")
    val organic = (1L to 100L).map { id =>
      val len = 5 + rng.nextInt(36)
      id -> Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    // planted near-dups across the whole similarity range: suffix-append
    // (high J), prefix-drop (mid J), and exact copies (J=1)
    val planted = organic.take(20).flatMap { case (id, t) =>
      val words = t.split(" ").toSeq
      Seq(
        (id + 1000L) -> (t + " " + vocab((id % vocab.size).toInt)),
        (id + 2000L) -> words.drop(words.length / 4).mkString(" "),
        (id + 3000L) -> t)
    }
    val corpus = organic ++ planted
    def bruteShingles(t: String): Set[String] = {
      val w = t.trim.toLowerCase.split("\\s+").toSeq
      (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val sets = corpus.map { case (id, t) => id -> bruteShingles(t) }.toMap
    for (threshold <- Seq(0.5, 0.3)) {
      val expected = (for {
        a <- sets.keys; b <- sets.keys
        if a < b && sets(a).nonEmpty && sets(b).nonEmpty
        inter = (sets(a) & sets(b)).size.toLong
        uni = (sets(a) | sets(b)).size.toLong
        if inter * 100 >= uni * (threshold * 100).toLong
      } yield ((a, b), inter * 100L / uni)).toMap
      val got = Dedup.ngramJaccardPairs(docs(corpus: _*), "doc_id", "text",
          n = 3, threshold = threshold)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(got == expected,
        s"t=$threshold: missing=${(expected.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- expected.keySet).take(5)}")
      assert(expected.nonEmpty, s"t=$threshold fixture must exercise true pairs")
    }
  }

  test("connectedComponents: chain, clique, isolated node all converge to min-id groups") {
    import spark.implicits._
    // chain 1-2-3-4 (transitivity!), clique 10-11-12, isolated 20
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("src", "dst")
    val got = Dedup.connectedComponents(ids, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("connectedComponents: long chain converges within the O(log) round budget") {
    import spark.implicits._
    // a 200-node path: naive one-hop propagation would need 200 rounds;
    // pointer jumping must close it inside maxIter=25
    val n = 200L
    val ids = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Dedup.connectedComponents(ids, edges, maxIter = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall(_._2 == 1L), s"all labels must reach 1: ${got.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("duplicateSpans: shared runs merge to maximal spans; separated passages split; minDocs gates") {
    val d = docs(
      1L -> "a b c d e f",
      2L -> "x y a b c d z",
      // doc 3 shares TWO separated passages with doc 4 -> two islands
      3L -> "p q r s GAP1 GAP2 t u v w",
      4L -> "p q r s OTHER WORDS t u v w")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // docs 1/2 share "a b c d": grams 'a b c','b c d' -> one span of 4 tokens
    // docs 3/4 share "p q r s" (pos 0..3) and "t u v w" (3:6..9, 4:6..9)
    assert(spans == Set(
      (1L, 0L, 3L, 4L), (2L, 2L, 5L, 4L),
      (3L, 0L, 3L, 4L), (3L, 6L, 9L, 4L),
      (4L, 0L, 3L, 4L), (4L, 6L, 9L, 4L)), s"got $spans")
    // minDocs = 3: no 3-gram spans three documents here
    assert(Dedup.duplicateSpans(d, "doc_id", "text", k = 3, minDocs = 3).count() == 0)
    // a doc shorter than k produces no grams and no failure
    assert(Dedup.duplicateSpans(docs(1L -> "a b", 2L -> "a b"), "doc_id", "text", k = 3)
      .count() == 0)
  }

  test("stripDuplicateSpans: covered tokens drop, survivors rejoin in order, empty docs vanish") {
    val d = docs(
      1L -> "a b c d e f",
      2L -> "x y a b c d z",
      5L -> "a b c d",  // fully covered by the shared passage -> vanishes
      6L -> "solo text entirely unshared")
    val clean = Dedup.stripDuplicateSpans(d, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(clean == Map(
      1L -> "e f", 2L -> "x y z", 6L -> "solo text entirely unshared"),
      s"got $clean")
  }

  test("exactDedup keeps lowest id per identical text") {
    val d = docs((5L, "same text"), (2L, "same text"), (9L, "other text"))
    val kept = Dedup.exactDedup(d, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L))
  }

  test("incrementalWinnow: partial-overlap suppression across batches, idempotent replay") {
    import spark.implicits._
    import graft.core.DimMapping
    import graft.world.World
    val path = java.nio.file.Files.createTempDirectory("graft-incwinnow").toString
    val w = World(spark, path)("fp52" -> DimMapping(0L, -1L, 1L << 48))
    val sharedSpan = "thisverysamesharedboilerplatespan"
    // batch 1: docs 1 and 2 are unrelated; doc 3 REUSES doc 1's span with
    // different surroundings -> within-batch partial overlap, bigger id drops
    val b1 = docs(
      (1L, "uniqueleadingcontent" + sharedSpan + "uniquetrailing"),
      (2L, "zqxwvkjhgfdszqxwvkjhgfds"),
      (3L, "otherprefixgoeshere" + sharedSpan + "othertail"))
    val f1 = Dedup.incrementalWinnow(w, b1, "doc_id", "text")
    assert(f1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // batch 2: doc 10 reuses the span (store hit -> dropped), doc 11 is a
    // pure digit string (cannot share any gram with letter text -> kept),
    // doc 12 is shorter than k (no fingerprints -> kept)
    val b2 = docs(
      (10L, "freshopening" + sharedSpan + "freshclosing"),
      (11L, "0123456789012345678901234567"),
      (12L, "tiny"))
    val f2 = Dedup.incrementalWinnow(w, b2, "doc_id", "text")
    assert(f2.select("doc_id").as[Long].collect().toSet == Set(11L, 12L))
    // replay: doc 11's own fingerprints registered, so it now self-hits and
    // nothing is fresh; the store's tryInsert keeps re-registration a no-op
    val storeN = w.df.count()
    val f3 = Dedup.incrementalWinnow(w, b2, "doc_id", "text")
    assert(f3.select("doc_id").as[Long].collect().toSet == Set(12L))
    assert(w.df.count() == storeN)
    // minShared raises the bar: with a high threshold the same reuse passes
    val path2 = java.nio.file.Files.createTempDirectory("graft-incwinnow2").toString
    val w2 = World(spark, path2)("fp52" -> DimMapping(0L, -1L, 1L << 48))
    Dedup.incrementalWinnow(w2, b1, "doc_id", "text", minShared = 1000)
    val loose = Dedup.incrementalWinnow(w2, b2, "doc_id", "text", minShared = 1000)
    assert(loose.select("doc_id").as[Long].collect().toSet == Set(10L, 11L, 12L))
    Pins.releaseAll()
  }

  // ---- single-shuffle near-dup pairs: exactness against brute force ----

  /** Rows as (id_a, id_b, third), asserting the pair contract on the way:
    * id_a < id_b and no pair emitted twice. */
  private def pairRows(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] = {
    val rows = df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(rows.forall { case ((a, b), _) => a < b }, "every pair has id_a < id_b")
    assert(rows.map(_._1).distinct.length == rows.length, "no pair emitted twice")
    rows.toMap
  }

  /** `rows` as a DataFrame over an RDD of `parts` partitions (an RDD scan,
    * so no projection over it folds into a local relation at plan time). */
  private def rddDocs(rows: Seq[(Long, String)], parts: Int) = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, parts).toDF("doc_id", "text")
  }

  /** MinHash fixture: a 64-copy hot bucket, one-token edits (collide in
    * most bands), a family of mid-similarity variants (some collide only in
    * the last band), short, empty, whitespace-only and null texts. */
  private lazy val minhashCorpus: Seq[(Long, String)] = {
    val rng = new scala.util.Random(1107)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    def words(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size)))
    val hot = words(40).mkString(" ")
    val edit = words(100)
    val mid = words(40)
    (0 until 64).map(i => (1000L + i) -> hot) ++
      (0 until 8).map(i => (2000L + i) -> edit.updated(i * 11, "edited").mkString(" ")) ++
      (0 until 70).map { i =>
        val w = (0 until 1 + i % 3).foldLeft(mid)((ws, _) =>
          ws.updated(rng.nextInt(ws.size), vocab(rng.nextInt(vocab.size))))
        (3000L + i) -> w.mkString(" ")
      } ++
      (0 until 20).map(i => (4000L + i) -> words(5 + rng.nextInt(30)).mkString(" ")) ++
      Seq(5000L -> "", 5001L -> "", 5002L -> "   ", 5003L -> " \t ", 5004L -> null,
        5005L -> null, 5006L -> "one", 5007L -> "one", 5008L -> "one two")
  }

  test("minhashLshPairs: exactly the brute-force pair set, each pair once, in any partitioning") {
    import spark.implicits._
    val t = rddDocs(minhashCorpus, 2)
    val keyed = t.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"),
        graft.functions.MinHashBandKeys(Dedup.shingles(col("text")), 64, 8).as("bk"))
      .as[(Long, Option[Seq[String]], Option[Seq[Long]])].collect()
      .collect { case (id, Some(sh), Some(bk)) if sh.nonEmpty => (id, sh.toSet, bk) }
    // lowest colliding band of every colliding pair, and its exact percent
    val colliding = for {
      x <- keyed; y <- keyed if x._1 < y._1
      low = x._3.indices.find(i => x._3(i) == y._3(i)) if low.isDefined
    } yield ((x._1, y._1), (low.get, (x._2 & y._2).size * 100L / (x._2 | y._2).size))
    val dp = spark.sparkContext.defaultParallelism
    for (threshold <- Seq(0.5, 0.3); parts <- Seq(1, 3 * dp + 1)) {
      val expected = colliding.collect {
        case (p, (_, pct)) if pct >= (threshold * 100).toInt => p -> pct }.toMap
      val out = Dedup.minhashLshPairs(rddDocs(minhashCorpus, parts), "doc_id", "text",
        threshold = threshold)
      assert(out.columns.toSeq == Seq("id_a", "id_b", "jaccard_pct"))
      val got = pairRows(out)
      assert(got == expected, s"t=$threshold parts=$parts: " +
        s"missing=${(expected.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- expected.keySet).take(5)}")
    }
    // the fixture exercises every shape it claims to
    val lows = colliding.filter(_._2._2 >= 30).map(_._2._1)
    assert(lows.count(_ == 7) > 0, "a verified pair colliding only in the last band")
    assert(colliding.count { case ((a, b), _) => a >= 1000 && b < 1064 } == 64 * 63 / 2)
    // int and string ids keep their type, in both operators
    val three = docs(minhashCorpus.take(3): _*)
    for (idType <- Seq("int", "string")) {
      val typed = three.select(col("doc_id").cast(idType).as("doc_id"), col("text"))
      for (out <- Seq(Dedup.minhashLshPairs(typed, "doc_id", "text"),
          Dedup.simhashPairs(typed, "doc_id", "text"))) {
        assert(out.schema.map(_.dataType.simpleString) == Seq(idType, idType, "bigint"))
        assert(out.collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet ==
          Set(("1000", "1001"), ("1000", "1002"), ("1001", "1002")))
      }
    }
  }

  test("hammingPairs: exactly the brute-force pairs at maxDist 1, 3 and 5, each pair once") {
    import spark.implicits._
    val rng = new scala.util.Random(77)
    val dp = spark.sparkContext.defaultParallelism
    for (maxDist <- Seq(1, 3, 5)) {
      val bits = 64 / (maxDist + 1)
      val seeds = Seq.fill(12)(rng.nextLong())
      // one flipped bit in every block but the last: distance maxDist, and
      // the last block is the pair's only equal one
      val lastOnly = (0 until maxDist).map(b => 1L << (b * bits)).reduce(_ | _)
      val rows: Seq[(Long, Option[Long])] =
        (0 until 64).map(i => (100L + i) -> Some(seeds(0))) ++                // hot bucket
        seeds.indices.map(i => (200L + i) -> Some(seeds(i) ^ lastOnly)) ++    // last block only
        seeds.indices.map(i => (300L + i) -> Some(seeds(i) ^ 1L)) ++          // several blocks
        seeds.indices.flatMap(i => (0 until 6).map { j =>                     // random flips
          val flips = (0 until rng.nextInt(8)).map(_ => 1L << rng.nextInt(64)).fold(0L)(_ | _)
          (1000L + i * 10 + j) -> Some(seeds(i) ^ flips)
        }) ++
        Seq(900L -> None, 901L -> None, 902L -> None)                         // null fingerprints
      val live = rows.collect { case (id, Some(h)) => id -> h }
      val expected = (for {
        (a, ha) <- live; (b, hb) <- live
        if a < b && java.lang.Long.bitCount(ha ^ hb) <= maxDist
      } yield (a, b) -> java.lang.Long.bitCount(ha ^ hb).toLong).toMap
      for (parts <- Seq(1, 3 * dp + 1)) {
        val withH = spark.sparkContext.parallelize(rows, parts).toDF("id", "h")
        val got = pairRows(Dedup.hammingPairs(withH, maxDist))
        assert(got == expected, s"maxDist=$maxDist parts=$parts: " +
          s"missing=${(expected.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- expected.keySet).take(5)}")
      }
      assert(expected((100L, 200L)) == maxDist.toLong, "the last-block-only pair is found")
      assert(expected((100L, 163L)) == 0L)
    }
  }

  test("simhashPairs: exactly the brute-force pairs over empty, whitespace-only and null texts") {
    import spark.implicits._
    val rows = minhashCorpus.filter(_._1 >= 3000)
    val hs = rddDocs(rows, 3).select(col("doc_id"), Dedup.simhash(col("text")))
      .as[(Long, Option[Long])].collect().collect { case (id, Some(h)) => id -> h }
    for (maxDist <- Seq(1, 3)) {
      val expected = (for {
        (a, ha) <- hs; (b, hb) <- hs
        if a < b && java.lang.Long.bitCount(ha ^ hb) <= maxDist
      } yield (a, b) -> java.lang.Long.bitCount(ha ^ hb).toLong).toMap
      assert(pairRows(Dedup.simhashPairs(rddDocs(rows, 3), "doc_id", "text", maxDist)) == expected)
      assert(expected.contains((5000L, 5001L)), "equal (empty) texts pair at distance 0")
    }
  }

  // ---- plan shape: each native kernel once per input scan ----

  private val nativeKernels: Seq[Class[_]] = Seq(classOf[graft.functions.WordShingles],
    classOf[graft.functions.MinHashBandKeys], classOf[graft.functions.SimHash64])

  private def planKids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _ => p.children
  }

  private def kernelsAt(p: SparkPlan, k: Class[_]): Int =
    p.expressions.map(_.collect { case e if k.isInstance(e) => e }.size).sum

  /** The most evaluations of kernel `k` on one scan-to-root path. */
  private def kernelsOnPath(p: SparkPlan, k: Class[_]): Int =
    kernelsAt(p, k) + (planKids(p).map(kernelsOnPath(_, k)) :+ 0).max

  private def kernelsIn(p: SparkPlan, k: Class[_]): Int =
    kernelsAt(p, k) + planKids(p).map(kernelsIn(_, k)).sum

  private def exchangesIn(p: SparkPlan): Int =
    (p match { case _: Exchange => 1; case _ => 0 }) + planKids(p).map(exchangesIn).sum

  /** Executed plans of every query `body` runs (pins included). */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  test("plan shape: minhash and simhash pairs run one Exchange and each kernel once") {
    val d = rddDocs(minhashCorpus, spark.sparkContext.defaultParallelism)
    for ((name, pairs) <- Seq(
        "minhashLshPairs" -> Dedup.minhashLshPairs(d, "doc_id", "text"),
        "simhashPairs" -> Dedup.simhashPairs(d, "doc_id", "text"))) {
      pairs.collect()
      val plan = pairs.queryExecution.executedPlan
      assert(exchangesIn(plan) == 1, s"$name: one shuffle\n$plan")
      val used = nativeKernels.filter(kernelsIn(plan, _) > 0)
      assert(used.nonEmpty)
      used.foreach(k => assert(kernelsIn(plan, k) == 1, s"$name: ${k.getSimpleName} once\n$plan"))
    }
  }

  test("plan shape: ngramJaccardPairs and the incremental band-key frame run each kernel once per scan") {
    import graft.core.DimMapping
    import graft.world.World
    val d = rddDocs(minhashCorpus, spark.sparkContext.defaultParallelism)
    val ngram = executedPlans(Dedup.ngramJaccardPairs(d, "doc_id", "text").collect())
    val path = java.nio.file.Files.createTempDirectory("graft-mhplan").toString
    val w = World(spark, path)("band64" -> DimMapping(0L, -1L, 1L << 59))
    // a virgin store, then a replay against the store it created
    val inc = executedPlans((1 to 2).foreach(_ =>
      Dedup.incrementalMinHashLsh(w, d, "doc_id", "text").collect()))
    Pins.releaseAll()
    for ((name, plans) <- Seq("ngramJaccardPairs" -> ngram, "incrementalMinHashLsh" -> inc)) {
      assert(plans.exists(p => kernelsIn(p, classOf[graft.functions.WordShingles]) > 0),
        s"$name: no executed plan ran the shingle kernel")
      for (p <- plans; k <- nativeKernels)
        assert(kernelsOnPath(p, k) <= 1, s"$name: ${k.getSimpleName} twice on one path\n$p")
    }
    assert(inc.exists(p => kernelsIn(p, classOf[graft.functions.MinHashBandKeys]) == 1))
  }
}
