package graftbench

import scala.collection.mutable.ArrayBuffer

/** The benchmark's own tests: seeded generation, checkers, span arithmetic
  * and metric names. Run with `python3 perfbench/run.py --selftest`; exits
  * non-zero when any test fails. */
object SelfTest {
  private val failures = ArrayBuffer.empty[String]

  private def test(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case e: Throwable => println(s"  $name threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += name
  }

  private def queries(seed: Long): Seq[Query] = {
    val r = new Rng(seed)
    val qs = new Quantiles
    SelectScan.Cycle.map(k => SelectScan.query(r, qs, k, () => (r.long() >>> 1) % 1000))
  }

  def main(args: Array[String]): Unit = {
    test("same seed gives identical events, different seed different ones") {
      val a = new Model(1L, 5000); val b = new Model(1L, 5000); val c = new Model(2L, 5000)
      a.user.sameElements(b.user) && a.value.sameElements(b.value) &&
        !a.user.sameElements(c.user) && a.total == b.total && a.total != c.total
    }
    test("same seed gives identical read mixes, different seed different ones") {
      queries(7L) == queries(7L) && queries(7L) != queries(8L)
    }
    test("same seed gives identical corpora, different seed different ones") {
      val a = new Corpus(3L, 40, 20); val b = new Corpus(3L, 40, 20); val c = new Corpus(4L, 40, 20)
      val ta = (0 until a.size).map(a.text); val tb = (0 until b.size).map(b.text)
      ta == tb && a.cluster.sameElements(b.cluster) && ta != (0 until c.size).map(c.text)
    }

    val m = new Model(5L, 20000)
    val box = Query.Box(and = true, (0L, 20000L), (0L, Events.Users))
    test("read checker rejects a dropped row and a wrong value") {
      val want = Query.expectExact(m, box)
      val id = 1234L
      val row = Gen.rowSum(id, m.user(id.toInt), m.value(id.toInt))
      val dropped = (want._1 - 1, want._2 - row)
      val wrong = (want._1, want._2 - row + Gen.rowSum(id, m.user(id.toInt), m.value(id.toInt) + 1))
      want._1 == 20000 && Checks.sameRows(want, want) &&
        !Checks.sameRows(dropped, want) && !Checks.sameRows(wrong, want)
    }
    test("a row moved to another chunk leaves a one-chunk read of its old chunk") {
      val m2 = new Model(5L, 20000)
      val cell0 = Query.Box(and = true, (0L, 1L), (0L, 1L))
      val before = Query.expectDsl(m2, cell0)
      val id = (0 until 20000).find(i => m2.user(i) < Events.Ipc1).get
      m2.put(id, m2.user(id) + Events.Ipc1, m2.value(id))
      Query.cells(cell0) == Set(0) && Query.expectDsl(m2, cell0)._1 == before._1 - 1 &&
        Query.expectDsl(m2, cell0)._1 >= Query.expectExact(m2, cell0)._1
    }
    test("dedup checker rejects a dropped or an extra survivor") {
      val c = new Corpus(9L, 30, 10)
      val want = c.survivors
      Checks.sameIds(want.reverse, want) && !Checks.sameIds(want.drop(1), want) &&
        !Checks.sameIds(want :+ (c.size + 1L), want)
    }
    test("pair recall counts only planted pairs, once") {
      val c = new Corpus(9L, 30, 10)
      val all = c.members.filter(_.length > 1).flatMap(ms =>
        for (x <- ms.indices; y <- x + 1 until ms.length) yield Checks.pairKey(ms(x), ms(y)))
      val truth = c.pairCount((_, _) => true)
      val bogus = Checks.pairKey(c.members(0).head, c.members(1).head)
      Checks.pairRecall(all, c, (_, _) => true, truth) == 1.0 &&
        Checks.pairRecall(all.drop(1) ++ all.take(1), c, (_, _) => true, truth) == 1.0 &&
        Checks.pairRecall(all.drop(1) :+ bogus, c, (_, _) => true, truth) < 1.0
    }
    test("ingest checker rejects a lost row, a duplicate and a wrong value") {
      val rows = (0L until 100L).map(i => (i, i % 7, i * 3))
      val want = Checks.summary(rows)
      def ok(rs: Seq[(Long, Long, Long)]) =
        Checks.ingested(Checks.summary(rs), rs.map(_._1).distinct.size.toLong, 100L, want._2)
      ok(rows) && !ok(rows.drop(1)) && !ok(rows.updated(5, rows(4))) &&
        !ok(rows.updated(5, (5L, 5L, 0L)))
    }
    test("span self time subtracts the union of its children") {
      val p = Span(1, "bench.read", 0, 1, 0.0, 100.0)
      val kids = Seq(Span(2, "world.select", 1, 1, 10.0, 30.0),
        Span(3, "sources.scan", 1, 1, 20.0, 50.0), Span(4, "sources.scan", 1, 1, 90.0, 120.0))
      Intervals.selfTime(p, kids) == 50.0 && Intervals.selfTime(p, Nil) == 100.0 &&
        Intervals.covered(Seq((5.0, 6.0), (1.0, 2.0)), 0.0, 10.0) == 2.0
    }
    test("select_scan quantiles weight each kind's quantile by its share of the cycle") {
      def samples(ms: Double*) = { val s = new Samples; ms.foreach(s.add); s }
      val by = Map("hint" -> samples(1, 1, 9), "range" -> samples(2), "and" -> samples(3),
        "plus" -> samples(4), "full" -> samples(5))
      def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
      // shares per 20 queries: 6 hint, 5 range, 5 and, 3 plus, 1 full
      near(SelectScan.mixQuantile(by, 0.5), (6 * 1 + 5 * 2 + 5 * 3 + 3 * 4 + 1 * 5) / 20.0) &&
        near(SelectScan.mixQuantile(by, 0.9), (6 * 9 + 5 * 2 + 5 * 3 + 3 * 4 + 1 * 5) / 20.0) &&
        near(SelectScan.mixQuantile(by - "full", 0.5), (6 * 1 + 5 * 2 + 5 * 3 + 3 * 4) / 19.0)
    }
    test("metric names use only [A-Za-z0-9_.-] and are unique") {
      val names = (Metrics.endToEnd ++ Metrics.perLayer).map(_._1)
      names.forall(_.matches(Metrics.NamePattern)) && names.distinct.size == names.size &&
        Metrics.perLayer.size <= 128
    }
    args.headOption.filter(p => new java.io.File(p).isFile).foreach { path =>
      test("BENCHMARK.json lists exactly the metrics the benchmark reports") {
        val src = scala.io.Source.fromFile(path, "UTF-8")
        val json = try src.mkString finally src.close()
        def names(key: String): Seq[String] = {
          val block = json.substring(json.indexOf(s""""$key""""))
          val body = block.substring(block.indexOf('['), block.indexOf(']') + 1)
          "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
        }
        names("end_to_end") == Metrics.endToEnd.map(_._1) &&
          names("per_layer") == Metrics.perLayer.map(_._1)
      }
    }
    if (failures.nonEmpty) { println(s"${failures.size} test(s) failed"); sys.exit(1) }
    println("all tests passed")
  }
}
