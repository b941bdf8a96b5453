package graftbench

import org.apache.spark.sql.catalyst.expressions.XXH64

import scala.collection.mutable.ArrayBuffer

/** Seeded random source. Every generated input derives from the run seed
  * through one of these, so the same seed gives the same inputs. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def long(): Long = r.nextLong()
  def int(bound: Int): Int = r.nextInt(bound)
  /** Uniform in [lo, hi] inclusive. */
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def double(): Double = r.nextDouble()
  def gaussian(): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian on JDK 17
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }
  def chance(p: Double): Boolean = r.nextDouble() < p
}

/** Zipf over 1..n with exponent s, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: Rng): Int = at(r.double())
  /** The value at cumulative probability `u`. */
  def at(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else math.min(-i - 1, n - 1)) + 1
  }
}

/** Low-discrepancy quantiles, one sequence per key: the n-th draw of a key
  * is frac(offset + n * golden ratio). Operation sizes come from here, not
  * from the seed, so every run (whatever its seed and however short) covers
  * each size distribution evenly; the seed still picks ids and offsets. */
final class Quantiles {
  private val n = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  def next(key: String, offset: Double = 0.5): Double = {
    val k = n(key); n(key) = k + 1
    val x = offset + k * 0.6180339887498949
    x - math.floor(x)
  }
  /** Uniform integer in [lo, hi]. */
  def between(key: String, lo: Int, hi: Int): Int =
    lo + math.min(hi - lo, (next(key) * (hi - lo + 1)).toInt)
}

object Gen {
  /** SplitMix64 finalizer: the per-row generator the Spark side (through a
    * UDF) and the in-memory reference share, so both see identical rows. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def user(seed: Long, id: Long, users: Long): Long =
    java.lang.Long.remainderUnsigned(mix(mix(seed) ^ id), users)
  def value(seed: Long, id: Long): Long =
    java.lang.Long.remainderUnsigned(mix(mix(seed + 1) ^ id), 1000000L)

  /** Order-independent row checksum term: the driver-side twin of
    * `pmod(xxhash64(event_id, user_id, value), 2^30)` (Spark's xxhash64
    * chains each column through seed 42). Summing 30-bit terms cannot
    * overflow a long below 2^33 rows. */
  def rowSum(id: Long, user: Long, value: Long): Long = {
    val h = XXH64.hashLong(value, XXH64.hashLong(user, XXH64.hashLong(id, 42L)))
    java.lang.Math.floorMod(h, 1L << 30)
  }
}

object Stats {
  /** Nearest-rank percentile of `xs` (q in (0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Old-generation use after a full collection forced at the end of the
  * timed phase: the heap the workload retains. A peak over the phase's own
  * collections would depend on when the collector happens to run. */
object Heap {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcMillis: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum

  def retainedMb(): Double = {
    // the second collection also frees what Spark's cleaner released after
    // the first one
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}

/** Latency samples of one kind of operation. */
final class Samples {
  val ms = ArrayBuffer.empty[Double]
  def add(v: Double): Unit = ms += v
  def n: Int = ms.size
  def p50: Double = Stats.pct(ms.toSeq, 0.5)
  def p90: Double = Stats.pct(ms.toSeq, 0.9)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}

object Time {
  def nowMs: Double = System.nanoTime() / 1e6
  def timed[T](f: => T): (T, Double) = { val t0 = nowMs; val r = f; (r, nowMs - t0) }
}
