package graftbench

import graft.core.{Bounds, DimMapping}
import graft.world.{World, WorldSelect}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generated 2-dim events world shared by `select_scan` and
  * `point_write`: dim 0 `event_id`, dim 1 `user_id`, one payload column
  * `value`, on an 8 x 8 chunk grid. Ids `[0, rows)` are seeded; the rest
  * of the id domain is left for fresh inserts. */
object Events {
  val Grid = 8
  val IdDomain: Long = 1L << 21
  val Users: Long = 4096L
  val Ipc0: Long = IdDomain / Grid
  val Ipc1: Long = Users / Grid
  val Cells: Int = Grid * Grid
  /** Raw width of one row: three 8-byte longs. */
  val RowBytes = 24L

  def open(spark: SparkSession, path: String): World =
    World(spark, path)(
      "event_id" -> DimMapping(0L, IdDomain - 1, Ipc0),
      "user_id" -> DimMapping(0L, Users - 1, Ipc1))

  /** Rows with ids `from, from + step, …` below `until` of the seeded event
    * log, generated on the executors with the same functions the in-memory
    * reference uses. */
  def rows(spark: SparkSession, seed: Long, from: Long, until: Long, step: Long = 1): DataFrame = {
    val u = udf((id: Long) => Gen.user(seed, id, Users))
    val v = udf((id: Long) => Gen.value(seed, id))
    spark.range(from, until, step).select(col("id").as("event_id"),
      u(col("id")).as("user_id"), v(col("id")).as("value"))
  }

  /** Spark twin of [[Gen.rowSum]]. */
  val rowSum: Column =
    pmod(xxhash64(col("event_id"), col("user_id"), col("value")), lit(1L << 30))

  /** (row count, checksum) of a frame of event rows. */
  def summarize(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), coalesce(sum(rowSum), lit(0L)).as("s"))

  /** (row count, checksum, distinct ids): the durability check's one job. */
  def census(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), coalesce(sum(rowSum), lit(0L)).as("s"),
      count_distinct(col("event_id")).as("d"))

  def cellOf(id: Long, user: Long): Int = ((id / Ipc0) * Grid + user / Ipc1).toInt

  /** Live files, files carrying a deletion vector, and bytes on disk under
    * the world's directory (data, vectors, manifests, retired files). */
  def storage(spark: SparkSession, path: String): (Int, Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (live, dv) = graft.BenchProbe.liveFiles(fs, p).getOrElse((0, 0))
    (live, dv, fs.getContentSummary(p).getLength)
  }

  def version(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    graft.BenchProbe.latestVersion(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }
}

/** In-memory reference state of an events world: the expected answer to
  * every read, kept independently of the engine. Seeded ids are every
  * `stride`-th id below `until`. */
final class Model(seed: Long, until: Long, stride: Int = 1) {
  import Events._
  private def seeded(i: Int) = i < until && i % stride == 0
  val user: Array[Long] =
    Array.tabulate(IdDomain.toInt)(i => if (seeded(i)) Gen.user(seed, i, Users) else 0L)
  val value: Array[Long] =
    Array.tabulate(IdDomain.toInt)(i => if (seeded(i)) Gen.value(seed, i) else 0L)
  val live: Array[Boolean] = Array.tabulate(IdDomain.toInt)(seeded)
  val cellCount = new Array[Long](Cells)
  val cellSum = new Array[Long](Cells)
  var liveRows = 0L
  live.indices.foreach(i => if (live(i)) add(i))

  private def add(id: Int): Unit = {
    val c = cellOf(id, user(id))
    cellCount(c) += 1; cellSum(c) += Gen.rowSum(id, user(id), value(id)); liveRows += 1
  }
  private def sub(id: Int): Unit = {
    val c = cellOf(id, user(id))
    cellCount(c) -= 1; cellSum(c) -= Gen.rowSum(id, user(id), value(id)); liveRows -= 1
  }

  def put(id: Long, u: Long, v: Long): Unit = {
    val i = id.toInt
    if (live(i)) sub(i)
    user(i) = u; value(i) = v; live(i) = true
    add(i)
  }
  def remove(id: Long): Unit = {
    val i = id.toInt
    if (live(i)) { sub(i); live(i) = false }
  }

  def total: (Long, Long) = (cellCount.sum, cellSum.sum)

  /** Answer over whole chunks (the Select DSL is chunk-granular). */
  def cells(cs: Iterable[Int]): (Long, Long) =
    cs.foldLeft((0L, 0L)) { case ((n, s), c) => (n + cellCount(c), s + cellSum(c)) }

  /** Answer over exact rows matching `p(id, user)`. */
  def rows(ids: Iterator[Long], p: (Long, Long) => Boolean): (Long, Long) = {
    var n = 0L; var s = 0L
    ids.foreach { id =>
      val i = id.toInt
      if (live(i) && p(id, user(i))) { n += 1; s += Gen.rowSum(id, user(i), value(i)) }
    }
    (n, s)
  }
}

/** One seeded read. Value ranges are half-open `[lo, hi)`. */
sealed trait Query {
  def kind: String
}
object Query {
  final case class Hint(ids: Seq[Long]) extends Query { def kind = "hint" }
  final case class Range(dim: Int, lo: Long, hi: Long) extends Query { def kind = "range" }
  final case class Box(and: Boolean, r0: (Long, Long), r1: (Long, Long)) extends Query {
    def kind: String = if (and) "and" else "plus"
  }
  case object Full extends Query { def kind = "full" }

  private val dimCol = Seq("event_id", "user_id")
  private val ipc = Seq(Events.Ipc0, Events.Ipc1)

  def select(w: World, q: Query): WorldSelect = q match {
    case Hint(ids) => w.selectAll.hints(ids)
    case Range(d, lo, hi) => w.select(d, Bounds.until(lo, hi))
    case Box(true, a, b) => w.select(0, Bounds.until(a._1, a._2)).and(1, Bounds.until(b._1, b._2))
    case Box(false, a, b) => w.select(0, Bounds.until(a._1, a._2)).plus(1, Bounds.until(b._1, b._2))
    case Full => w.selectAll
  }

  private def within(c: Column, r: (Long, Long)): Column = c >= r._1 && c < r._2

  /** The row-exact predicate of `q` for the connector read. */
  def predicate(q: Query): Column = q match {
    case Hint(ids) => col("event_id").isin(ids: _*)
    case Range(d, lo, hi) => within(col(dimCol(d)), (lo, hi))
    case Box(true, a, b) => within(col("event_id"), a) && within(col("user_id"), b)
    case Box(false, a, b) => within(col("event_id"), a) || within(col("user_id"), b)
    case Full => lit(true)
  }

  private def chunks(d: Int, r: (Long, Long)): scala.collection.immutable.Range =
    (r._1 / ipc(d)).toInt to ((r._2 - 1) / ipc(d)).toInt
  private val allChunks = 0 until Events.Grid

  /** Cells a chunk-granular read of `q` covers, derived from the value
    * ranges alone (independently of the engine's shape algebra). */
  def cells(q: Query): Set[Int] = {
    def grid(c0: Iterable[Int], c1: Iterable[Int]) =
      (for (a <- c0; b <- c1) yield a * Events.Grid + b).toSet
    q match {
      case Hint(_) | Full => grid(allChunks, allChunks)
      case Range(0, lo, hi) => grid(chunks(0, (lo, hi)), allChunks)
      case Range(_, lo, hi) => grid(allChunks, chunks(1, (lo, hi)))
      case Box(true, a, b) => grid(chunks(0, a), chunks(1, b))
      case Box(false, a, b) => grid(chunks(0, a), allChunks) ++ grid(allChunks, chunks(1, b))
    }
  }

  /** Expected (count, checksum) of the Select DSL read of `q`. */
  def expectDsl(m: Model, q: Query): (Long, Long) = q match {
    case Hint(ids) => m.rows(ids.distinct.iterator, (_, _) => true)
    case _ => m.cells(cells(q))
  }

  /** Expected (count, checksum) of the connector read of `q`: an unpruned
    * filter over every reference row. */
  def expectExact(m: Model, q: Query): (Long, Long) = {
    def in(v: Long, r: (Long, Long)) = v >= r._1 && v < r._2
    def ids(lo: Long, hi: Long) = Iterator.range(lo.toInt, hi.toInt).map(_.toLong)
    val all = ids(0L, Events.IdDomain)
    q match {
      case Hint(hs) => m.rows(hs.distinct.iterator, (_, _) => true)
      case Range(0, lo, hi) => m.rows(ids(lo, hi), (_, _) => true)
      case Range(_, lo, hi) => m.rows(all, (_, u) => in(u, (lo, hi)))
      case Box(true, a, b) => m.rows(ids(a._1, a._2), (_, u) => in(u, b))
      case Box(false, a, b) => m.rows(all, (id, u) => in(id, a) || in(u, b))
      case Full => m.rows(all, (_, _) => true)
    }
  }
}
