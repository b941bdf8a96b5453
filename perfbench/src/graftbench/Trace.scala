package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One traced interval: a call into a layer made from the benchmark's own
  * code, or a streaming batch reported by the engine. Times are epoch ms. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Double, var end: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Double = end - start
}

/** Spark work attributed to one span: task time, bytes and rows, and the
  * intervals of the jobs it ran. */
final class Work {
  var jobs = 0
  var taskMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Double, Double)]
}

object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var tot = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { tot += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) tot += curB - curA
    tot
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(s: Span, children: Seq[Span]): Double =
    s.dur - covered(children.map(c => (c.start, c.end)), s.start, s.end)
}

/** Span recorder. Spans are kept in memory and written out once, at the end
  * of the run. While a span is open its id rides on the Spark local property
  * [[Tracer.Prop]], so the listener can attribute jobs and tasks to it; jobs
  * started on other threads inherit the property from the thread that
  * created them (the streaming query thread inherits it from `start`). */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
  def now: Double = base + System.nanoTime() / 1e6

  /** Whether the current operation is traced (traced and untraced
    * operations alternate, so the tracing overhead is measured in one run). */
  var on: Boolean = false
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Span] = Nil
  private var curOp = 0L
  val opsTraced = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  private val work = new ConcurrentHashMap[Long, Work]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Double]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  val progress = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def workOf(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.Prop)))
        p.foreach { s =>
          val id = s.toLong
          jobSpan.put(e.jobId, id)
          jobStart.put(e.jobId, e.time.toDouble)
          e.stageIds.foreach(st => stageSpan.put(st, id))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobSpan.get(e.jobId)).foreach { id =>
          val w = workOf(id)
          w.synchronized {
            w.jobs += 1
            w.jobIntervals += ((jobStart.get(e.jobId).doubleValue, e.time.toDouble))
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageSpan.get(e.stageId)).foreach { id =>
          val m = e.taskMetrics
          if (m != null) {
            val w = workOf(id)
            w.synchronized {
              w.taskMs += m.executorRunTime
              w.bytesRead += m.inputMetrics.bytesRead
              w.recordsRead += m.inputMetrics.recordsRead
              w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Run `f` as a root operation span. */
  def op[T](name: String)(f: => T): T =
    if (!enabled || !on) f
    else {
      curOp += 1
      opsTraced(name) += 1
      span(s"bench.$name")(f)
    }

  /** Run `f` inside a span named `layer.call`. */
  def span[T](name: String)(f: => T): T =
    if (!enabled || !on) f
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = Span(nextId, name, parent, curOp, now, 0.0)
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try f
      finally {
        s.end = now
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Adds a span the engine reported after the fact (a streaming batch). */
  def record(name: String, parent: Long, start: Double, end: Double): Span = {
    val s = Span(nextId, name, parent, curOp, start, end)
    nextId += 1
    spans += s
    s
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchBridge.drainListeners(sc)

  def workFor(ids: Iterable[Long]): Work = {
    val out = new Work
    ids.foreach { id =>
      Option(work.get(id)).foreach { w =>
        w.synchronized {
          out.jobs += w.jobs; out.taskMs += w.taskMs; out.bytesRead += w.bytesRead
          out.recordsRead += w.recordsRead
          out.shuffleBytes += w.shuffleBytes; out.jobIntervals ++= w.jobIntervals
        }
      }
    }
    out
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Span ids of `s` and every span below it. */
  def subtree(s: Span): Seq[Long] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(c => go(c.id))
    go(s.id)
  }

  /** Self time per layer, in ms, summed over every span. */
  def layerSelfMs: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => Intervals.selfTime(s, kids.getOrElse(s.id, Nil).toSeq)).sum
    }
  }

  /** Driver time not covered by any Spark job, per root operation. */
  def gapMs(root: Span): Double = {
    val w = workFor(subtree(root))
    root.dur - Intervals.covered(w.jobIntervals.toSeq, root.start, root.end)
  }

  def dump(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""op":${s.op},"start":${Json.num(s.start)},"end":${Json.num(s.end)}}""")
    } finally out.close()
  }
}

object Tracer {
  val Prop = "graftbench.span"
}

/** What the executed physical plan of a finished action says it did. */
final case class PlanFacts(planMs: Double, partitions: Long, files: Long,
    scans: Int, columnar: Int, joinRows: Seq[Long])

object PlanFacts extends AdaptiveSparkPlanHelper {
  def of(df: org.apache.spark.sql.Dataset[_]): PlanFacts = {
    val qe = df.queryExecution
    val planMs = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val plan: SparkPlan = qe.executedPlan
    var partitions = 0L
    var files = 0L
    var scans = 0
    val all = collectWithSubqueries(plan) { case p => p }
    all.foreach {
      case f: FileSourceScanExec =>
        scans += 1
        val m = f.metrics
        partitions += m.get("numPartitions").map(_.value).getOrElse(0L)
        files += m.get("numFiles").map(_.value).getOrElse(0L)
      case b: BatchScanExec =>
        scans += 1
        val n = b.inputPartitions.size.toLong
        partitions += n
        files += n
      case _ => ()
    }
    val columnar = all.count {
      case c: ColumnarToRowExec =>
        c.child.exists(p => p.isInstanceOf[FileSourceScanExec] || p.isInstanceOf[BatchScanExec])
      case _ => false
    }
    val joinRows = all.collect {
      case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec | _: BroadcastHashJoinExec) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    PlanFacts(planMs, partitions, files, scans, columnar, joinRows)
  }
}
