package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev profiling tool (guide §1): run named declared queries and print
  * every Spark JOB the run launched — wall seconds, task-time seconds,
  * task count, and the job's description/callsite — so a slow query's
  * seconds can be attributed to a specific action (a commit's write job,
  * a listing, a collect) instead of guessed at. Headless twin of the
  * Spark UI's Jobs page:
  *   scripts/run.sh graft.Profile w_index_bm25
  * Not part of the shipped library; never run by the driver.
  */
object Profile {
  final case class JobRec(id: Int, var desc: String = "", var t0: Long = 0L,
      var t1: Long = 0L, var taskNanos: Long = 0L, var tasks: Int = 0,
      var stages: Int = 0,
      val stageNames: scala.collection.mutable.ArrayBuffer[String] =
        scala.collection.mutable.ArrayBuffer.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
    val stageToJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = JobRec(e.jobId)
        r.t0 = e.time
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        jobs(e.jobId) = r
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        for (j <- stageToJob.get(si.stageId); r <- jobs.get(j)) {
          r.taskNanos += si.taskMetrics.executorRunTime * 1000000L
          r.tasks += si.numTasks
          r.stages += 1
          // AQE-materialized stages inherit a meaningless CompletableFuture
          // callsite; the stage's long-form details still carry the repo
          // frame that submitted it — that's the attributable name
          val graftFrame = si.details.split('\n')
            .find(l => l.contains("graft.") && !l.contains("graft.Profile"))
            .map(_.trim.stripPrefix("at ").takeWhile(_ != ')') + ")")
          r.stageNames += graftFrame.getOrElse(si.name.takeWhile(_ != '\n'))
        }
      }
    })
    // same untimed warmup as Bench so first-query numbers are comparable
    Harness.warmUp(spark, sfDir)
    val runs = sys.env.get("SPARK_GRAFT_PROFILE_RUNS").map(_.toInt).getOrElse(1)
    args.foreach { name =>
      val fn = Harness.query(name)
      (1 to runs).foreach { runIdx =>
        jobs.clear(); stageToJob.clear()
        val t0 = System.nanoTime()
        Harness.run(spark, sfDir, fn)(Harness.materialize)
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events are async: wait until the bus has delivered them
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        println(f"%n==== $name run $runIdx: wall $wall%.3f s, ${jobs.size} jobs ====")
        val recs = jobs.values.toSeq.sortBy(_.t0)
        val base = recs.headOption.map(_.t0).getOrElse(0L)
        var prevEnd = base
        recs.foreach { r =>
          val gap = (r.t0 - prevEnd) / 1e3
          prevEnd = math.max(prevEnd, r.t1)
          // the generic AQE-stage callsite ("withThreadLocalCaptured") says
          // nothing — stage names are the informative part, print them first
          val label =
            if (r.desc.contains("withThreadLocalCaptured") || r.desc.isEmpty)
              r.stageNames.distinct.take(4).mkString("; ")
            else r.desc.take(60) + " | " + r.stageNames.distinct.take(3).mkString("; ")
          println(f"  job ${r.id}%4d  +${(r.t0 - base) / 1e3}%8.3f s  " +
            f"wall ${(r.t1 - r.t0) / 1e3}%7.3f s  gap $gap%7.3f s  " +
            f"taskTime ${r.taskNanos / 1e9}%8.3f s  tasks ${r.tasks}%5d  " +
            f"stages ${r.stages}%2d  " + label.take(220))
        }
        val jobWall = recs.map(r => (r.t1 - r.t0) / 1e3).sum
        val gaps = wall - jobWall
        println(f"  TOTAL job wall $jobWall%.3f s; driver-side (planning/fs/gaps) $gaps%.3f s")
      }
    }
    spark.stop()
  }
}
