package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only profiling main (not part of the driver contract): runs the
  * named queries once with a StreamingQueryListener attached and prints
  * each micro-batch's durationMs breakdown, so the streaming harness
  * floor is attributable (planning vs state vs addBatch vs walCommit).
  * Usage: runMain graft.ProfStream <sfDir> <name>[,<name>...]
  */
object ProfStream {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val spark = Session.start(Session.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    // job-level decomposition: wall per job vs summed task time — the
    // gap between a query's total and Σ(job wall) is driver-side
    // (planning, analysis, commit); a job whose wall far exceeds its
    // task sum is scheduling/stage-latency floor
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
      private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
      private val site = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        t0.put(j.jobId, System.nanoTime())
        j.stageIds.foreach(s => jobOfStage.put(s, j.jobId))
        taskMs.put(j.jobId, new java.util.concurrent.atomic.AtomicLong())
        site.put(j.jobId, j.stageInfos.lastOption.map(_.name).getOrElse("?")
          .takeWhile(_ != '\n').take(70))
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        // untracked stage (resubmitted/speculative): drop the task rather
        // than let the null Integer unbox to job 0 and skew its taskSum
        if (jobOfStage.containsKey(t.stageId)) {
          val a = taskMs.get(jobOfStage.get(t.stageId))
          if (a != null && t.taskInfo != null) a.addAndGet(t.taskInfo.duration)
        }
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val start = t0.getOrDefault(j.jobId, 0L)
        val wall = (System.nanoTime() - start) / 1e6
        val ts = Option(taskMs.get(j.jobId)).map(_.get()).getOrElse(0L)
        if (sys.env.contains("PROF_JOBS"))
          println(f"[job] id=${j.jobId} wall=$wall%.0fms taskSum=${ts}ms " +
            s"site=${site.getOrDefault(j.jobId, "?")}")
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[prof] started ${e.name} at ${System.nanoTime() / 1000000}ms")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[prof] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs} stateOps=${p.stateOperators.length}")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[prof] terminated at ${System.nanoTime() / 1000000}ms")
    })
    // warmup
    try SparkEntry.queries("iq01_scan_project")(spark, sfDir).count()
    catch { case t: Throwable => println("warmup failed: " + t) }
    val passes = sys.env.getOrElse("PROF_PASSES", "2").toInt
    for (n <- names; pass <- 1 to passes) {
      val t0 = System.nanoTime()
      val cnt = SparkEntry.queries(n)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[prof] $n pass$pass total=$sec%.3f s rows=$cnt")
    }
    Session.stop(spark)
  }
}
