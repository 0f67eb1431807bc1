package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-side tallies of one traced operation (its job group). */
final class OpStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  /** job intervals in the tracer's nanoTime frame */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val openJobs = mutable.HashMap.empty[Int, Long]

  private[perfbench] def jobStart(id: Int, nanos: Long): Unit = { jobs += 1; openJobs(id) = nanos }
  private[perfbench] def jobEnd(id: Int, nanos: Long): Unit =
    openJobs.remove(id).foreach(s => jobIntervals += ((s, nanos)))

  /** Largest stage (most tasks, then most task time): max ÷ median task. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val big = stageTaskMs.values.maxBy(v => (v.size, v.sum))
      val med = Stats.median(big.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else big.max / med
    }
}

/** Run-wide task counters, kept for every task whether or not traced. */
final class Totals {
  var recordsRead = 0L
  var bytesRead = 0L
  def snapshot: (Long, Long) = synchronized((recordsRead, bytesRead))
}

/** The benchmark's SparkListener + StreamingQueryListener. Jobs whose
  * `spark.jobGroup.id` names a registered operation are attributed to it
  * (as child spans of the operation span when the tracer is active);
  * every task also feeds the run-wide [[Totals]]. */
final class Probe(tracer: Tracer) extends SparkListener {
  // the listener bus reports wall-clock millis; spans live in nanoTime
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNanos(ms: Long): Long = ms * 1000000L + nanoOffset

  val totals = new Totals
  private val ops = new ConcurrentHashMap[String, (OpStats, Long)]()
  private val stageToGroup = new ConcurrentHashMap[Int, String]()
  private val jobToGroup = new ConcurrentHashMap[Int, (String, Long, String)]()

  /** Register an operation's job group; `spanId` is its tracer span. */
  def open(group: String, spanId: Long): OpStats = {
    val s = new OpStats
    ops.put(group, (s, spanId))
    s
  }
  def close(group: String): Unit = {
    ops.remove(group)
    stageToGroup.values().removeIf(_ == group)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) Option(ops.get(g)).foreach { case (s, spanId) =>
      s.synchronized {
        s.jobStart(e.jobId, toNanos(e.time))
        s.stages += e.stageIds.size
      }
      e.stageIds.foreach(id => stageToGroup.put(id, g))
      jobToGroup.put(e.jobId, (g, toNanos(e.time), s"job ${e.jobId}"))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobToGroup.remove(e.jobId)).foreach { case (g, start, name) =>
      Option(ops.get(g)).foreach { case (s, spanId) =>
        val end = toNanos(e.time)
        s.synchronized(s.jobEnd(e.jobId, end))
        if (tracer.active)
          tracer.record(Span(tracer.nextId(), spanId, "spark", name, start, end))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      totals.synchronized {
        totals.recordsRead += m.inputMetrics.recordsRead
        totals.bytesRead += m.inputMetrics.bytesRead
      }
      val g = stageToGroup.get(e.stageId)
      if (g != null) Option(ops.get(g)).foreach { case (s, _) =>
        s.synchronized {
          val ms = e.taskInfo.duration
          s.tasks += 1
          s.taskMs += ms
          s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ms
          s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.recordsRead += m.inputMetrics.recordsRead
          s.bytesRead += m.inputMetrics.bytesRead
        }
      }
    }
  }

  /** Micro-batch progress events seen while the tracer was active. */
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (tracer.active) progress.synchronized(progress += e)
  }

  /** Phase timings of the recorded micro-batches (ms) and their state rows. */
  def streamingSummary: Map[String, Double] = progress.synchronized {
    val ps = progress.toList.map(_.progress)
    def phase(keys: String*): Double =
      ps.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble).sum
    val trig = ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.trigger_p50_ms" -> (if (trig.isEmpty) 0.0 else Stats.median(trig)),
      "streaming.planning_ms" -> phase("queryPlanning"),
      "streaming.offsets_ms" -> phase("latestOffset", "getOffset", "getBatch"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.commit_ms" -> phase("walCommit", "commitOffsets"),
      "streaming.state_rows" -> ps.map(_.stateOperators.map(_.numRowsTotal).sum).maxOption
        .getOrElse(0L).toDouble)
  }
}
