package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** One closed-loop operation. `run` performs the timed work and returns a
  * check that runs after the clock stops: `None` when the result matches
  * its expectation, else what differed. `points` is the operation's
  * logical input (points a read addresses, or points a write stores). */
final case class Op(name: String, family: String, points: Long,
    run: () => (() => Option[String]))

/** Outcome of one executed operation. */
final case class OpResult(op: Op, seconds: Double, error: Option[String],
    stats: Option[OpStats], spanId: Long, gcSeconds: Double) {
  def ok: Boolean = error.isEmpty
}

/** Shared state of one run: session, tracer, probe, work directory. */
final class Ctx(val spark: SparkSession, val cores: Int, val work: Path,
    val seed: Long, val seconds: Int, val tracer: Tracer, val probe: Probe) {

  private var seq = 0
  /** records and bytes read by all tasks of the timed phase */
  var timedTotals: (Long, Long) = (0L, 0L)
  private val heapSamples = scala.collection.mutable.ArrayBuffer.empty[Double]

  def sampleHeap(): Unit = heapSamples += Box.heapAfterGcMb()
  def peakHeapMb: Double = heapSamples.max

  /** Executes `op`; traced executions run under a job group named after
    * the operation and inside an operation span. */
  def execute(op: Op, traced: Boolean): OpResult = {
    seq += 1
    val sc = spark.sparkContext
    tracer.active = traced
    val group = s"op$seq-${op.name}"
    val gc0 = Box.gcSeconds()
    var spanId = 0L
    var stats: Option[OpStats] = None
    var check: () => Option[String] = () => None
    var failure: Option[String] = None
    val t0 = System.nanoTime()
    try {
      if (!traced) check = op.run()
      else {
        sc.setJobGroup(group, op.name, interruptOnCancel = false)
        check = tracer.open("op", op.name) { id =>
          spanId = id
          stats = Some(probe.open(group, id))
          op.run()
        }
      }
    } catch {
      case e: Throwable => failure = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val t1 = System.nanoTime()
    val gc = Box.gcSeconds() - gc0
    if (traced) {
      sc.clearJobGroup()
      org.apache.spark.perfbenchglue.BusDrain.drain(sc)
      probe.close(group)
    }
    tracer.active = false
    val err = failure.orElse {
      try check() catch { case e: Throwable => Some(s"check failed: ${e.getMessage}") }
    }
    System.err.println(f"[perfbench] ${op.name}%-28s ${(t1 - t0) / 1e9}%8.3f s" +
      (if (traced) " traced" else "") + err.fold("")(m => s" FAILED: $m"))
    OpResult(op, (t1 - t0) / 1e9, err, stats, spanId, gc)
  }
}

/** Compares two values and names the difference. */
object Expect {
  def same(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  def all(checks: Option[String]*): Option[String] = checks.flatten.headOption
}
