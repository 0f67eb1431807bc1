package perfbench

/** A named workload: repeatable set-up, a fixed closed-loop operation
  * list, and the metrics its results define. */
trait Workload {
  /** Builds the run's inputs from scratch (called several times; the last
    * call's fixtures serve the timed phase). */
  def setup(rep: Int): Unit

  /** One-time warm-up after the last set-up (counted in `setup_s`): by
    * default every distinct operation once, untimed, so the
    * timed phase measures the steady state rather than JIT warm-up. */
  def prepare(): Unit = ops().distinctBy(_.name).foreach(_.run()())

  /** The timed phase: the same multiset of operations for every seed, in a
    * seed-rotated order. Resets the workload's own counters. */
  def ops(): IndexedSeq[Op]

  /** `scan_points_per_s`, `write_points_per_s` and `bytes_per_point` as
    * this workload defines them, from its timed results. */
  def flowMetrics(results: Seq[OpResult]): Map[String, Double]

  /** Per-layer metrics only this workload can produce (traced runs). */
  def layerMetrics(results: Seq[OpResult]): Map[String, Double] = Map.empty

  /** Deletes every fixture the workload wrote. */
  def cleanup(): Unit
}

object Workload {
  /** Rotates `kinds` by the seed and repeats it to `n` operations. */
  def closedLoop(kinds: IndexedSeq[Op], n: Int, seed: Long): IndexedSeq[Op] = {
    val rot = java.lang.Math.floorMod(seed, kinds.size.toLong).toInt
    (0 until n).map(i => kinds((i + rot) % kinds.size))
  }
}
