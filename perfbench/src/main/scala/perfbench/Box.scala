package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Spark session and box calibration for one benchmark run. */
object Box {

  /** The session every workload runs on: the same settings the engine's
    * own Bench main uses (fork-free local FS, shuffle partitions = cores,
    * UTC), with every scratch location inside the run's work directory. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.hadoop.NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.hadoop.NoForkLocalFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The fixed ~2^27-step xorshift loop of graft.Bench's `calib` leg;
    * returns seconds. */
  def cpuOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 27)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** [[cpuOnce]] on `n` threads at once (graft.Bench's `calib_mt`). */
  def cpuMt(n: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until n).map { _ => val t = new Thread(() => { cpuOnce(); () }); t.start(); t }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** graft.Bench's `calib_io` leg: 64 MiB written and fsync'd into `dir`,
    * read back, deleted. Returns (write MB/s, read MB/s). */
  def io(dir: Path): (Double, Double) = {
    import java.nio.file.StandardOpenOption._
    val f = dir.resolve("calib_io.bin")
    try {
      val buf = new Array[Byte](1 << 20)
      java.util.Arrays.fill(buf, 0x5A.toByte)
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f, CREATE, WRITE, TRUNCATE_EXISTING)
      try {
        var i = 0
        while (i < 64) {
          val bb = java.nio.ByteBuffer.wrap(buf)
          while (bb.hasRemaining) ch.write(bb)
          i += 1
        }
        ch.force(false)
      } finally ch.close()
      val t1 = System.nanoTime()
      val in = java.nio.channels.FileChannel.open(f, READ)
      try {
        val bb = java.nio.ByteBuffer.allocate(1 << 20)
        while (in.read(bb) >= 0) bb.clear()
      } finally in.close()
      val t2 = System.nanoTime()
      (64 * 1.048576 / ((t1 - t0) / 1e9), 64 * 1.048576 / ((t2 - t1) / 1e9))
    } finally Files.deleteIfExists(f)
  }

  /** All four calibration legs, keyed by metric name (`suffix` tells the
    * before-run set from the after-run set). */
  def calibrate(cores: Int, dir: Path, suffix: String): Map[String, Double] = {
    val (w, r) = io(dir)
    Map(s"box.cpu_s$suffix" -> cpuOnce(), s"box.cpu_mt_s$suffix" -> cpuMt(cores),
      s"box.io_write_mb_s$suffix" -> w, s"box.io_read_mb_s$suffix" -> r)
  }

  /** Heap in use right after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  /** Total collector time so far, in seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  /** Bytes of the regular, non-hidden files under `dir`, and their count. */
  def sizeOf(dir: Path): (Long, Int) = {
    import scala.jdk.CollectionConverters._
    val fs = Files.walk(dir).iterator().asScala.filter(p =>
      Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_")).toList
    (fs.map(Files.size).sum, fs.size)
  }
}
