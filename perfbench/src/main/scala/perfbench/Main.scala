package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.perfbenchglue.BusDrain

/** Benchmark entry point (launched by `perfbench/run.py`).
  *
  * {{{
  * perfbench.Main --workload lidar_scan|lidar_ingest|graded_suite --seed N
  *   --seconds S --trace 0|1 --work DIR --data DIR --expected FILE
  *   --cores N --spans FILE
  * perfbench.Main --derive OUT --data DIR --work DIR --cores N
  * }}}
  *
  * One run: calibrate the box, start the session, set the workload up
  * [[SetupReps]] times, warm it up once, run its closed loop, check every
  * result, and print one JSON result line last on stdout. `--trace 1` runs every operation
  * twice, once traced and once not (alternating which goes first), and
  * reports per-layer metrics instead of end-to-end ones. */
object Main {

  val SetupReps = 3
  /** lidar_scan mosaic: grid x grid tiles of this mean size */
  val ScanGrid = 10
  val ScanMeanPoints = 6000
  /** lidar_ingest: sources x tiles per source of this mean size */
  val IngestSources = 4
  val IngestTiles = 4
  val IngestMeanPoints = 15000
  /** documents/embeddings replication for the functions leg */
  val KernelCopies = 40

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s",
    "scan_points_per_s" -> "points/s", "write_points_per_s" -> "points/s",
    "bytes_per_point" -> "B", "op_ok_ratio" -> "ratio", "peak_heap_mb" -> "MB")

  val SelfLayers: Seq[String] = Seq("op", "connector", "queries", "action", "spark",
    "section", "las", "laz", "functions", "streaming")

  val PerLayer: Seq[(String, String)] = Seq(
    "section.decode_mpts_s" -> "Mpoints/s", "section.encode_mpts_s" -> "Mpoints/s",
    "las.header_read_us" -> "us",
    "laz.p10_decode_mpts_s" -> "Mpoints/s", "laz.p14_decode_mpts_s" -> "Mpoints/s",
    "laz.p10_encode_mpts_s" -> "Mpoints/s", "laz.p14_encode_mpts_s" -> "Mpoints/s",
    "laz.bytes_per_point" -> "B", "laz.copc_index_ms" -> "ms",
    "connector.resolve_s" -> "s", "connector.scan_s" -> "s",
    "connector.records_read" -> "count", "connector.read_ratio" -> "ratio",
    "connector.bytes_read_mb" -> "MB", "connector.write_s" -> "s",
    "connector.write_mb_per_s" -> "MB/s", "connector.files_written" -> "count",
    "connector.commit_gap_s" -> "s",
    "queries.jobs" -> "count", "queries.stages" -> "count", "queries.tasks" -> "count",
    "queries.driver_gap_s" -> "s", "queries.task_s" -> "s", "queries.core_util" -> "ratio",
    "queries.task_skew" -> "ratio", "queries.shuffle_read_mb" -> "MB",
    "queries.shuffle_write_mb" -> "MB", "queries.spill_mb" -> "MB",
    "functions.rolling_hash_rows_s" -> "rows/s", "functions.simhash64_rows_s" -> "rows/s",
    "functions.shingle_hash_set_rows_s" -> "rows/s",
    "functions.minhash_band_keys_rows_s" -> "rows/s",
    "functions.array_sqdist_rows_s" -> "rows/s",
    "ops.dedup_s" -> "s", "ops.text_s" -> "s", "ops.similarity_s" -> "s",
    "ops.temporal_s" -> "s", "ops.sketches_s" -> "s", "ops.joins_s" -> "s",
    "ops.multimodal_s" -> "s", "queries.relational_s" -> "s",
    "streaming.batches" -> "count", "streaming.trigger_p50_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.offsets_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "jvm.gc_s" -> "s", "trace.overhead_ratio" -> "ratio") ++
    Seq("", "_after").flatMap(sfx => Seq(s"box.cpu_s$sfx" -> "s", s"box.cpu_mt_s$sfx" -> "s",
      s"box.io_write_mb_s$sfx" -> "MB/s", s"box.io_read_mb_s$sfx" -> "MB/s")) ++
    SelfLayers.map(l => s"trace.self.${l}_s" -> "s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try {
        if (a.contains("derive")) Derive.run(a) else run(a)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; the exit code is the result
    Runtime.getRuntime.halt(code)
  }

  def run(a: Map[String, String]): Unit = {
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work"))
    val data = Paths.get(a("data"))
    require(Seq("lidar_scan", "lidar_ingest", "graded_suite").contains(name), s"unknown workload $name")
    require(seconds > 0, "--seconds must be positive")
    Files.createDirectories(work)

    val calBefore = Box.calibrate(cores, work, "")
    val t0 = System.nanoTime()
    val spark = Box.session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer
    val probe = new Probe(tracer)
    spark.sparkContext.addSparkListener(probe)
    if (trace) spark.streams.addListener(probe.streamListener)
    val ctx = new Ctx(spark, cores, work, seed, seconds, tracer, probe)
    val w: Workload = name match {
      case "lidar_scan" => new LidarScan(ctx, ScanGrid, ScanMeanPoints)
      case "lidar_ingest" => new LidarIngest(ctx, IngestSources, IngestTiles, IngestMeanPoints)
      case "graded_suite" =>
        new GradedSuite(ctx, data, GradedSuite.readExpected(Paths.get(a("expected"))))
    }

    val setups = (1 to SetupReps).map { r =>
      val s0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - s0) / 1e9
    }
    val p0 = System.nanoTime()
    w.prepare()
    val setupS = sessionS + Stats.median(setups) + (System.nanoTime() - p0) / 1e9
    ctx.sampleHeap()

    val ops = w.ops()
    BusDrain.drain(spark.sparkContext)
    val tot0 = probe.totals.snapshot
    val results: Seq[OpResult] =
      if (!trace) ops.zipWithIndex.map { case (op, i) =>
        val r = ctx.execute(op, traced = false)
        if (i % 10 == 9) ctx.sampleHeap()
        r
      }
      else ops.zipWithIndex.flatMap { case (op, i) =>
        (if (i % 2 == 0) Seq(false, true) else Seq(true, false)).map(t => ctx.execute(op, t))
      }
    BusDrain.drain(spark.sparkContext)
    val tot1 = probe.totals.snapshot
    ctx.timedTotals = (tot1._1 - tot0._1, tot1._2 - tot0._2)
    ctx.sampleHeap()

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val lat = results.map(_.seconds)
        val p = Stats.tailPercentile(lat.size)
        System.err.println(s"[perfbench] $name: ${lat.size} operations, op_tail_s = p$p")
        val m = Map(
          "setup_s" -> setupS,
          "wall_s" -> lat.sum,
          "op_p50_s" -> Stats.median(lat),
          "op_tail_s" -> Stats.nearestRank(lat, p),
          "op_ok_ratio" -> results.count(_.ok).toDouble / results.size,
          "peak_heap_mb" -> ctx.peakHeapMb) ++ w.flowMetrics(results)
        EndToEnd.map { case (k, u) => (k, m(k), u) }
      } else {
        tracer.active = true
        val legs = layerLegs(ctx, w, data)
        tracer.active = false
        val m = Report.layers(ctx, w, results) ++ legs ++ calBefore ++
          Box.calibrate(cores, work, "_after")
        a.get("spans").foreach(p => tracer.writeTo(Paths.get(p)))
        PerLayer.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) }
      }

    w.cleanup()
    spark.stop()
    graft.Fs.deleteRecursively(work)
    if (!trace) println("{\"box\": " + calBefore.toSeq.sorted
      .map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}") + "}")
    val failed = results.count(!_.ok)
    println(s"""{"correct": ${failed == 0}, "attempted": ${results.size}, "failed": $failed, "metrics": """ +
      metrics.map { case (k, v, u) => s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }
        .mkString("{", ", ", "}") + "}")
  }

  /** The direct layer legs of a traced run. */
  private def layerLegs(ctx: Ctx, w: Workload, data: Path): Map[String, Double] = {
    val headers = w match {
      case scan: LidarScan =>
        Layers.streaming(ctx, scan)
        ctx.probe.streamingSummary ++ Layers.headers(ctx, scan)
      case _ =>
        // no tile collection in this workload: index a small one
        val mini = new LidarScan(ctx, 5, 10000)
        mini.setup(0)
        try Layers.headers(ctx, mini) finally mini.cleanup()
    }
    headers ++ Layers.codec(ctx) ++ Layers.functions(ctx, data, KernelCopies)
  }
}
