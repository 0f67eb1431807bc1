package perfbench

/** Per-layer metrics of a traced run, from its spans and job tallies. */
object Report {

  private val MB = 1048576.0

  def layers(ctx: Ctx, w: Workload, results: Seq[OpResult]): Map[String, Double] = {
    val traced = results.filter(_.stats.isDefined)
    val plain = results.filter(_.stats.isEmpty)
    val spans = Tracer.nestJobs(ctx.tracer.spans)
    val byId = spans.map(s => s.id -> s).toMap
    val opIds = traced.map(_.spanId).toSet
    // spans opened by the benchmark directly inside a traced operation
    val inOps = spans.filter(s => opIds(s.parent))
    def total(pred: Span => Boolean): Double = inOps.filter(pred).map(_.nanos).sum / 1e9
    val stats = traced.flatMap(_.stats)
    def perOp(f: OpStats => Double): Double =
      if (stats.isEmpty) 0.0 else stats.map(f).sum / stats.size
    val busy = traced.map(_.seconds).sum
    val gaps = traced.flatMap { r =>
      byId.get(r.spanId).map { op =>
        val jobs = r.stats.get.jobIntervals.toSeq.map { case (a, b) =>
          (math.max(a, op.start), math.min(b, op.end)) }.filter { case (a, b) => b > a }
        (op.nanos - Tracer.unionLength(jobs)) / 1e9
      }
    }
    val logical = traced.map(_.op.points).sum
    val recordsRead = stats.map(_.recordsRead).sum
    val self = Tracer.layerSelfSeconds(spans)
    Map(
      "connector.resolve_s" -> total(_.name == "load"),
      "connector.scan_s" -> total(_.name.startsWith("scan")),
      "connector.write_s" -> total(_.name.startsWith("write")),
      "connector.records_read" -> recordsRead.toDouble,
      "connector.read_ratio" -> (if (logical == 0) 0.0 else recordsRead.toDouble / logical),
      "connector.bytes_read_mb" -> stats.map(_.bytesRead).sum / MB,
      "queries.jobs" -> perOp(_.jobs),
      "queries.stages" -> perOp(_.stages),
      "queries.tasks" -> perOp(_.tasks),
      "queries.driver_gap_s" -> (if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size),
      "queries.task_s" -> perOp(_.taskMs / 1000.0),
      "queries.core_util" -> stats.map(_.taskMs).sum / 1000.0 / (busy * ctx.cores),
      "queries.task_skew" -> (if (stats.isEmpty) 0.0 else Stats.median(stats.map(_.taskSkew))),
      "queries.shuffle_read_mb" -> perOp(_.shuffleRead / MB),
      "queries.shuffle_write_mb" -> perOp(_.shuffleWrite / MB),
      "queries.spill_mb" -> perOp(_.spill / MB),
      "jvm.gc_s" -> traced.map(_.gcSeconds).sum,
      "trace.overhead_ratio" -> busy / plain.map(_.seconds).sum) ++
      Main.SelfLayers.map(l => s"trace.self.${l}_s" -> self.getOrElse(l, 0.0)) ++
      w.layerMetrics(traced)
  }
}
