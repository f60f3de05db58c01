package perfbench

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The metric names the benchmark reports and how they are computed from a
  * run's operations and spans. */
object Metrics {
  /** Spans of one medallion batch, one per layer call. */
  val BatchLayers = Seq("ingest", "silver", "gold.scd1", "gold.scd2", "gold.fact", "epoch")
  val BatchCounters = Seq("time_s", "driver_s", "jobs", "tasks", "shuffle_bytes",
    "bytes_written", "fs_ops")
  val Reads = Seq("star", "asof", "history", "point")
  val ReadCounters = Seq("time_s", "driver_s", "jobs", "bytes_read", "fs_ops")
  val OpCounters = Seq("time_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_s" -> "s", "latency_tail_s" -> "s",
    "geomean_s" -> "s", "ops_per_s" -> "1/s", "cpu_per_op_s" -> "s",
    "storage_amplification" -> "ratio", "peak_rss_mb" -> "MB")

  def perLayer: Seq[(String, String)] =
    BatchLayers.flatMap(l => BatchCounters.map(c => s"$l.$c" -> unit(c))) ++
    Seq("gold.scd1", "gold.scd2", "gold.fact").flatMap(l =>
      Seq(s"$l.buckets_touched_ratio" -> "ratio", s"$l.write_amp" -> "ratio")) ++
    Reads.flatMap(r => ReadCounters.map(c => s"read.$r.$c" -> unit(c))) ++
    OperatorMix.Queries.flatMap(q => OpCounters.map(c => s"op.$q.$c" -> unit(c))) ++
    Seq("gc_s" -> "s", "unattributed_jobs" -> "count",
      "trace.overhead_s" -> "s")

  private def unit(counter: String): String = counter match {
    case c if c.endsWith("_s") => "s"
    case c if c.endsWith("bytes") || c.startsWith("bytes") => "bytes"
    case _ => "count"
  }

  def record(workload: String, seed: Long, seconds: Int, trace: Boolean,
      o: Outcome, tracer: Tracer, ctx: RunContext, ambience: Map[String, Any]): String = {
    val (window, cpu, gc) = ctx.timed
    // a traced run's end-to-end figures come from its untraced operations
    val plain = o.ops.filterNot(_.traced)
    val lat = plain.filter(_.group == o.primary).map(_.seconds)
    val (tail, tailPct) = if (lat.isEmpty) (0.0, 0.0) else Stats.tail(lat)
    val kinds = plain.groupBy(_.kind).values.map(ops => Stats.median(ops.map(_.seconds))).toSeq
    val primaryOps = o.ops.count(_.group == o.primary)
    val e2e = Map(
      "setup_s" -> Stats.median(o.setupSeconds),
      "latency_p50_s" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
      "latency_tail_s" -> tail,
      "geomean_s" -> (if (kinds.isEmpty) 0.0 else Stats.geomean(kinds)),
      "ops_per_s" -> primaryOps / window,
      "cpu_per_op_s" -> (if (primaryOps == 0) 0.0 else cpu / primaryOps),
      "storage_amplification" -> o.storageAmplification,
      "peak_rss_mb" -> Ambience.peakRssMb())
    val layer = if (trace) perLayerValues(o, tracer, gc) else Map.empty[String, Double]
    Serialization.write(Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> (o.errors.isEmpty && o.failed == 0 && lat.nonEmpty),
      "attempted" -> o.attempted, "failed" -> o.failed,
      "errors" -> o.errors.take(20),
      "end_to_end" -> EndToEnd.map { case (k, u) => k -> Map("value" -> e2e(k), "unit" -> u) }.toMap,
      "per_layer" -> perLayer.collect { case (k, u) if trace =>
        k -> Map("value" -> layer.getOrElse(k, 0.0), "unit" -> u) }.toMap,
      "info" -> (o.info ++ Map(
        "ambience" -> ambience, "primary" -> o.primary, "primary_samples" -> lat.size,
        "tail_percentile" -> tailPct, "setup_runs_s" -> o.setupSeconds,
        "timed_s" -> window, "timed_cpu_s" -> cpu, "timed_gc_s" -> gc,
        "phases_s" -> ctx.phases.toMap,
        "kind_medians_s" -> plain.groupBy(_.kind).map { case (k, v) =>
          k -> Stats.median(v.map(_.seconds)) }))))(DefaultFormats)
  }

  private def perLayerValues(o: Outcome, tracer: Tracer, gcSeconds: Double): Map[String, Double] = {
    val spans = tracer.all
    def counter(s: tracer.Span, c: String): Double = c match {
      case "time_s" => (s.end - s.start) / 1e9
      case "driver_s" => tracer.driverSeconds(s)
      case "jobs" => s.jobs.get.toDouble
      case "tasks" => s.tasks.get.toDouble
      case "shuffle_bytes" => s.shuffleBytes.get.toDouble
      case "spill_bytes" => s.spillBytes.get.toDouble
      case "bytes_written" => s.bytesWritten.get.toDouble
      case "bytes_read" => s.bytesRead.get.toDouble
      case "fs_ops" => s.fsOps.get.toDouble
    }
    // batch layers: per-batch sums (ingest runs once per entity), averaged
    val batch = for (l <- BatchLayers; c <- BatchCounters) yield {
      val perOp = spans.filter(_.name == l).groupBy(_.op).values
        .map(ss => ss.map(counter(_, c)).sum).toSeq
      s"$l.$c" -> Stats.mean(perOp)
    }
    def perSpan(prefix: String, names: Seq[String], counters: Seq[String]) =
      for (n <- names; c <- counters) yield {
        val ss = spans.filter(_.name == s"$prefix.$n")
        s"$prefix.$n.$c" -> Stats.mean(ss.map(counter(_, c)))
      }
    // median traced minus median untraced latency of the primary operation,
    // both from this run (the workloads alternate traced and untraced ones);
    // left out (reported as 0) only when either side has no sample, which
    // happens only in a run that failed
    val (tracedOps, untracedOps) = o.ops.filter(_.group == o.primary).partition(_.traced)
    val overhead = if (tracedOps.isEmpty || untracedOps.isEmpty) Map.empty[String, Double]
      else Map("trace.overhead_s" ->
        (Stats.median(tracedOps.map(_.seconds)) - Stats.median(untracedOps.map(_.seconds))))
    (batch ++ perSpan("read", Reads, ReadCounters) ++
      perSpan("op", OperatorMix.Queries, OpCounters)).toMap ++ o.perLayer ++ overhead ++ Map(
      "gc_s" -> gcSeconds, "unattributed_jobs" -> tracer.unattributedJobs.get.toDouble)
  }
}
