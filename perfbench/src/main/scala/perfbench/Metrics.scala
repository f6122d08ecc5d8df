package perfbench

/** The metric names BENCHMARK.json declares, with their units. Every run
  * prints all of one list, whichever workload it ran: a layer that does no
  * work on a workload reports 0. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "warmup_s" -> "s", "mix_s" -> "s",
    "latency_p50_s" -> "s", "latency_tail_s" -> "s",
    "throughput_per_s" -> "1/s")

  val perLayer: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.cores_busy" -> "cores",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "jvm.gc_s" -> "s", "jvm.peak_rss_mb" -> "MB",
    "queries.build_s" -> "s", "spark.execute_s" -> "s",
    "sources.extract_s" -> "s", "sources.requests" -> "count",
    "sources.pages" -> "count", "sources.requests_per_page" -> "ratio",
    "operators.shape_ms" -> "ms",
    "sinks.write_s" -> "s", "sinks.files_written" -> "count",
    "sinks.mb_written" -> "MB", "sinks.write_amp" -> "ratio",
    "model.refresh_s" -> "s", "state.save_ms" -> "ms", "runner.self_s" -> "s",
    "trace.overhead_mix_s" -> "s", "trace.overhead_throughput_per_s" -> "1/s")

  private val MB = 1024.0 * 1024.0

  /** Per-cycle layer figures from the traced operations: self time of each
    * span name (seconds, or ms for the names that say so) and the Spark
    * work the listener charged to them. `cycles` is how many passes or
    * rounds the traced operations add up to; `wallNanos` and `gcMs` cover
    * the traced operations only. */
  def layers(tracer: Tracer, cycles: Double, wallNanos: Long,
             gcMs: Long): Map[String, Double] = {
    val named = tracer.byName()
    val all = new Counters
    named.values.foreach { case (_, c) => all.add(c) }
    def self(n: String): Double = named.get(n).fold(0.0)(_._1) / cycles
    Map(
      "spark.jobs" -> all.jobs / cycles,
      "spark.stages" -> all.stages / cycles,
      "spark.tasks" -> all.tasks / cycles,
      "spark.task_s" -> all.taskMs / 1e3 / cycles,
      "spark.cores_busy" -> (if (wallNanos > 0) all.taskMs * 1e6 / wallNanos else 0.0),
      "spark.shuffle_write_mb" -> all.shuffleWrite / MB / cycles,
      "spark.shuffle_read_mb" -> all.shuffleRead / MB / cycles,
      "spark.spill_mb" -> all.spill / MB / cycles,
      "jvm.gc_s" -> gcMs / 1e3 / cycles,
      "queries.build_s" -> self("queries.build"),
      "spark.execute_s" -> self("spark.execute"),
      "sources.extract_s" -> self("sources.extract"),
      "operators.shape_ms" -> self("operators.shape") * 1e3,
      "sinks.write_s" -> self("sinks.write"),
      "sinks.mb_written" -> named.get("sinks.write").fold(0.0)(_._2.bytesWritten / MB) / cycles,
      "model.refresh_s" -> self("model.refresh"),
      "state.save_ms" -> self("state.save") * 1e3,
      "runner.self_s" -> self("runner"))
  }

  def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
        .getCollectionTime).sum
}
