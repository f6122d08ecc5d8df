package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.catalyst.QueryPlanningTracker

import graft.SparkEntry

/** `olap_short`: one client in a closed loop over 25 sub-second queries at
  * scale factor 0.01 — the reference surface q1–q13 and twelve capability
  * queries. Fixed per-query cost (plan build, job and stage launch)
  * dominates here; kernel work is small. The seed sets each pass's query
  * order.
  *
  * The untimed first pass writes every result to parquet: it warms the JIT
  * and gives `run.py` the answers to check against the DuckDB oracle. */
object OlapShort {
  val queries: Seq[String] = Seq(
    "q1_task_durations", "q2_watermark_scan", "q3_flatten_json",
    "q4_explode_substream", "q5_schema_project", "q6_upsert_dedup",
    "q7_multi_tenant_union", "q8_date_parse_msjson", "q9_interval_chunks",
    "q10_assoc_flatten", "q11_analytics_rollup", "q12_bookmark_advance",
    "q13_sessionize", "x16_rollup", "x17_top_customers", "x18_set_ops",
    "x19_semi_anti", "x20_asof_join", "x21_resample_gapfill", "x23_cube",
    "x24_percentiles", "x27_pivot_daily", "x28_unpivot_measures",
    "x29_range_join", "x30_grouped_topk")

  /** About the seconds one warm pass takes on four cores: `--seconds`
    * buys `--seconds / PassSeconds` passes. */
  private val PassSeconds = 7.0

  /** The fixture tables these queries read. */
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "orders", "lineitem", "events")

  private final case class Sample(query: String, seconds: Double,
                                  traced: Boolean, phasesMs: Map[String, Double])

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tracer}
    val registry = SparkEntry.queries
    val results = s"${ctx.work}/results"
    var attempted = 0L
    var failed = 0L
    val notes = Seq.newBuilder[String]

    val w0 = System.nanoTime()
    queries.foreach { q =>
      attempted += 1
      try registry(q)(spark, ctx.data).coalesce(1).write.mode("overwrite")
        .parquet(s"$results/$q")
      catch { case e: Throwable =>
        failed += 1
        notes += s"$q failed in the check pass: ${e.getMessage}"
      }
      spark.catalog.clearCache()
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$results/oracle_sql.json"), Json.write(
      queries.flatMap(q => oracle.get(q).map(q -> _)).toMap))
    System.gc()

    // Closed loop: the next query starts when the previous one returns.
    // In a traced run every query is traced on alternate passes (half the
    // queries in each pass), so each query has traced and untraced times.
    val rng = new Random(ctx.seed)
    val samples = Seq.newBuilder[Sample]
    var tracedNanos = 0L
    var tracedGcMs = 0L
    // A fixed number of passes, about `seconds` long, so every
    // run does the same work: passes keep getting faster as the JIT warms,
    // and a deadline would let a fast host run more, and faster, passes.
    // At least two, so every query has two samples and in a traced run is
    // timed both ways.
    val passes = math.max(2, math.round(ctx.seconds / PassSeconds).toInt)
    (0 until passes).foreach { pass =>
      rng.shuffle(queries).foreach { q =>
        val traced = ctx.trace && (pass + queries.indexOf(q)) % 2 == 0
        tracer.enabled = traced
        attempted += 1
        val gc0 = Metrics.gcMillis
        val t0 = System.nanoTime()
        val outcome = try {
          tracer.span("query", root = s"pass$pass:$q") {
            val df = tracer.span("queries.build")(registry(q)(spark, ctx.data))
            tracer.span("spark.execute")(df.queryExecution.toRdd.foreach(_ => ()))
            Some(df.queryExecution.tracker.phases.map { case (k, p) => k -> p.durationMs.toDouble })
          }
        } catch { case e: Throwable =>
          failed += 1
          notes += s"$q failed in pass $pass: ${e.getMessage}"
          None
        }
        val dt = System.nanoTime() - t0
        if (traced) {
          tracedNanos += dt
          tracedGcMs += Metrics.gcMillis - gc0
        }
        tracer.enabled = false
        outcome.foreach(ph => samples += Sample(q, dt / 1e9, traced, ph))
        spark.catalog.clearCache()
      }
    }
    val all = samples.result()
    val n = queries.size.toDouble
    notes += f"olap_short: ${all.size} timed queries over $passes passes, " +
      f"first pass $warmupS%.2f s"
    val passSums = all.grouped(queries.size).filter(_.size == queries.size)
      .map(p => f"${p.map(_.seconds).sum}%.2f").mkString(", ")
    notes += s"timed passes (s): $passSums"

    val metrics =
      if (!ctx.trace) {
        val secs = all.map(_.seconds)
        val (p, tailV) = Stats.tail(secs)
        notes += s"latency_tail_s is p$p of n=${secs.size} query latencies"
        Seq(
          "warmup_s" -> warmupS,
          "mix_s" -> mixSeconds(all),
          "latency_p50_s" -> Stats.median(secs),
          "latency_tail_s" -> tailV,
          "throughput_per_s" -> secs.size / secs.sum)
      } else {
        val traced = all.filter(_.traced)
        val cycles = traced.size / n
        def phase(k: String) = traced.map(_.phasesMs.getOrElse(k, 0.0)).sum / traced.size
        // overhead from the queries timed both ways, scaled to a pass
        val both = all.groupBy(_.query).values
          .filter(s => s.exists(_.traced) && s.exists(!_.traced)).toSeq
        def pairedMix(traced: Boolean) = if (both.isEmpty) 0.0 else
          both.map(s => Stats.median(s.filter(_.traced == traced).map(_.seconds))).sum *
            n / both.size
        val (mixOn, mixOff) = (pairedMix(true), pairedMix(false))
        notes += s"tracing overhead from ${both.size} queries timed traced and untraced"
        Metrics.layers(tracer, cycles, tracedNanos, tracedGcMs).toSeq ++ Seq(
          "catalyst.analysis_ms" -> phase(QueryPlanningTracker.ANALYSIS),
          "catalyst.optimization_ms" -> phase(QueryPlanningTracker.OPTIMIZATION),
          "catalyst.planning_ms" -> phase(QueryPlanningTracker.PLANNING),
          "trace.overhead_mix_s" -> (mixOn - mixOff),
          "trace.overhead_throughput_per_s" ->
            (if (both.isEmpty) 0.0 else n / mixOn - n / mixOff))
      }
    Outcome(attempted, failed, metrics, notes.result())
  }

  /** Wall time of one pass: the sum over the queries of each one's median
    * latency over the passes. */
  private def mixSeconds(samples: Seq[Sample]): Double =
    samples.groupBy(_.query).values.map(s => Stats.median(s.map(_.seconds))).sum
}
