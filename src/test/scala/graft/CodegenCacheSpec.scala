package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The compiled-class cache holds a short interactive workload's working
  * set: a second pass over the same 25 queries reuses every generated
  * class instead of recompiling it. At Spark's default capacity (100
  * entries) the second pass recompiled most of them. */
class CodegenCacheSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The reference surface q1–q13 and twelve short capability queries. */
  private val queries = Seq(
    "q1_task_durations", "q2_watermark_scan", "q3_flatten_json",
    "q4_explode_substream", "q5_schema_project", "q6_upsert_dedup",
    "q7_multi_tenant_union", "q8_date_parse_msjson", "q9_interval_chunks",
    "q10_assoc_flatten", "q11_analytics_rollup", "q12_bookmark_advance",
    "q13_sessionize", "x16_rollup", "x17_top_customers", "x18_set_ops",
    "x19_semi_anti", "x20_asof_join", "x21_resample_gapfill", "x23_cube",
    "x24_percentiles", "x27_pivot_daily", "x28_unpivot_measures",
    "x29_range_join", "x30_grouped_topk")

  private def pass(): Unit = queries.foreach { q =>
    SparkEntry.queries(q)(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
    spark.catalog.clearCache()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated pass of 25 short queries compiles no new classes") {
    // With AQE, a query's later stages are planned in the order its
    // earlier stages finish, and the codegen stage ids written into the
    // generated sources follow that order: now and then a run compiles a
    // new variant (x21 did in 1 of 25 runs). Without AQE the plans, and
    // so the sources, are fixed, and any recompile is a cache miss.
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      pass()
      val c0 = compiles
      pass()
      assert(compiles - c0 == 0, "classes recompiled in the second pass")
    } finally spark.conf.set(key, prev)
  }
}
