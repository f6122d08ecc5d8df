package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession builder for the local harness mains (Bench, Verify,
  * profiling tools) — one place for the local-fixture tuning knobs so the
  * four mains can't drift.
  */
object LocalSession {

  /** Capacity of Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100): one JVM-wide LRU
    * of Janino-compiled generated classes. The 25 `olap_short` queries
    * (sf0.01, 4 cores, Bench) compile 214 classes in their first pass; at
    * the default the cache thrashed and every warm pass recompiled 210 of
    * them, and with room for the working set a warm pass compiles none.
    * The whole 247-query registry (sf0.01, Bench) compiles 4,942
    * classes in its first pass and 518, then 422, new ones in the next two
    * (generated sources that embed driver-collected literals). 8192 holds
    * the first pass plus several passes of that churn, and stays bounded:
    * an unbounded cache would grow by the churn every `Orchestrator.loop`
    * cycle.
    *
    * A static conf: `CodeGenerator` reads it once per JVM, at its first
    * codegen, so it only takes effect on the builder of the JVM's first
    * session — a session built later cannot resize the cache. */
  val CodegenCacheMaxEntries: Int = 8192

  def build(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing targets bytes; our compute-heavy shuffles are tiny
      // in bytes but expensive per row — keep them wide.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      // LOCAL-FIXTURE knob: each fixture table is one small parquet file,
      // which the 128m default reads as ONE split — serializing scan-side
      // aggregation onto a single core. 1m gives the local plans the
      // multi-split parallelism a real corpus gets from many files. Do
      // NOT carry this to a real deployment: it caps split size per
      // splittable file, so large files would shred into thousands of
      // tiny tasks.
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
