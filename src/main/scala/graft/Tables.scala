package graft

import java.io.File
import java.util.WeakHashMap
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Fixture-table loader (TESTDATA.md): one parquet file per table under the
  * scale-factor directory. Loading is a plain parquet scan so Catalyst gets
  * full pushdown (PushedFilters / ReadSchema) into the columnar reader.
  *
  * `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's reader
  * rejects outright; we read it via the `nanosAsLong` escape hatch and
  * normalize back to a microsecond timestamp (truncation — the same
  * conversion DuckDB applies), keeping the column name and downstream
  * semantics identical.
  *
  * A schema-less `spark.read.parquet` runs one footer-inference Spark job
  * per call, and every query opens 1–3 tables. So each fixture FILE's
  * inferred schema is remembered per session and later opens pass it to
  * the reader: a fresh relation (fresh attribute ids, so self-joins stay
  * unambiguous) with no job. The entry is keyed by the file's canonical
  * path, size and mtime, so a rewritten file is inferred again, and by
  * the confs inference reads; a directory (a `*.parquet` output of a
  * Spark write) is always inferred.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // restore range-predicate pushdown through the nanos->micros rebuild
    org.apache.spark.sql.graft.NanosPushdown.install(spark)
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    if (name == "events") normalizeNanos(df, "ts") else df
  }

  /** The session confs the footer-to-schema conversion reads. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.caseSensitive")

  /** File identity (canonical path, size, last-modified time) plus the
    * inference confs' values at the time of the read. */
  private type SchemaKey = (String, Long, Long, Seq[String])

  /** Inferred schemas per session, so one session never sees another's
    * entry; weak keys let a stopped session's entries go with it. */
  private val schemas =
    new WeakHashMap[SparkSession, ConcurrentHashMap[SchemaKey, StructType]]()

  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val f = new File(path)
    if (!f.isFile) spark.read.parquet(path)
    else {
      val key = (f.getCanonicalPath, f.length, f.lastModified,
        inferenceConfs.map(c => spark.conf.getOption(c).orNull))
      val cache = schemas.synchronized(
        schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap()))
      cache.get(key) match {
        case null =>
          // the miss returns the inferring read itself: never read twice
          val df = spark.read.parquet(path)
          cache.put(key, df.schema)
          df
        case schema => spark.read.schema(schema).parquet(path)
      }
    }
  }

  /** Nano-long epoch column → microsecond timestamp (floor division). */
  private def normalizeNanos(df: DataFrame, c: String): DataFrame =
    df.schema.find(_.name == c) match {
      case Some(StructField(_, LongType, _, _)) =>
        df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case _ => df
    }

  /** Register every fixture table as a temp view (for spark.sql paths). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
}
