package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import graft.{LocalSession, Tables}

/** The benchmark's JVM side. `run.py` builds it and starts it as
  *
  *   perfbench.Main --workload <olap_short|elt_sync> --seed <n>
  *     --seconds <s> --trace <0|1> --data <fixture dir> --work <scratch dir>
  *     --out <result file> --spans <span file>
  *
  * It sets up three times (session build, fixture tables opened, the HTTP
  * fixture started for `elt_sync`) and keeps the last set-up, runs the
  * workload, and writes the metrics it measured to `--out`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`. */
object Main {
  private val SetUps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val data = opt("data")
    val cpus = Runtime.getRuntime.availableProcessors.toString

    def open(spark: org.apache.spark.sql.SparkSession): AutoCloseable = workload match {
      case "olap_short" =>
        OlapShort.tables.foreach(t => Tables(spark, data, t).head(1))
        () => ()
      case "elt_sync" => EltSync.open(spark, data)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setUps = (1 to SetUps).map { i =>
      val t0 = System.nanoTime()
      val spark = LocalSession.build(cpus)
      val fixture = open(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetUps) { fixture.close(); spark.stop() }
      (dt, spark, fixture)
    }
    val (_, spark, fixture) = setUps.last
    val tracer = new Tracer(spark.sparkContext, listen = trace)
    val ctx = Ctx(spark, data, opt("work"), opt("seed").toLong, opt("seconds").toInt,
      trace, tracer)
    val outcome = (workload, fixture) match {
      case ("olap_short", _) => OlapShort.run(ctx)
      case (_, f: EltSync.HttpFixture) => EltSync.run(ctx, f)
    }
    if (trace) tracer.write(opt("spans"))

    val measured = outcome.metrics.toMap ++ Map(
      "setup_s" -> Stats.median(setUps.map(_._1)),
      "jvm.peak_rss_mb" -> peakRssMb)
    val declared = if (trace) Metrics.perLayer else Metrics.endToEnd
    val metrics = ListMap(declared.map { case (name, unit) =>
      val v = measured.getOrElse(name, if (trace) 0.0 else Double.NaN)
      // a metric the run could not measure is written as null
      name -> ListMap("value" -> Some(v).filterNot(_.isNaN), "unit" -> unit)
    }: _*)
    val notes = outcome.notes ++ Seq(
      f"set-up times (s): ${setUps.map(s => f"${s._1}%.3f").mkString(", ")}",
      f"peak resident memory ${measured("jvm.peak_rss_mb")}%.0f MB")
    Files.writeString(Paths.get(opt("out")), Json.write(ListMap(
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "metrics" -> metrics, "notes" -> notes)))
    fixture.close()
    spark.stop()
    System.exit(0)
  }

  /** Peak resident memory of this process (the whole local-mode engine). */
  private def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
