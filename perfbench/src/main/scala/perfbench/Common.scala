package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `metrics` holds the
  * end-to-end metrics (untraced run) or the per-layer ones (traced run)
  * the workload measured; `notes` go to the human-readable report. */
final case class Outcome(attempted: Long, failed: Long,
                         metrics: Seq[(String, Double)], notes: Seq[String])

/** Everything a workload needs: the session, where the fixture tables
  * are, a scratch directory of its own, and the run's arguments. */
final case class Ctx(spark: SparkSession, data: String, work: String,
                     seed: Long, seconds: Int, trace: Boolean,
                     tracer: Tracer)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples above it, and
    * its value; the median when the sample is too small for that. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = math.max(50, math.floor(100.0 * (xs.size - 10) / xs.size).toInt)
    (p, quantile(xs, p / 100.0))
  }
}

/** JSON for the result file, the span file and the fixture's pages:
  * Jackson with its Scala module, so Scala maps, sequences and options
  * serialize as they read. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(v)
}
