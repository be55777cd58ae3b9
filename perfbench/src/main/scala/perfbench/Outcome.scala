package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run measured: attempted and failed operations, and named
  * metrics. End-to-end metrics come from the untraced measurement,
  * per-layer metrics from the traced one; `detail` holds the
  * workload-specific names and the percentile/sample-count labels. */
final class Outcome {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Count one operation; it fails when `ok` is false. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      failures.synchronized { if (failures.length < 20) failures += what }
    }
  }

  /** Run one operation, counting an exception as a failure. */
  def attempt[T](what: String)(f: => T): Option[T] =
    try Some(f) catch {
      case e: Exception =>
        op(ok = false, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  def failureSample: Seq[String] = failures.synchronized(failures.toList)
}

object Stats {
  /** Nearest-rank percentile of a sample, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile with at least ten samples beyond it,
    * as (percentile, value); None when the sample has fewer than 11. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    (99 to 1 by -1).find(p => xs.length - math.ceil(p / 100.0 * xs.length) >= 10)
      .map(p => p -> percentile(xs, p))

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** JSON for the result lines, the trace file and the metric list, with
  * the Jackson (Scala module) that Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  /** The `per_layer` metrics of a BENCHMARK.json file, as (name, unit),
    * in file order. */
  def perLayer(benchmarkJson: String): Seq[(String, String)] =
    mapper.readTree(new java.io.File(benchmarkJson)).get("per_layer")
      .elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toList
}
