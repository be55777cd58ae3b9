package perfbench

import org.apache.spark.sql.SparkSession

/** Memory-layer benchmark: runs one workload against the engine's public
  * API in this process and prints its metrics.
  *
  * {{{
  * Main --workload recall|churn --seed N --seconds S --trace 0|1
  *      --work DIR --trace-dir DIR --cores N --shuffle-partitions N
  *      --benchmark BENCHMARK.json
  * }}}
  *
  * The next-to-last stdout line is a detail object (every metric under
  * its workload-specific name, with percentiles and sample counts); the
  * last is the result: `correct`, `attempted`, `failed` and `metrics`
  * (end-to-end metrics, or the per-layer metrics BENCHMARK.json lists
  * with `--trace 1`). */
object Main {
  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s] $msg")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val cores = arg("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", arg("shuffle-partitions"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${arg("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${arg("work")}/spark-warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("spark session up")
    val ctx = Ctx(spark, arg("seed").toLong, arg("seconds").toInt,
      arg("trace") == "1", arg("work"), arg("trace-dir"),
      Json.perLayer(arg("benchmark")))
    val out =
      try arg("workload") match {
        case "recall" => Recall.run(ctx)
        case "churn" => Churn.run(ctx)
        case other => sys.error(s"unknown workload '$other' (recall | churn)")
      } finally spark.stop()
    log("done")
    val failed = out.failed.get
    val attempted = out.attempted.get
    out.detail("ops_failed_frac") = failed.toDouble / math.max(1L, attempted)
    if (out.failureSample.nonEmpty) out.detail("failures") = out.failureSample
    val metrics = if (ctx.trace) out.perLayer else out.endToEnd
    println(Json.render(out.endToEnd.map { case (k, (v, _)) => k -> v } ++ out.detail))
    println(Json.render(Map(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) })))
  }
}
