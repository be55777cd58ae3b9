package perfbench

import graft.pipeline.Schemas.Message
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** One run's settings: the workload's seed, how long to measure, whether
  * this is the traced run, and the directory the run may write in. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    trace: Boolean, work: String, traceDir: String,
    perLayer: Seq[(String, String)]) {
  def traceFile(workload: String): Path =
    Paths.get(traceDir, s"$workload-seed$seed.jsonl")

  /** Length of one measured phase: the traced run splits its time into
    * an untraced and a traced half, so the overhead is measured on the
    * same warehouse in the same process. */
  def phaseSeconds: Double = if (trace) seconds / 2.0 else seconds.toDouble
}

object Common {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Build the workload's warehouse from `corpus` `SetupReps` times, each
    * into a fresh directory, and keep the last as the measured one.
    * Returns its directory and `setup_s`, the median build time. A
    * quarter-size build runs first, untimed: it compiles the code paths,
    * so the figure is the build's and not the JIT's. */
  def setUp(ctx: Ctx, corpus: Seq[Message])(
      build: (String, Seq[Message]) => Unit): (String, Double) = {
    val warm = Paths.get(ctx.work, "warm-up")
    build(warm.toString, corpus.take(corpus.length / 4))
    deleteTree(warm)
    val dirs = (1 to SetupReps).map(i => s"${ctx.work}/setup$i")
    val times = dirs.map(d => seconds(build(d, corpus))._2)
    dirs.init.foreach(d => deleteTree(Paths.get(d)))
    Main.log(s"set-up builds: ${times.map(t => f"$t%.2f").mkString(", ")} s")
    (dirs.last, Stats.median(times))
  }

  def frame(spark: SparkSession, ms: Seq[Message]): DataFrame =
    spark.createDataFrame(ms)

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Used heap after full collections, in MiB. */
  def residentHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Bytes of every file under `dir`. */
  def bytesOnDisk(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toList.reverse.foreach(Files.delete)
    finally s.close()
  }

  /** Latency summary of one operation type, under `prefix`. */
  def latencies(prefix: String, xs: Seq[Double]): Seq[(String, Any)] =
    if (xs.isEmpty) Seq(s"${prefix}_n" -> 0)
    else Seq(s"${prefix}_p50_s" -> Stats.median(xs), s"${prefix}_n" -> xs.length) ++
      Stats.tail(xs).toSeq.flatMap { case (p, v) =>
        Seq(s"${prefix}_tail_s" -> v, s"${prefix}_tail_pct" -> p) }

  /** Collect garbage before a measured window, so a collection of the
    * set-up's garbage does not land inside it. */
  def settle(): Unit = (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }

  /** Record the end-to-end metrics shared by every workload: `ops` are
    * the workload's query latencies. Their tail goes to the detail line
    * only: a run holds too few queries for a tail that repeats between
    * runs. */
  def endToEnd(out: Outcome, setupS: Double, ops: Seq[Double],
      opsPerS: Double, spaceAmp: Double, heapMb: Double): Unit = {
    out.endToEnd ++= Seq(
      "setup_s" -> (setupS, "s"),
      "op_p50_s" -> (Stats.median(ops), "s"),
      "ops_per_s" -> (opsPerS, "1/s"),
      "space_amp" -> (spaceAmp, "ratio"),
      "heap_resident_mb" -> (heapMb, "MiB"))
    out.detail ++= latencies("op", ops) :+
      ("op_samples_ms" -> ops.map(s => math.round(s * 1000)))
  }
}
