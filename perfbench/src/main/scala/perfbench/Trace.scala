package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Spans of one operation share
  * `op`; `parent` is 0 for the operation's root span. */
final case class Span(id: Long, op: Long, name: String, parent: Long,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, it only runs the timed code. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong
  private val ops = new AtomicLong
  // (span id, op id) of the innermost open span on this thread
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def newOp(): Long = ops.incrementAndGet()

  /** A root span: the start of operation `op`. */
  def root[T](name: String, op: Long)(f: => T): T = record(name, op, 0L)(f)

  /** A child of the innermost open span on this thread. */
  def span[T](name: String)(f: => T): T = open.get match {
    case (parent, op) :: _ => record(name, op, parent)(f)
    case Nil => record(name, newOp(), 0L)(f)
  }

  private def record[T](name: String, op: Long, parent: Long)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      open.set((id, op) :: open.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        spans.synchronized { spans += Span(id, op, name, parent, t0, t1) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def durations(name: String): Seq[Double] =
    all.filter(_.name == name).map(_.seconds)

  /** Mean self time per span name: each span's duration minus the part
    * of its interval that its children cover. */
  def selfTimes: Map[String, Double] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> Stats.mean(ss.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (c.startNs, c.endNs)).sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            val from = math.max(a, reach)
            if (b > from) (sum + (b - from), b) else (sum, reach)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      })
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startNs).map(s => Json.render(mutable.LinkedHashMap(
      "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark-side counters for the traced window, from a SparkListener and a
  * QueryExecutionListener on the same shared listener queue. Events are
  * delivered asynchronously, so the window opens and closes on marker
  * jobs the listener itself sees in order: everything the benchmark ran
  * between the two markers is counted, nothing else. Jobs tagged with a
  * query operation or a replayed leg are also counted on their own. */
final class SparkProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  @volatile private var recording = false
  @volatile private var pending = new CountDownLatch(0)
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  private val queryStages = ConcurrentHashMap.newKeySet[Int]()
  private val legStages = new ConcurrentHashMap[Int, String]()
  private val legRecordCounts = new ConcurrentHashMap[String, AtomicLong]()

  val jobs, stages, tasks, scanBytes, shuffleBytes, bytesWritten,
    exchanges, scanFiles = new AtomicLong
  /** Rows read from storage by the jobs of query operations in the window. */
  val queryScanRecords = new AtomicLong
  val analysis, optimization, planning = new DoubleAdder
  /** Operation tags (the `perfbench.op` local property) that launched
    * at least one job inside the window. */
  val opsWithJobs: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Open (`on`) or close the window, waiting until the listener queue
    * has delivered every event posted before it. */
  def window(on: Boolean): Unit = {
    val sc = spark.sparkContext
    pending = new CountDownLatch(1)
    sc.setLocalProperty(SparkProbe.MarkerKey, if (on) "on" else "off")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SparkProbe.MarkerKey, null)
    if (!pending.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener queue did not drain")
  }

  /** Run `f` (the benchmark's own checks) with the window closed. */
  def paused[T](f: => T): T = {
    window(on = false)
    try f finally window(on = true)
  }

  /** Rows read from storage by the jobs run under [[SparkProbe.leg]]
    * `name`, in or out of the window. Call after the window closes. */
  def legRecords(name: String): Long =
    Option(legRecordCounts.get(name)).map(_.get).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop(SparkProbe.LegKey).foreach(leg => e.stageIds.foreach(legStages.put(_, leg)))
    prop(SparkProbe.MarkerKey) match {
      case Some("off") => recording = false; pending.countDown()
      case Some(_) => markerJobs.add(e.jobId)
      case None if recording =>
        jobs.incrementAndGet()
        prop(SparkProbe.OpKey).foreach { op =>
          opsWithJobs.add(op)
          e.stageIds.foreach(queryStages.add)
        }
      case None =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.remove(e.jobId)) { recording = true; pending.countDown() }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (recording) stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (recording) tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      val records = m.inputMetrics.recordsRead
      Option(legStages.get(e.stageId)).foreach(leg =>
        legRecordCounts.computeIfAbsent(leg, _ => new AtomicLong).addAndGet(records))
      if (recording) {
        if (queryStages.contains(e.stageId)) queryScanRecords.addAndGet(records)
        scanBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (recording) {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      analysis.add(ms("analysis") / 1e3)
      optimization.add(ms("optimization") / 1e3)
      planning.add(ms("planning") / 1e3)
      val nodes = SparkProbe.nodes(qe.executedPlan)
      exchanges.addAndGet(nodes.count(_.isInstanceOf[Exchange]).toLong)
      scanFiles.addAndGet(nodes.collect { case f: FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Counters per operation, for `n` operations in the window. */
  def perOp(n: Long): Map[String, Double] = {
    def per(x: Double) = if (n == 0) 0.0 else x / n
    Map(
      "spark.analysis_s" -> per(analysis.sum),
      "spark.optimization_s" -> per(optimization.sum),
      "spark.planning_s" -> per(planning.sum),
      "spark.jobs" -> per(jobs.get.toDouble),
      "spark.stages" -> per(stages.get.toDouble),
      "spark.tasks" -> per(tasks.get.toDouble),
      "spark.exchanges" -> per(exchanges.get.toDouble),
      "spark.scan_files" -> per(scanFiles.get.toDouble),
      "spark.scan_bytes" -> per(scanBytes.get.toDouble),
      "spark.shuffle_bytes" -> per(shuffleBytes.get.toDouble),
      "spark.bytes_written" -> per(bytesWritten.get.toDouble))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object SparkProbe {
  val MarkerKey = "perfbench.marker"
  /** Local property naming the query operation a job belongs to. */
  val OpKey = "perfbench.op"
  /** Local property naming the replayed layer call a job belongs to. */
  val LegKey = "perfbench.leg"

  /** Every node of an executed plan, through adaptive stages and
    * subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Run `f` with its jobs tagged as operation `op`. */
  def tagged[T](spark: SparkSession, op: Long)(f: => T): T =
    withProperty(spark, OpKey, op.toString)(f)

  /** Run `f` with its jobs tagged as replayed layer call `name`. */
  def leg[T](spark: SparkSession, name: String)(f: => T): T =
    withProperty(spark, LegKey, name)(f)

  private def withProperty[T](spark: SparkSession, k: String, v: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(k, v)
    try f finally sc.setLocalProperty(k, null)
  }
}

/** Micro-batch progress of the streaming ingest, from a
  * StreamingQueryListener. */
final class StreamProbe(spark: SparkSession) extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  spark.streams.addListener(this)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    progress.synchronized { progress += e.progress }

  /** Progress of the batches that read input, once the listener has seen
    * at least `expected` of them. */
  def batches(expected: Int): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val deadline = System.nanoTime() + 10e9.toLong
    def seen = progress.synchronized(progress.filter(_.numInputRows > 0).toList)
    while (seen.length < expected && System.nanoTime() < deadline) Thread.sleep(20)
    seen
  }

  def close(): Unit = spark.streams.removeListener(this)
}
