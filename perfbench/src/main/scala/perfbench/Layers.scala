package perfbench

import graft.functions.TextFunctions.trunc6
import graft.functions.VectorFunctions
import graft.operators.{Fusion, Retrieval}
import graft.pipeline._
import graft.pipeline.Schemas.Message
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced run, and the side calls that time
  * single layers: each replays one operation's inputs through a layer's
  * public function into a noop sink, outside the measured window. */
object Layers {
  /** Side calls timed as spans named after the layer function; a
    * per-layer metric `<span>_s` is the mean of its spans. */
  val SpanMetrics: Seq[String] = Seq("MemFuse.query.build", "MemFuse.query.exec",
    "Encoders.encodeOne", "Fusion.rrf", "Reranker.rerank",
    "VectorFunctions.cosine_scan", "Retrieval.bm25", "KeywordIndex.bm25",
    "IvfIndex.query", "StreamingIngest.microBatch", "MemFuse.ingest",
    "MemFuse.deleteSession", "Encoders.encode", "TableOps.appendBucketed",
    "IndexUpkeep.absorbBatch")

  /** Fill `out.perLayer` with the run's per-layer metrics (name, unit), in
    * their declared order: `values` where given, span means for the side
    * calls, 0 for a layer the workload never reaches. A value under a
    * name the list lacks is an error, so the two cannot drift apart. */
  def report(out: Outcome, metrics: Seq[(String, String)], tracer: Tracer,
      values: Map[String, Double]): Unit = {
    val spans = SpanMetrics.map(n => s"${n}_s" -> tracer.durations(n))
      .collect { case (k, ds) if ds.nonEmpty => k -> Stats.mean(ds) }.toMap
    val unlisted = (values.keySet ++ spans.keySet) -- metrics.map(_._1)
    require(unlisted.isEmpty, s"per-layer metrics missing from BENCHMARK.json: ${unlisted.mkString(", ")}")
    metrics.foreach { case (name, unit) =>
      out.perLayer(name) = (values.getOrElse(name, spans.getOrElse(name, 0.0)), unit)
    }
    out.detail("self_time_s") = tracer.selfTimes
  }

  /** Tracing overhead: the traced half's median against the untraced
    * half's, on the same warehouse in the same process. */
  def overhead(untraced: Seq[Double], traced: Seq[Double]): Map[String, Double] = {
    val (u, t) = (Stats.median(untraced), Stats.median(traced))
    Map("trace.untraced_p50_s" -> u, "trace.traced_p50_s" -> t,
      "trace.overhead_frac" -> (t / u - 1.0))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A collected, in-memory copy, so a later layer is timed without its
    * input's lineage re-running. */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private val FirstStage = 20 // the facade fuses 2 × topK candidates per leg

  /** Replay one hybrid query stage by stage: the facade call itself
    * (plan build, then collect), the query encode, both retrieval legs
    * (scan or index), fusion and rerank. */
  def replayQuery(tracer: Tracer, op: Long, mf: MemFuse, dir: String,
      tenant: String, text: String, indexed: Boolean): Unit =
    tracer.root("replay.query", op) {
      val spark = mf.m1.sparkSession
      val df = tracer.span("MemFuse.query.build") {
        mf.query(text, tenant, topK = 10, useIndexes = indexed, nProbe = 2)
      }
      tracer.span("MemFuse.query.exec")(df.collect())
      val qvec = tracer.span("Encoders.encodeOne")(HashingEncoder().encodeOne(text))
      val terms = text.split(" ").filter(_.nonEmpty).toSeq
      val corpus = mf.m1ForUser(tenant).filter(col("user_id") === tenant)
      def top(legs: DataFrame) =
        legs.orderBy(col("score").desc, col("id")).limit(FirstStage)
      val (vec, kw) =
        if (!indexed) {
          val v = top(corpus.select(col("chunk_id").as("id"),
            trunc6(VectorFunctions.cosine(col("embedding"), typedLit(qvec.toSeq)))
              .as("score")))
          val k = top(Retrieval.bm25(corpus.select(col("chunk_id").as("doc_id"),
            col("content").as("text")), terms, FirstStage))
          tracer.span("VectorFunctions.cosine_scan")(noop(v))
          tracer.span("Retrieval.bm25")(SparkProbe.leg(spark, "Retrieval.bm25")(noop(k)))
          (v, k)
        } else {
          // the facade over-fetches 4 × first-stage hits from the global
          // indexes and keeps the tenant's
          val ivf = IvfIndex.load(spark, s"$dir/index")
          val v = ivf.query(qvec, 4 * FirstStage, 2)
          val k = new KeywordIndex(spark, s"$dir/index").bm25(terms, 4 * FirstStage)
          tracer.span("IvfIndex.query")(noop(v))
          tracer.span("KeywordIndex.bm25")(noop(k))
          val mine = corpus.select(col("chunk_id"))
          def scoped(d: DataFrame) =
            top(d.join(mine, col("id") === col("chunk_id"), "left_semi"))
          (scoped(v), scoped(k))
        }
      val united = local(vec.withColumn("store_type", lit("vector"))
        .unionByName(kw.withColumn("store_type", lit("keyword"))))
      val fused = Fusion.rrf(united, 60.0, Map("vector" -> 1.0, "keyword" -> 0.5),
        FirstStage)
      tracer.span("Fusion.rrf")(noop(fused))
      val candidates = local(fused.join(corpus, fused("id") === corpus("chunk_id"))
        .select(col("id"), col("content")))
      tracer.span("Reranker.rerank")(noop(OverlapReranker().rerank(candidates, text, 10)))
    }

  val StreamBatches = 2
  val StreamBatchSize = 200
  val StreamMaxTokens = 400

  /** Stream `StreamBatches` micro-batches of `StreamBatchSize` messages,
    * spread over 16 tenants × 40 new sessions, through
    * `StreamingIngest.start` into the indexed warehouse `dir`, and read
    * the micro-batches' progress from a StreamingQueryListener. A final
    * batch of over-budget messages flushes what the session batcher
    * still holds. Returns the per-batch `StreamingIngest.*` metrics and
    * every message fed. */
  def replayStream(tracer: Tracer, dir: String, checkpoint: String,
      g: Gen): (Map[String, Double], Seq[Message]) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark = org.apache.spark.sql.SparkSession.active
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val sessions = for (t <- 0 until 16; j <- 0 until 40)
      yield (Gen.tenant(t), s"${Gen.tenant(t)}-stream$j")
    val next = scala.collection.mutable.Map.empty[(String, String), Int].withDefaultValue(0)
    def msg(ts: (String, String), content: String = null) = {
      val m = g.message(ts._1, ts._2, next(ts), content)
      next(ts) += 1
      m
    }
    val fed = scala.collection.mutable.ArrayBuffer.empty[Message]
    val probe = new StreamProbe(spark)
    val source = MemoryStream[Message]
    val q = graft.streaming.StreamingIngest.start(source.toDS(), dir, HashingEncoder(),
      maxTokens = StreamMaxTokens, timeoutMs = 0, checkpoint = checkpoint,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      (0 until StreamBatches).foreach { b =>
        val ms = (0 until StreamBatchSize).map(i =>
          msg(sessions((b * StreamBatchSize + i) % sessions.length)))
        fed ++= ms
        tracer.root("replay.stream", tracer.newOp()) {
          tracer.span("StreamingIngest.microBatch") {
            source.addData(ms)
            q.processAllAvailable()
          }
        }
      }
      val flush = next.keys.toSeq.sorted.map(msg(_,
        Iterator.fill(StreamMaxTokens + 1)("the").mkString(" ")))
      fed ++= flush
      source.addData(flush)
      q.processAllAvailable()
    } finally q.stop()
    val progress = probe.batches(StreamBatches + 1).sortBy(_.batchId).take(StreamBatches)
    probe.close()
    def dur(k: String) = Stats.mean(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      Stats.mean(progress.flatMap(_.stateOperators.headOption).map(f))
    (Map(
      "StreamingIngest.triggerExecution_ms" -> dur("triggerExecution"),
      "StreamingIngest.addBatch_ms" -> dur("addBatch"),
      "StreamingIngest.queryPlanning_ms" -> dur("queryPlanning"),
      "StreamingIngest.walCommit_ms" -> dur("walCommit"),
      "StreamingIngest.state_rows" -> state(_.numRowsTotal.toDouble),
      "StreamingIngest.state_memory_bytes" -> state(_.memoryUsedBytes.toDouble),
      "StreamingIngest.state_commit_ms" -> state(_.commitTimeMs.toDouble)),
      fed.toList)
  }

  /** Replay one write's rows through the write-path layers: the batch
    * `MemFuse.ingest` (span `MemFuse.ingest.scratch`, as it writes an
    * empty, unindexed warehouse) and a bucketed append into scratch
    * warehouses, the encoder, and index absorption into the warehouse
    * `dir` (chunk ids are fresh, so absorption adds them). */
  def replayWrite(tracer: Tracer, op: Long, mf: MemFuse, dir: String,
      scratch: String, msgs: Seq[Message]): Unit =
    tracer.root("replay.write", op) {
      val spark = mf.m1.sparkSession
      val rows = Common.frame(spark, msgs)
      tracer.span("MemFuse.ingest.scratch")(new MemFuse(spark, s"$scratch/facade").ingest(rows))
      val chunks = rows.select(
        concat(col("session_id"), lit("#replay-"), col("message_id")).as("chunk_id"),
        col("content"))
      tracer.span("Encoders.encode")(noop(HashingEncoder().encode(chunks, "content")))
      tracer.span("TableOps.appendBucketed")(
        TableOps.appendBucketed(rows, s"$scratch/m0_raw"))
      val encoded = local(HashingEncoder().encode(chunks, "content"))
      tracer.span("IndexUpkeep.absorbBatch")(IndexUpkeep.absorbBatch(spark, dir, encoded))
    }
}
