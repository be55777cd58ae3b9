package graft

import graft.pipeline._
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Int) =
    new java.sql.Timestamp(java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime + sec * 1000L)

  private def freshEngine(): (MemFuse, String) = {
    val dir = graft.TempDirs.create("memfuse").toString
    (new MemFuse(spark, dir), dir)
  }

  private def msg(id: String, session: String, user: String, round: String,
      seq: Int, role: String, content: String) =
    Schemas.Message(id, session, user, round, seq, role, content, ts(seq))

  test("ingest → hybrid query finds the planted conversation") {
    val (engine, _) = freshEngine()
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "how do i tune spark shuffle partitions"),
      msg("m2", "s1", "u1", "r1", 2, "assistant", "set shuffle partitions near total cores"),
      msg("m3", "s1", "u1", "r2", 3, "user", "what is a broadcast join"),
      msg("m4", "s1", "u1", "r2", 4, "assistant", "small side ships to every executor"),
      msg("m5", "s2", "u2", "r3", 1, "user", "completely unrelated cooking recipe")).toDF())

    assert(engine.m0.count() == 5)
    assert(engine.m1.count() == 3) // one chunk per round

    val hits = engine.query("tune spark shuffle partitions", "u1", topK = 2)
      .select("id", "content").collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[String]("content").contains("shuffle partitions"))

    // tenant isolation: u2's query never sees u1 chunks
    val other = engine.query("broadcast join", "u2", topK = 5)
      .select("content").as[String].collect()
    assert(other.forall(!_.contains("broadcast")))
  }

  test("role CHECK constraint filters invalid rows on write") {
    val (engine, _) = freshEngine()
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "ok"),
      msg("m2", "s1", "u1", "r1", 2, "robot", "invalid role dropped")).toDF())
    assert(engine.m0.count() == 1)
  }

  test("chunk lineage explodes back to source messages") {
    val (engine, _) = freshEngine()
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "first"),
      msg("m2", "s1", "u1", "r1", 2, "assistant", "second")).toDF())
    val lineage = engine.chunkLineage.collect()
    assert(lineage.length == 2)
    assert(lineage.map(_.getAs[String]("message_id")).toSet == Set("m1", "m2"))
  }

  test("deleteUser cascades across m0 and m1") {
    val (engine, _) = freshEngine()
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "keep me? no"),
      msg("m2", "s2", "u2", "r2", 1, "user", "survivor")).toDF())
    engine.deleteUser("u1")
    assert(engine.m0.select("user_id").as[String].collect().toSeq == Seq("u2"))
    assert(engine.m1.select("user_id").as[String].collect().toSeq == Seq("u2"))
  }

  test("deleteUser rewrites only the victim's bucket; ingest-after-delete keeps one layout") {
    val (engine, dir) = freshEngine()
    // pick two users hashing to different buckets (one engine job)
    val candidates = (1 to 40).map(i => s"u$i")
    val buckets = candidates.toDF("user_id")
      .withColumn("b", TableOps.userBucket)
      .as[(String, Long)].collect().toMap
    val u1 = candidates.head
    val u2 = candidates.find(u => buckets(u) != buckets(u1)).get
    engine.ingest(Seq(
      msg("m1", "s1", u1, "r1", 1, "user", "victim message"),
      msg("m2", "s2", u2, "r2", 1, "user", "survivor message")).toDF())

    // the survivor bucket's files, wherever the manifest's segments put them
    def survivorFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/m0_raw"))
        .filter(_.getPath.contains(s"user_bucket=${buckets(u2)}/"))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val before = survivorFiles()
    engine.deleteUser(u1)
    val after = survivorFiles()
    assert(after == before, "survivor bucket files must be untouched by the delete")
    assert(engine.m0.select("user_id").as[String].collect().toSeq == Seq(u2))

    // ADVICE regression: delete-then-ingest must keep ONE partitioned
    // layout (round-1's rewrite dropped partitionBy, mixing root files
    // with user_bucket dirs and breaking partition discovery)
    engine.ingest(Seq(msg("m3", "s3", u1, "r3", 1, "user", "back again")).toDF())
    assert(engine.m0.count() == 2)
    assert(engine.m0.filter(col("user_id") === u1).count() == 1)
    val p = engine.m1.filter(col("user_id") === u1)
      .queryExecution.executedPlan.toString()
    assert(p.contains("user_bucket"), "tenant partition pruning must survive mutations")
  }

  test("updateMessage rewrites m0 in place and re-chunks the round") {
    val (engine, _) = freshEngine()
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "original question"),
      msg("m2", "s1", "u1", "r1", 2, "assistant", "original answer"),
      msg("m3", "s1", "u1", "r2", 1, "user", "other round untouched")).toDF())
    val beforeOther = engine.m1.filter(array_contains(col("m0_raw_ids"), "m3"))
      .select("chunk_id").as[String].collect().toSeq
    engine.updateMessage("m2", "corrected answer")
    val m0 = engine.m0.select("message_id", "content", "created_at", "updated_at")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getTimestamp(2), r.getTimestamp(3))).toMap
    assert(m0("m2")._1 == "corrected answer")
    assert(m0("m2")._3.after(m0("m2")._2), "updated_at bumped")
    assert(m0("m1")._1 == "original question" && m0("m1")._2 == m0("m1")._3)
    // the round's chunk regenerated over the corrected content, with
    // full lineage; the other round's chunk is bit-identical
    val r1Chunk = engine.m1.filter(array_contains(col("m0_raw_ids"), "m2"))
    assert(r1Chunk.count() == 1)
    val row = r1Chunk.collect().head
    assert(row.getAs[String]("content").contains("corrected answer"))
    assert(row.getAs[scala.collection.Seq[String]]("m0_raw_ids").toSeq == Seq("m1", "m2"))
    assert(engine.m1.filter(array_contains(col("m0_raw_ids"), "m3"))
      .select("chunk_id").as[String].collect().toSeq == beforeOther)
    // retrieval sees the new content
    val hits = engine.query("corrected answer", "u1", topK = 2).collect()
    assert(hits.exists(_.getAs[String]("content").contains("corrected")))
  }

  test("deleteMessage removes the message and re-derives the round's chunk") {
    val (engine, _) = freshEngine()
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "keep this line"),
      msg("m2", "s1", "u1", "r1", 2, "assistant", "drop this line"),
      msg("m3", "s2", "u1", "r2", 1, "user", "lone round")).toDF())
    engine.deleteMessage("m2")
    assert(engine.m0.filter(col("message_id") === "m2").count() == 0)
    val r1Chunk = engine.m1.filter(array_contains(col("m0_raw_ids"), "m1")).collect()
    assert(r1Chunk.length == 1)
    assert(!r1Chunk.head.getAs[String]("content").contains("drop this line"))
    assert(r1Chunk.head.getAs[scala.collection.Seq[String]]("m0_raw_ids").toSeq == Seq("m1"))
    // deleting a round's ONLY message removes its chunk entirely
    engine.deleteMessage("m3")
    assert(engine.m1.filter(array_contains(col("m0_raw_ids"), "m3")).count() == 0)
    assert(engine.m0.count() == 1 && engine.m1.count() == 1)
  }

  test("maintain(): compaction + vacuum leave every result identical") {
    val (engine, dir) = freshEngine()
    (1 to 5).foreach(i => engine.ingest(Seq(
      msg(s"m$i", s"s$i", "u1", s"r$i", 1, "user", s"note number $i about spark")).toDF()))
    val before = engine.query("spark note", "u1", topK = 5)
      .select("id").as[String].collect().sorted.toSeq
    assert(TableOps.segmentCount(spark, s"$dir/m0_raw") == 5)
    engine.maintain(maxSegments = 2, keepVersions = 1)
    assert(TableOps.segmentCount(spark, s"$dir/m0_raw") == 1, "m0 compacted")
    assert(TableOps.segmentCount(spark, s"$dir/m1_episodic") == 1, "m1 compacted")
    val after = engine.query("spark note", "u1", topK = 5)
      .select("id").as[String].collect().sorted.toSeq
    assert(after == before, "maintenance must be invisible to queries")
    assert(engine.m0.count() == 5 && engine.m1.count() == 5)
  }

  test("result cache is invalidated by writes (B5 + cascade delete)") {
    val (engine, _) = freshEngine()
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "alpha beta gamma"),
      msg("m2", "s2", "u2", "r2", 1, "user", "delta epsilon")).toDF())
    val hits = engine.queryCached("alpha beta", "u1", topK = 3)
    assert(hits.nonEmpty)
    engine.deleteUser("u1")
    // stale entries for the deleted user must not be served
    assert(engine.queryCached("alpha beta", "u1", topK = 3).isEmpty)
  }

  test("result cache keys keep tenants apart when a user id holds the separator") {
    val (engine, _) = freshEngine()
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "x alpha"),
      msg("m2", "s2", "u2|u1", "r2", 1, "user", "x beta")).toDF())
    def own(user: String) = engine.m1.filter(col("user_id") === user)
      .select("chunk_id").as[String].collect().toSet
    // joined as text|user|topK both requests read "x|u2|u1|5"
    assert(engine.queryCached("x|u2", "u1", topK = 5).map(_.getAs[String]("id")).toSet
      .subsetOf(own("u1")))
    val ids = engine.queryCached("x", "u2|u1", topK = 5).map(_.getAs[String]("id")).toSet
    assert(ids.nonEmpty && ids.subsetOf(own("u2|u1")), ids.mkString(","))
  }

  // the gate parks a query inside rerank, i.e. inside MemFuse.query on
  // the caller's thread, so a cache miss is provably in flight
  private def gatedEngine(gate: GateReranker): MemFuse =
    new MemFuse(spark, graft.TempDirs.create("memfuse").toString, reranker = gate)

  /** Runs `body` on another thread while `gate` holds its query, then
    * opens the gate. The wait is a deadlock guard, not a latency bound:
    * a body stuck behind the held query fails the test, then the gate
    * opens so the suite can go on. */
  private def whileHeld[T](gate: GateReranker)(body: => T): T = {
    assert(gate.entered.await(GateGuard.toMillis, TimeUnit.MILLISECONDS),
      "the gated query never reached rerank")
    try Await.result(Future(body), GateGuard)
    finally gate.release.countDown()
  }
  private val GateGuard = 10.minutes

  test("result cache: a miss in flight blocks neither hits nor other tenants' misses") {
    val gate = new GateReranker("held query")
    val engine = gatedEngine(gate)
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "held query about spark"),
      msg("m2", "s2", "u2", "r2", 1, "user", "alpha beta gamma"),
      msg("m3", "s3", "u3", "r3", 1, "user", "delta epsilon zeta")).toDF())
    val primed = engine.queryCached("alpha beta", "u2", topK = 3)
    val held = Future(engine.queryCached("held query", "u1", topK = 3))
    whileHeld(gate) {
      assert(engine.queryCached("alpha beta", "u2", topK = 3) eq primed, "hit not served")
      val miss = engine.queryCached("delta epsilon", "u3", topK = 3)
      assert(miss.nonEmpty)
      assert(miss.toSeq == engine.query("delta epsilon", "u3", topK = 3).collect().toSeq)
    }
    assert(Await.result(held, GateGuard).toSeq ==
      engine.query("held query", "u1", topK = 3).collect().toSeq)
  }

  test("result cache: a fill that began before a write is not served after it") {
    val gate = new GateReranker("alpha beta")
    val engine = gatedEngine(gate)
    engine.ingest(Seq(msg("m1", "s1", "u1", "r1", 1, "user", "gamma delta notes")).toDF())
    val held = Future(engine.queryCached("alpha beta", "u1", topK = 3))
    whileHeld(gate) {
      engine.ingest(Seq(msg("m2", "s2", "u1", "r2", 1, "user", "alpha beta alpha beta")).toDF())
    }
    Await.result(held, GateGuard) // may hold the pre-write rows
    val fresh = engine.m1.filter(col("session_id") === "s2")
      .select("chunk_id").as[String].collect().toSeq
    assert(fresh.size == 1)
    val ids = engine.queryCached("alpha beta", "u1", topK = 3).map(_.getAs[String]("id"))
    assert(ids.contains(fresh.head), s"stale fill served: ${ids.mkString(",")}")
  }

  test("messagesBySession: ordered, limited, capped at 100") {
    val (engine, _) = freshEngine()
    engine.ingest((1 to 30).map(i =>
      msg(f"m$i%03d", "s1", "u1", s"r$i", i, "user", s"msg number $i")).toDF())
    val first = engine.messagesBySession("s1", limit = 5)
      .select("sequence_number").as[Int].collect()
    assert(first.toSeq == Seq(1, 2, 3, 4, 5))
    val last = engine.messagesBySession("s1", limit = 3, ascending = false)
      .select("sequence_number").as[Int].collect()
    assert(last.toSeq == Seq(30, 29, 28))
  }

  test("per-session fan-out ranks within each session in one job") {
    val (engine, _) = freshEngine()
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "spark tuning advice"),
      msg("m2", "s2", "u1", "r2", 1, "user", "spark shuffle details"),
      msg("m3", "s3", "u1", "r3", 1, "user", "cooking with cast iron")).toDF())
    val out = engine.queryPerSession("spark shuffle", "u1", topKPerSession = 1)
      .select("session_id", "rank_in_session").as[(String, Int)].collect().toSet
    assert(out == Set(("s1", 1), ("s2", 1), ("s3", 1)))
    val stats = engine.chunkStats.collect()
    assert(stats.length == 3)
    assert(stats.forall(_.getAs[Long]("n_chunks") == 1L))
  }

  test("chunking dispatch: character and token_budget strategies land on the m1 shape") {
    // C2: one long message → multiple overlapping character windows,
    // each with lineage to its source message
    val dirC = graft.TempDirs.create("chunkc").toString
    val charEngine = new MemFuse(spark, dirC, chunking = "character")
    val long = ("word " * 500).trim
    charEngine.ingest(Seq(msg("m1", "s1", "u1", "r1", 1, "user", long)).toDF())
    val charChunks = charEngine.m1.collect()
    assert(charChunks.length > 1, "1000-char windows over 2500 chars must split")
    assert(charChunks.forall(
      _.getAs[scala.collection.Seq[String]]("m0_raw_ids") == Seq("m1")))
    assert(charChunks.forall(_.getAs[String]("chunking_strategy") == "character"))

    // C3: messages pack greedily into ≤budget chunks, lineage covers
    // every message exactly once
    val dirT = graft.TempDirs.create("chunkt").toString
    val tbEngine = new MemFuse(spark, dirT, chunking = "token_budget")
    tbEngine.ingest((1 to 6).map(i =>
      msg(s"m$i", "s1", "u1", s"r$i", i, "user", ("tok " * 300).trim)).toDF())
    val tb = tbEngine.m1.collect()
    assert(tb.length > 1)
    val lineage = tb.flatMap(_.getAs[scala.collection.Seq[String]]("m0_raw_ids"))
    assert(lineage.sorted.toSeq == (1 to 6).map(i => s"m$i").sorted)
    assert(tb.forall(_.getAs[Int]("token_count") <= 900)) // budget + one message slack

    // hybrid query still works on the dispatched layout
    assert(tbEngine.query("tok", "u1", topK = 2).count() > 0)
  }

  test("C3 situating-context stage runs between packing and encoding") {
    def fresh(stage: Option[SituatingStage]) = {
      val dir = graft.TempDirs.create("situate").toString
      val e = new MemFuse(spark, dir, chunking = "token_budget", situating = stage)
      e.ingest(Seq(
        msg("m1", "s1", "u1", "r1", 1, "user", "alpha beta gamma"),
        msg("m2", "s1", "u1", "r1", 2, "assistant", "delta epsilon zeta")).toDF())
      e
    }
    // a tagging stage proves the routing point: ids and embeddings must
    // be computed over the SITUATED text
    val tag = new SituatingStage {
      def situate(texts: Iterator[String]): Iterator[String] =
        texts.map(t => s"[ctx] $t")
    }
    val tagged = fresh(Some(tag)).m1
      .select("chunk_id", "content", "embedding").collect()
    assert(tagged.nonEmpty)
    assert(tagged.forall(_.getAs[String]("content").startsWith("[ctx] ")))
    tagged.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Float]]("embedding").toSeq ==
        HashingEncoder().encodeOne(r.getAs[String]("content")).toSeq,
        "embedding must be over the situated text")
    }
    // the identity stage passes chunk text through bit-for-bit: same
    // (chunk_id, content) set as a pipeline with no stage at all
    def shape(e: MemFuse) = e.m1.select("chunk_id", "content")
      .as[(String, String)].collect().toSet
    assert(shape(fresh(Some(IdentitySituating))) == shape(fresh(None)))
  }

  test("store stats counters report per-table row counts") {
    val (engine, _) = freshEngine()
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "alpha"),
      msg("m2", "s1", "u1", "r2", 2, "user", "beta")).toDF())
    engine.createUser("u1", "Alice")
    val stats = engine.storeStats.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats("m0_raw") == 2)
    assert(stats("m1_episodic") == 2)
    assert(stats("users") == 1)
    assert(stats("knowledge") == 0)
  }

  test("metadata JSON serde round-trip and type filter") {
    val (engine, _) = freshEngine()
    // metadata arrives as a JSON string column → parsed to MapType at
    // the ingest edge (the JSONB boundary)
    val df = Seq(
      ("m1", "s1", "u1", "r1", 1, "user", "tagged message", ts(1), """{"type":"note","lang":"en"}"""),
      ("m2", "s1", "u1", "r2", 2, "user", "untagged message", ts(2), null.asInstanceOf[String]))
      .toDF("message_id", "session_id", "user_id", "round_id",
        "sequence_number", "role", "content", "created_at", "metadata")
    engine.ingest(df)
    // m0 stores the parsed map; null JSON becomes the empty map
    val metas = engine.m0.orderBy("message_id")
      .select(col("metadata")("type")).as[String].collect()
    assert(metas.toSeq == Seq("note", null))
    // F4-style item-type filter over m1 chunk metadata
    assert(engine.chunksByMetadata("type", "note").count() == 1)
    assert(engine.chunksByMetadata("type", "other").count() == 0)
    // to_json edge re-serializes the map
    val js = engine.m1MetadataJson.orderBy("chunk_id")
      .select("metadata_json").as[String].collect()
    assert(js.exists(_.contains("\"type\":\"note\"")))
  }

  test("hashing encoder: deterministic, normalized, overlap-sensitive") {
    val enc = HashingEncoder(64)
    val a = enc.encodeOne("spark shuffle partition tuning")
    val b = enc.encodeOne("spark shuffle partition tuning")
    val c = enc.encodeOne("completely different words entirely")
    assert(a.toSeq == b.toSeq)
    def cos(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    assert(math.abs(cos(a, a) - 1f) < 1e-5)
    assert(cos(a, c) < 0.5f)
  }

  test("projection cross-encoder: deterministic pairwise forward, facade-pluggable") {
    val ce = ProjectionCrossEncoder()
    val s1 = ce.score("spark shuffle", "tuning spark shuffle partitions")
    assert(s1 == ProjectionCrossEncoder().score("spark shuffle", "tuning spark shuffle partitions"),
      "frozen weights must regenerate identically")
    assert(s1 >= -1.0 && s1 <= 1.0)
    // interaction features: score must CHANGE when the candidate does
    // (a bi-encoder oracle would too, but a constant scorer would not)
    assert(s1 != ce.score("spark shuffle", "banana bread recipe"))
    // the facade runs end-to-end with the cross-encoder plugged in
    val dir = graft.TempDirs.create("xenc").toString
    val engine = new MemFuse(spark, dir, reranker = ce)
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning"),
      msg("m2", "s2", "u1", "r2", 1, "user", "unrelated cooking content")).toDF())
    val out = engine.query("spark shuffle", "u1", topK = 2).collect()
    assert(out.length == 2)
    assert(out.forall(r => !r.isNullAt(r.fieldIndex("rerank_score"))))
  }

  test("random-projection encoder: frozen weights, normalized, similarity-preserving") {
    val enc = RandomProjectionEncoder()
    def cos(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    val a = enc.encodeOne("spark shuffle partition tuning")
    assert(a.toSeq == RandomProjectionEncoder().encodeOne("spark shuffle partition tuning").toSeq,
      "weights must regenerate identically from the seed")
    assert(math.abs(cos(a, a) - 1f) < 1e-5)
    // near-identical texts stay near; disjoint texts land far
    val near = enc.encodeOne("spark shuffle partition tuning tips")
    val far = enc.encodeOne("completely unrelated cooking recipe words")
    assert(cos(a, near) > cos(a, far))
    // the full facade runs with the projection encoder plugged in
    val dir = graft.TempDirs.create("rpenc").toString
    val engine = new MemFuse(spark, dir, encoder = enc)
    engine.ingest(Seq(
      msg("m1", "s1", "u1", "r1", 1, "user", "how to tune spark shuffle"),
      msg("m2", "s2", "u1", "r2", 1, "user", "banana bread recipe")).toDF())
    val top = engine.query("tune spark shuffle", "u1", topK = 1).collect()
    assert(top.nonEmpty && top.head.getAs[String]("content").contains("shuffle"))
  }
}

/** Overlap reranker that parks every caller reranking `heldText` until
  * `release` opens, counting down `entered` first. */
class GateReranker(heldText: String) extends Reranker {
  @transient val entered = new java.util.concurrent.CountDownLatch(1)
  @transient val release = new java.util.concurrent.CountDownLatch(1)
  def rerank(candidates: org.apache.spark.sql.DataFrame, queryText: String,
      topK: Int): org.apache.spark.sql.DataFrame = {
    if (queryText == heldText) { entered.countDown(); release.await() }
    OverlapReranker().rerank(candidates, queryText, topK)
  }
}
