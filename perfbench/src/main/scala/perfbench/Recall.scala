package perfbench

import graft.pipeline.{MemFuse, TableOps}
import scala.collection.mutable

/** `recall`: read-only hybrid top-k recall through the facade's result
  * cache. Two clients in a closed loop call `MemFuse.queryCached` (scan
  * path, topK 10); each request names a tenant (in a seeded order, each
  * once before any twice) and 3 to 6 vocabulary words, and one in five
  * repeats one of the same client's earlier requests, so the cache is
  * reached. No write path and no index path run. */
object Recall {
  val Tenants = 16
  val SessionsPerTenant = 8
  val Rounds = 39 // 16 × 8 × 39 × 2 = 9,984 messages
  val Clients = 2
  val TopK = 10
  val Replays = 5
  /** Pause between a client's reply and its next request. Without it a
    * client that releases the result-cache lock takes it straight back
    * (the JVM monitor is unfair) and the other client's latency swings
    * with how long that streak lasts. */
  val ThinkMs = 25L

  final case class Req(tenant: String, text: String)
  final case class Done(op: Long, req: Req, seconds: Double)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val corpus = Gen.corpus(new Gen(ctx.seed), Tenants, SessionsPerTenant, Rounds)
    val sessions: Map[String, Set[String]] =
      corpus.groupBy(_.user_id).map { case (t, ms) => t -> ms.map(_.session_id).toSet }
    val chunksPerTenant = SessionsPerTenant * Rounds
    val (dir, setupS) = Common.setUp(ctx, corpus) { (d, ms) =>
      new MemFuse(spark, d).ingest(Common.frame(spark, ms))
    }
    Main.log("built")
    val mf = new MemFuse(spark, dir)

    def check(req: Req, rows: Array[org.apache.spark.sql.Row]): Unit = {
      val ids = rows.map(_.getAs[String]("id"))
      out.op(ids.length == math.min(TopK, chunksPerTenant) &&
        ids.distinct.length == ids.length &&
        ids.forall(id => sessions(req.tenant).contains(Gen.sessionOf(id))),
        s"query $req returned ${ids.mkString(",")}")
    }

    /** Closed loop of `Clients` threads for `seconds`. */
    def phase(salt: Int, seconds: Double, tracer: Tracer): (Seq[Done], Double) = {
      val done = mutable.ArrayBuffer.empty[Done]
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      // Tenants are drawn without replacement from a seeded order, client
      // c taking every Clients-th one from position c: a tenant's query
      // cost depends on how many tenants share its bucket, and a run
      // makes about one fresh request per tenant, so random draws with
      // replacement would make the cost of a run depend on the seed.
      val order = new scala.util.Random(ctx.seed * 31L + salt).shuffle((0 until Tenants).toVector)
      val threads = (0 until Clients).map { c =>
        new Thread(() => {
          val g = new Gen(ctx.seed * 1000003L + salt * 31L + c)
          val history = mutable.ArrayBuffer.empty[Req]
          var n = 0
          while (System.nanoTime() < deadline) {
            // requests 2, 7, 12, ... repeat: a client makes about 10 in
            // 12 s, so every run holds 2 repeats per client, and the
            // traced run's 6 s halves 1 each; a repeat count that varies
            // between runs would swing their latency and throughput
            val req =
              if (n % 5 == 2) history(g.nextInt(history.length))
              else {
                val t = order((c + Clients * history.length) % Tenants)
                val r = Req(Gen.tenant(t), g.words(3, 6))
                history += r
                r
              }
            val op = tracer.newOp()
            val (rows, s) = Common.seconds(out.attempt("queryCached") {
              SparkProbe.tagged(spark, op) {
                tracer.root("MemFuse.queryCached", op)(mf.queryCached(req.text, req.tenant, TopK))
              }
            })
            rows.foreach { r =>
              check(req, r)
              done.synchronized { done += Done(op, req, s) }
            }
            n += 1
            Thread.sleep(ThinkMs)
          }
        }, s"client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (done.toList, (System.nanoTime() - t0) / 1e9)
    }

    // warm the query path (codegen, JIT) outside the cache, with one
    // query per tenant: the facade builds a tenant's bucket view on its
    // first query, and without this the window's first request to each
    // tenant paid for it
    val warm = new Gen(ctx.seed + 7)
    val texts = Seq.fill(Tenants)(warm.words(3, 6))
    val warmers = (0 until Clients).map { c =>
      new Thread(() => texts.indices.filter(_ % Clients == c).foreach { i =>
        mf.query(texts(i), Gen.tenant(i), TopK).collect()
      })
    }
    warmers.foreach(_.start())
    warmers.foreach(_.join())

    Main.log("warmed up")
    Common.settle()
    val (first, elapsed) = phase(1, ctx.phaseSeconds, new Tracer(false))
    val lat = first.map(_.seconds)
    Main.log("measured")
    if (!ctx.trace) {
      val heapMb = Common.residentHeapMb()
      val spaceAmp = Common.bytesOnDisk(dir).toDouble / Gen.contentBytes(corpus)
      Common.endToEnd(out, setupS, lat, first.length / elapsed,
        spaceAmp, heapMb)
    } else {
      mf.clearCache()
      val tracer = new Tracer(true)
      val probe = new SparkProbe(spark)
      Common.settle()
      probe.window(on = true)
      val (traced, _) = phase(2, ctx.phaseSeconds, tracer)
      probe.window(on = false)
      val misses = traced.filter(d => probe.opsWithJobs.contains(d.op.toString))
      misses.take(Replays).foreach { d =>
        Layers.replayQuery(tracer, d.op, mf, dir, d.req.tenant, d.req.text, indexed = false)
      }
      probe.window(on = false) // deliver the replays' task metrics
      probe.close()
      tracer.write(ctx.traceFile("recall"))
      val results = traced.length * TopK
      Layers.report(out, ctx.perLayer, tracer, probe.perOp(traced.length) ++
        Layers.overhead(lat, traced.map(_.seconds)) ++ Map(
          "MemFuse.queryCached.hit_ratio" -> (1.0 - misses.length.toDouble / traced.length),
          "Retrieval.bm25.docs_scanned" -> probe.legRecords("Retrieval.bm25").toDouble /
            math.max(1, tracer.durations("Retrieval.bm25").length),
          "rows_scanned_per_result" -> probe.queryScanRecords.get.toDouble / results,
          "TableOps.segments.m0" -> TableOps.segmentCount(spark, s"$dir/m0_raw").toDouble,
          "TableOps.segments.m1" -> TableOps.segmentCount(spark, s"$dir/m1_episodic").toDouble))
    }
    out
  }
}
