package perfbench

import graft.pipeline.{MemFuse, TableOps}
import graft.pipeline.Schemas.Message
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `churn`: the tenant-memory lifecycle, writes beside reads, one client
  * in a closed loop over the recall corpus plus keyword + IVF indexes.
  * Every cycle is the same: `MemFuse.ingest` of one new session (50
  * messages, with its catalog row), 3 indexed queries (`useIndexes`,
  * nProbe 2) for that tenant, `deleteSession` of the previous cycle's
  * session and `maintain()`. Every read follows a write that clears the
  * facade's views, result cache and index handles; tombstones,
  * compaction, stale rebuilds and vacuum all run. */
object Churn {
  val Tenants = Recall.Tenants
  val SessionsPerTenant = Recall.SessionsPerTenant
  val Rounds = Recall.Rounds
  val CycleRounds = 25 // 50 messages per new session
  val QueriesPerCycle = 3
  val TopK = 10
  val Replays = 2
  /** Cycles the untraced measured phase runs at least: a cycle takes
    * about 8 s, and two give 6 query samples, so the median is never an
    * after-write query. The traced run's two halves run one each at
    * least, to keep that run short. */
  val MinCycles = 2

  final case class Query(op: Long, tenant: String, text: String,
      afterWrite: Boolean, rows: Int, seconds: Double)

  final class Tally {
    val queries = mutable.ArrayBuffer.empty[Query]
    val writes = mutable.ArrayBuffer.empty[Double]
    val maintains = mutable.ArrayBuffer.empty[Double]
    var elapsed = 0.0
    var cycles = 0
    /** Latency of every lifecycle call: ingest, query, delete, maintain. */
    def calls: Seq[Double] = (queries.map(_.seconds) ++ writes ++ maintains).toList
    def ops: Int = calls.length
    def querySeconds: Seq[Double] = queries.map(_.seconds).toList
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val out = new Outcome
    val g = new Gen(ctx.seed)
    val corpus = Gen.corpus(g, Tenants, SessionsPerTenant, Rounds)
    val (dir, setupS) = Common.setUp(ctx, corpus) { (d, ms) =>
      val mf = new MemFuse(spark, d)
      mf.ingest(Common.frame(spark, ms))
      mf.buildIndexes()
    }
    Main.log("built")
    val mf = new MemFuse(spark, dir)

    // what the warehouse should hold: the live sessions' messages (one
    // chunk per round)
    val live = mutable.Map.empty[String, Seq[Message]]
    live ++= corpus.groupBy(_.session_id)
    val deleted = mutable.Set.empty[String]
    def tenantChunks(t: String) =
      live.collect { case (s, ms) if s.startsWith(t + "-") => ms.length / 2 }.sum

    // the traced window's Spark probe: the benchmark's own checks run
    // with it paused, so its counters hold the workload's work only
    var probe = Option.empty[SparkProbe]
    def unprobed[T](f: => T): T = probe.fold(f)(_.paused(f))

    def write(tracer: Tracer, tenant: String, sid: String): Option[Double] = {
      val ms = g.session(tenant, sid, CycleRounds)
      out.attempt("ingest") {
        val s = Common.seconds(tracer.root("churn.write", tracer.newOp()) {
          tracer.span("MemFuse.createSession")(mf.createSession(sid, tenant, "agent"))
          tracer.span("MemFuse.ingest")(mf.ingest(Common.frame(spark, ms)))
        })._2
        live(sid) = ms
        out.op(ok = true, "")
        s
      }
    }

    // The index path over-fetches 4 × 2 × topK hits from table-global
    // indexes and keeps the tenant's, so it may return fewer than topK
    // rows; every row must still be a live chunk of the tenant.
    val short = mutable.ArrayBuffer.empty[Boolean]
    def query(tracer: Tracer, tenant: String, text: String,
        afterWrite: Boolean): Option[Query] = {
      val op = tracer.newOp()
      out.attempt("indexed query") {
        val (rows, s) = Common.seconds(SparkProbe.tagged(spark, op) {
          tracer.root("MemFuse.query", op) {
            mf.query(text, tenant, TopK, useIndexes = true, nProbe = 2).collect()
          }
        })
        val ids = rows.map(_.getAs[String]("id"))
        val want = math.min(TopK, tenantChunks(tenant))
        out.op(ids.nonEmpty && ids.length <= want && ids.distinct.length == ids.length &&
          ids.forall { id =>
            val s = Gen.sessionOf(id)
            s.startsWith(tenant + "-") && live.contains(s) && !deleted(s)
          }, s"indexed query ($tenant, $text) returned ${ids.mkString(",")}")
        short += ids.length < want
        Query(op, tenant, text, afterWrite, ids.length, s)
      }
    }

    def delete(tracer: Tracer, sid: String): Option[Double] =
      out.attempt("deleteSession") {
        val s = Common.seconds(tracer.root("MemFuse.deleteSession", tracer.newOp()) {
          mf.deleteSession(sid)
        })._2
        live.remove(sid)
        deleted += sid
        out.op(ok = true, "")
        s
      }

    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val staleness = mutable.ArrayBuffer.empty[Double]
    def maintain(tracer: Tracer): Option[Double] =
      out.attempt("maintain") {
        if (tracer.enabled) staleness += unprobed(mf.indexStaleFraction)
        val s = Common.seconds(tracer.root("MemFuse.maintain", tracer.newOp()) {
          mf.maintain(onPhase = (ph, sec) => phases(ph) += sec)
        })._2
        val n = unprobed(mf.storeStats.as[(String, Long)].collect().toMap)
        val m0 = live.values.map(_.length.toLong).sum
        out.op(n("m0_raw") == m0 && n("m1_episodic") == m0 / 2,
          s"after maintain storeStats m0/m1 = ${n("m0_raw")}/${n("m1_episodic")}, " +
            s"expected $m0/${m0 / 2}")
        s
      }

    var cycle = 0
    var prev = Option.empty[String]
    /** Closed-loop cycles until `seconds` have passed and at least
      * `minCycles` have run. */
    def phase(seconds: Double, tracer: Tracer, minCycles: Int): Tally = {
      val t = new Tally
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      do {
        val tenant = Gen.tenant(g.nextInt(Tenants))
        val sid = s"$tenant-c$cycle"
        write(tracer, tenant, sid).foreach(t.writes += _)
        (0 until QueriesPerCycle).foreach { i =>
          query(tracer, tenant, g.words(3, 6), afterWrite = i == 0).foreach(t.queries += _)
        }
        prev.flatMap(delete(tracer, _)).foreach(t.writes += _)
        maintain(tracer).foreach(t.maintains += _)
        prev = Some(sid)
        cycle += 1
        t.cycles += 1
      } while (System.nanoTime() < deadline || t.cycles < minCycles)
      t.elapsed = (System.nanoTime() - t0) / 1e9
      t
    }

    val warm = phase(0, new Tracer(false), minCycles = 1) // untimed
    Main.log(f"warmed up (${warm.elapsed}%.2f s)")
    Common.settle()
    val first = phase(ctx.phaseSeconds, new Tracer(false), if (ctx.trace) 1 else MinCycles)
    Main.log("measured")

    // committed m0 holds exactly the live messages, and each sits in
    // exactly one m1 chunk's lineage
    def checkWarehouse(mf: MemFuse): Unit = {
      val expected = live.values.flatMap(_.map(_.message_id)).toSet
      val m0Ids = mf.m0.select("message_id").as[String].collect()
      out.op(m0Ids.length == expected.size && m0Ids.toSet == expected,
        s"committed m0 holds ${m0Ids.length} rows for ${expected.size} live messages")
      val lineage = mf.m1.select(explode(col("m0_raw_ids")).as("id"))
        .groupBy("id").count().as[(String, Long)].collect().toMap
      out.op(lineage.size == expected.size && lineage.values.forall(_ == 1L) &&
        expected.forall(lineage.contains),
        s"m1 lineage covers ${lineage.size} ids for ${expected.size} live messages")
    }
    checkWarehouse(mf)

    if (!ctx.trace) {
      val heapMb = Common.residentHeapMb()
      val spaceAmp = Common.bytesOnDisk(dir).toDouble / Gen.contentBytes(live.values.flatten)
      // reads: indexed-query latency; the whole lifecycle: cycles per
      // second spent in its calls (one client, so the checks between
      // calls do not count)
      Common.endToEnd(out, setupS, first.querySeconds,
        first.cycles / first.calls.sum, spaceAmp, heapMb)
    }
    out.detail ++= Common.latencies("call", first.calls) ++
      Common.latencies("write", first.writes.toList) ++ Seq(
        "maintain_n" -> first.maintains.length,
        "query_short_frac" -> short.count(identity).toDouble / math.max(1, short.length),
        "cycles" -> cycle)

    if (ctx.trace) {
      phases.clear()
      val tracer = new Tracer(true)
      val sp = new SparkProbe(spark)
      Common.settle()
      probe = Some(sp)
      sp.window(on = true)
      val t = phase(ctx.phaseSeconds, tracer, minCycles = 1)
      sp.window(on = false)
      probe = None
      sp.close()
      val (afterWrite, steady) = t.queries.partition(_.afterWrite)
      t.queries.take(Replays).foreach { q =>
        Layers.replayQuery(tracer, q.op, mf, dir, q.tenant, q.text, indexed = true)
      }
      Layers.replayWrite(tracer, tracer.newOp(), mf, dir, s"${ctx.work}/scratch",
        g.session(Gen.tenant(0), "u00-replay", CycleRounds))
      val segments = Map(
        "TableOps.segments.m0" -> TableOps.segmentCount(spark, s"$dir/m0_raw").toDouble,
        "TableOps.segments.m1" -> TableOps.segmentCount(spark, s"$dir/m1_episodic").toDouble)
      val (stream, fed) =
        Layers.replayStream(tracer, dir, s"${ctx.work}/stream-checkpoint", g)
      // the stream committed every message it was fed, once each
      live ++= fed.groupBy(_.session_id)
      checkWarehouse(new MemFuse(spark, dir))
      tracer.write(ctx.traceFile("churn"))
      Layers.report(out, ctx.perLayer, tracer, sp.perOp(t.ops) ++
        Layers.overhead(first.querySeconds, t.querySeconds) ++
        phases.map { case (ph, s) =>
          s"MemFuse.maintain.${ph}_s" -> s / math.max(1, t.maintains.length) } ++
        stream ++ segments ++ Map(
          "MemFuse.query.after_write_s" -> Stats.mean(afterWrite.map(_.seconds)),
          "MemFuse.query.steady_s" -> Stats.mean(steady.map(_.seconds)),
          "MemFuse.indexStaleFraction" -> Stats.mean(staleness),
          "rows_scanned_per_result" ->
            sp.queryScanRecords.get.toDouble / math.max(1, t.queries.map(_.rows).sum)))
    }
    out
  }
}
