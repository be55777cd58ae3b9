package perfbench

import graft.pipeline.Schemas.Message
import java.nio.charset.StandardCharsets.UTF_8

/** Seeded input generator. Texts follow the shape of the engine's test
  * corpus (`documents.parquet`): 10 to 100 words drawn uniformly from its
  * 31-word vocabulary. The same seed always yields the same inputs. */
final class Gen(seed: Long) {
  private val rnd = new scala.util.Random(seed)
  private var clock = 0L

  def nextInt(n: Int): Int = rnd.nextInt(n)

  def words(minW: Int, maxW: Int): String =
    Iterator.fill(minW + rnd.nextInt(maxW - minW + 1))(
      Gen.Vocabulary(rnd.nextInt(Gen.Vocabulary.length))).mkString(" ")

  /** One message; `seq` orders it within its session and two messages
    * (user, then assistant) make one round. */
  def message(tenant: String, session: String, seq: Int,
      content: String = null): Message = {
    clock += 1
    Message(s"$session-m$seq", session, tenant, s"$session-r${seq / 2}", seq,
      if (seq % 2 == 0) "user" else "assistant",
      if (content == null) words(10, 100) else content,
      new java.sql.Timestamp(Gen.Epoch + clock * 1000L))
  }

  /** A whole conversation: `rounds` user/assistant rounds. */
  def session(tenant: String, session: String, rounds: Int): Seq[Message] =
    (0 until 2 * rounds).map(message(tenant, session, _))
}

object Gen {
  val Vocabulary: Vector[String] = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  val Epoch = 1717200000000L

  def tenant(i: Int): String = f"u$i%02d"

  /** Chunk ids are `<session_id>#<hash>`; this recovers the session. */
  def sessionOf(chunkId: String): String = chunkId.takeWhile(_ != '#')

  def contentBytes(ms: Iterable[Message]): Long =
    ms.iterator.map(_.content.getBytes(UTF_8).length.toLong).sum

  /** Every tenant gets `sessionsPerTenant` conversations of `rounds`
    * rounds, named `<tenant>-s<j>`. */
  def corpus(g: Gen, tenants: Int, sessionsPerTenant: Int,
      rounds: Int): Seq[Message] =
    for {
      t <- 0 until tenants
      j <- 0 until sessionsPerTenant
      m <- g.session(tenant(t), s"${tenant(t)}-s$j", rounds)
    } yield m
}
