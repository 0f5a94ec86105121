package graft.serve

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.BrokerQueries
import graft.operators.BrokerQueries.MsgRef

/** The serving layer's resend + live-subscription contract (SURVEY §3.2,
  * R1/R5/R6) — the reference's WebSocket RequestHandler envelope
  * (`src/websocket/RequestHandler.ts:137-215`) over DataFrame plans:
  *
  *  - a resend answers with `resending` → one `unicast` per message →
  *    `resent`, or a single `no_resend` when empty
  *    (`RequestHandler.ts:151-215`);
  *  - delivery of a result plan is pull-based over `toLocalIterator` —
  *    one partition of result rows in driver memory at a time, the
  *    engine-side analog of the reference's pause/resume backpressure (R6,
  *    `Connection.ts:70-80`); the engine's bounded `last` instead hands
  *    over its collected answer, at most 10k formatted rows;
  *  - live fan-out (R1) routes each ingested micro-batch to the
  *    subscriptions of its stream-part (`WebsocketServer.ts:327-345`);
  *    resend-while-live = envelope first, then the live queue (R5).
  */
object Resend {

  sealed trait Frame { def kind: String }
  final case class Resending() extends Frame { val kind = "resending" }
  final case class Unicast(msg: String) extends Frame { val kind = "unicast" }
  final case class Resent() extends Frame { val kind = "resent" }
  final case class NoResend() extends Frame { val kind = "no_resend" }

  /** Wrap formatted result rows (one wire string each) in the resend
    * envelope, lazily: the first row decides resending-vs-no_resend, rows
    * stream as unicasts. The engine's bounded `last` passes the rows it
    * already collected; plans come through the `DataFrame` entry. */
  def envelope(formatted: Iterator[Row]): Iterator[Frame] =
    if (!formatted.hasNext) Iterator(NoResend())
    else Iterator(Resending()) ++ formatted.map(r => Unicast(r.getString(0))) ++
      Iterator(Resent())

  /** [[envelope]] over a formatted result plan, pulled with
    * `toLocalIterator` (one result partition in driver memory at a time). */
  def envelope(formatted: DataFrame): Iterator[Frame] =
    envelope(formatted.toLocalIterator().asScala)

  /** The three resend shapes, pre-formatted (`format`: object|protocol|raw). */
  def last(streamData: DataFrame, streamId: String, partition: Int, n: Int,
      format: String = "object", version: Option[Int] = None): Iterator[Frame] =
    envelope(Formats.format(
      BrokerQueries.requestLast(streamData, streamId, partition, n), format, version))

  def from(streamData: DataFrame, streamId: String, partition: Int, ref: MsgRef,
      format: String = "object", version: Option[Int] = None,
      publisher: Option[String] = None): Iterator[Frame] =
    envelope(Formats.format(
      BrokerQueries.requestFrom(streamData, streamId, partition, ref, publisher),
      format, version))

  def range(streamData: DataFrame, streamId: String, partition: Int,
      fromRef: MsgRef, toRef: MsgRef, format: String = "object",
      version: Option[Int] = None, publisher: Option[String] = None,
      msgChain: Option[String] = None): Iterator[Frame] =
    envelope(Formats.format(
      BrokerQueries.requestRange(streamData, streamId, partition, fromRef, toRef,
        publisher, msgChain),
      format, version))
}

/** Live-subscription registry (R1): bounded queues per (subscriber,
  * stream-part), indexed by stream-part — one subscriber may hold many
  * concurrent subscriptions, like one reference connection subscribing to
  * many stream-parts (`WebsocketServer.ts:327-345`). Plugs into
  * `IngestPipeline.start(onBatch = registry.dispatch)`, which calls it
  * before the batch is written, so delivery is at least once (a batch
  * replayed after a failed write or commit marker is delivered again);
  * `resendThenLive` serves the R5 contract.
  *
  * Dispatch runs the routing/format pass distributed (filter + both wire
  * shapes rendered in-plan) as ONE Spark job, then delivers driver-side.
  * Delivery must be driver-side because the subscription queues live in
  * the JVM that called `subscribe` (the driver): an executor-side
  * `foreachPartition` would resolve an empty process-local registry on
  * any multi-executor cluster and silently drop every message. The driver
  * holds at most the subscribed slice of one micro-batch — the plan has
  * already filtered it to subscribed stream-parts — so the driver hop is
  * bounded by subscriber demand, not batch size. */
final class SubscriptionRegistry(queueCapacity: Int = 10000) extends AutoCloseable {

  final case class Subscription(subscriberId: String, streamId: String, partition: Int,
      queue: LinkedBlockingQueue[String], format: String = "object") {
    // validated at construction so a directly-built Subscription can't
    // reach offer()'s dispatch with a name that silently serves `object`
    require(Formats.Names.contains(format), Formats.unknown(format))
  }

  /** stream-part → its subscriptions by subscriber id; a part with none
    * has no entry. Updated atomically per part by `compute`. */
  private val byPart = new ConcurrentHashMap[(String, Int), Map[String, Subscription]]()

  /** Register a subscription; `format` picks the wire shape of delivered
    * messages (`object` | `protocol` | `raw`), like the reference's
    * per-connection payload format. An unknown name is rejected here, at
    * registration — not silently served as `object` on every dispatch. */
  def subscribe(subscriberId: String, streamId: String, partition: Int,
      format: String = "object"): Subscription = {
    val s = Subscription(subscriberId, streamId, partition,
      new LinkedBlockingQueue[String](queueCapacity), format)
    byPart.compute((streamId, partition),
      (_, subs) => Option(subs).getOrElse(Map.empty) + (subscriberId -> s))
    s
  }

  /** Drop one subscription of the subscriber (others stay live). */
  def unsubscribe(subscriberId: String, streamId: String, partition: Int): Unit =
    byPart.computeIfPresent((streamId, partition), (_, subs) => {
      val rest = subs - subscriberId
      if (rest.isEmpty) null else rest
    })

  /** Drop ALL the subscriber's subscriptions (connection close). */
  def unsubscribe(subscriberId: String): Unit =
    byPart.keySet().asScala.foreach { case (s, p) => unsubscribe(subscriberId, s, p) }

  /** Offer a message to every subscription of its stream-part, each in its
    * own format; a full queue drops oldest-first, the bounded-buffer
    * behavior of the reference's backpressure close (`Connection.ts:17-18`
    * + `RequestHandler.ts:356-363`). Called from the driver-side delivery
    * loop of [[dispatch]]. */
  private[serve] def offer(streamId: String, partition: Int,
      objectMsg: String, protocolMsg: String): Unit =
    Option(byPart.get((streamId, partition))).foreach(_.values.foreach { s =>
      val msg = s.format match {
        case "protocol" | "raw" => protocolMsg
        case _                  => objectMsg
      }
      if (!s.queue.offer(msg)) { s.queue.poll(); s.queue.offer(msg) }
    })

  /** Route a prepared micro-batch to matching subscriptions: one
    * distributed filter+format pass (both wire shapes rendered in-plan —
    * two narrow string concats per row) collected in one job, then a
    * driver-side loop into the queues. The queues only exist in this JVM,
    * so delivery happens here; the distributed plan has already shrunk the
    * batch to subscribed stream-parts. */
  def dispatch(batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val wanted = byPart.keySet().asScala.map { case (s, p) => s"$s::$p" }.toSet
    if (wanted.isEmpty) return
    batch
      .filter(graft.functions.Scalars
        .streamPartKey(col("stream_id"), col("stream_partition"))
        .isInCollection(wanted))
      .select(col("stream_id"), col("stream_partition"),
        Formats.objectJson.as("msg_object"), Formats.protocolJson.as("msg_protocol"))
      .collect()
      .foreach(r => offer(r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
  }

  /** R5 — historical resend frames first, then the live queue's drain
    * iterator (caller polls the queue for subsequent batches). */
  def resendThenLive(
      streamData: DataFrame, subscriberId: String,
      streamId: String, partition: Int, lastN: Int,
      format: String = "object"): Iterator[Resend.Frame] = {
    val sub = subscribe(subscriberId, streamId, partition, format)
    Resend.last(streamData, streamId, partition, lastN, format) ++
      Iterator.continually(sub.queue.poll())
        .takeWhile(_ != null)
        .map(Resend.Unicast.apply)
  }

  /** Drop all subscriptions (engine shutdown). */
  override def close(): Unit = byPart.clear()
}
