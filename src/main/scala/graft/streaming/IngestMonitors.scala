package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ingest.Validate
import graft.streaming.StreamDrift.ValueEvent
import graft.streaming.StreamVocabGrowth.TokenEvent

/** Monitor taps on the live ingest stream: the SAME validate → assign
  * chain the persist path runs per micro-batch
  * ([[IngestPipeline.prepareBatch]] is [[prepared]] plus the store
  * layout and dedup), as a
  * pure streaming transform feeding [[StreamDrift]] (payload-size
  * distribution per part) and [[StreamVocabGrowth]] (payload token
  * novelty per part).
  * The monitors run as their OWN streaming queries over the shared
  * source — the standard multi-sink topology: flatMapGroupsWithState
  * cannot ride inside the persist path's foreachBatch, and a monitor
  * must never block an append. A rejected row (future timestamp,
  * malformed JSON, failed signature, unassigned part) is invisible to
  * the monitors exactly as it is to the store.
  *
  * The tap deliberately drops prepareBatch's intra-batch dedup: dedup
  * needs the batch boundary (foreachBatch), the monitors tolerate a
  * rare replayed duplicate (it perturbs one window's counts, never
  * state correctness), and keeping the tap fully declarative preserves
  * the persist path's watermark-free arbitrary-lateness semantics (R2).
  */
object IngestMonitors {

  /** Validation + assignment (F7, F8, F6, optionally the signature
    * seam) — the one copy of that chain, for the monitor taps and the
    * persist path's [[IngestPipeline.prepareBatch]]. `now` is the ingest
    * clock column: the persist path pins the batch's literal, a monitor
    * passes `current_timestamp()` (evaluated per micro-batch). */
  def prepared(source: DataFrame, now: Column,
      assigned: Option[Set[String]] = None,
      signatureValid: Option[Column] = None): DataFrame = {
    val validated = Validate.accepted(source, now, signatureValid)
    assigned match {
      case Some(keys) => validated.filter(partCol.isInCollection(keys))
      case None => validated
    }
  }

  /** Part key: `stream_id::partition` — the store's uniqueness scope
    * and therefore the monitors' state key. */
  private def partCol: Column =
    graft.functions.Scalars.streamPartKey(col("stream_id"), col("stream_partition"))

  private def minuteCol: Column =
    expr("unix_millis(cast(ts as timestamp)) div 60000")

  /** Payload-SIZE drift events for [[StreamDrift.detect]]: a payload
    * format change (new field, new codec, truncation bug) moves the
    * byte-length histogram long before anyone parses the values — the
    * content-free drift signal available on every stream. `valueMicro`
    * is the payload length in the 1e-6 fixed-point convention, so a
    * caller's `bandWidth = w * 1000000L` means w-character bands. */
  def driftEvents(prepared: DataFrame): Dataset[ValueEvent] = {
    val s = prepared.sparkSession
    import s.implicits._
    prepared.select(
      partCol.as("part"),
      minuteCol.as("minute"),
      (length(col("payload")).cast("long") * 1000000L).as("valueMicro"))
      .as[ValueEvent]
  }

  /** Payload token events for [[StreamVocabGrowth.detect]]: whitespace
    * tokens of the raw payload — a looping publisher's new-type rate
    * collapses while a healthy one keeps minting novel values. */
  def vocabEvents(prepared: DataFrame): Dataset[TokenEvent] = {
    val s = prepared.sparkSession
    import s.implicits._
    prepared.select(
      partCol.as("part"),
      minuteCol.as("minute"),
      explode(graft.text.TextAnalysis.wsTokens(col("payload"))).as("token"))
      .as[TokenEvent]
  }
}
