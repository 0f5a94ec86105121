package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.BrokerQueries
import graft.operators.BrokerQueries.MsgRef
import graft.serve.{Formats, Resend, SubscriptionRegistry}
import graft.store.MessageStore
import graft.streaming.{DynamicAssignment, IngestPipeline}

/** The engine facade — the reference broker's storage-node API surface
  * (SURVEY §3) over one bucketed store:
  *
  *  - write path: `publish` (batch) / `startIngest` (streaming) share one
  *    commit function, validate→assign→layout→dedup→aggregate→fan-out→
  *    append with one exchange and one aggregate per batch, live delivery
  *    before the store write (§3.3, [[IngestPipeline.commit]]);
  *  - read path: `last`/`from`/`range` serve the resend envelope in any
  *    format (§3.1-3.2), `metadata` the count/bytes/first/last endpoints
  *    (`Storage.ts:452-576`); each reads only its own stream-part's
  *    buckets (`last` via [[MessageStore.collectLast]], the others
  *    via [[MessageStore.openStreamPart]]), with one merge-on-read rule.
  *    A stream-part read is one task, merged in its own partition: each
  *    request is one Spark job with no exchange;
  *  - live path: `subscribe` receives each ingested micro-batch (R1);
  *  - ops: `deleteExpired` enforces retention by bucket drop
  *    (`DeleteExpiredCmd.ts`).
  */
final class GraftEngine(
    val spark: SparkSession,
    val storePath: String,
    assigned: Option[Set[String]] = None) {

  // The engine's NTZ columns carry UTC wall-clock (epoch-ms in the
  // reference); pin the session zone so TIMESTAMP casts (serve-format
  // epoch rendering, window functions) agree with that convention
  // regardless of host JVM zone.
  spark.conf.set("spark.sql.session.timeZone", "UTC")

  val subscriptions = new SubscriptionRegistry()

  /** R7 — live storage-assignment state: seeded from the constructor,
    * refreshed via [[updateAssignment]]; the streaming ingest re-reads it
    * every micro-batch (`StorageConfig.ts:96-149`). */
  val assignment = new DynamicAssignment(assigned)

  /** Refresh the storage assignment (polling/event-stream callback site).
    * Returns the (added, removed) stream-part delta (U2). Takes effect on
    * the next micro-batch / publish — no restart. */
  def updateAssignment(next: Option[Set[String]]): (Set[String], Set[String]) =
    assignment.update(next)

  /** The whole store as one upsert relation (merge-on-read:
    * replayed publishes from later micro-batches are invisible, matching
    * the reference's Cassandra primary-key semantics). Empty when no
    * bucket exists; a corrupt or unreadable store propagates its error. */
  def table: DataFrame = MessageStore.openMerged(spark, storePath)

  /** Batch publish: one batch through the streaming ingest's own commit
    * path ([[IngestPipeline.commit]], without the replay marker), fanned
    * out and persisted. Returns accepted-row count. */
  def publish(messages: DataFrame, nowMs: Long = System.currentTimeMillis()): Long =
    IngestPipeline.commit(messages, -1L, storePath, assignment.get(), nowMs,
      subscriptions.dispatch)().rows

  /** Streaming publish (the hot path). The assignment supplier is read at
    * every batch boundary, so [[updateAssignment]] reshapes a running
    * ingest without restart. */
  def startIngest(source: DataFrame, checkpointPath: String,
      triggerMs: Long = 1000L, autoCompactEvery: Int = 0): StreamingQuery =
    IngestPipeline.start(source, storePath, checkpointPath, assignment.get _,
      triggerMs, onBatch = subscriptions.dispatch,
      autoCompactEvery = autoCompactEvery)

  // ---- reads (§3.1): resend envelope over the chosen format ----

  /** The `n` newest messages of a stream-part, ascending, in the resend
    * envelope. One Spark query in the steady state: coverage comes from the
    * parquet footers of the newest buckets (no count job), and the wire
    * format is projected inside the top-K plan, which is collected once
    * (at most 10k rows) — see [[MessageStore.collectLast]]. The format and
    * version are checked before the store is touched, so an unsupported
    * one throws [[graft.serve.BadRequestException]] even for an empty or
    * absent part. */
  def last(streamId: String, partition: Int, n: Int,
      format: String = "object", version: Option[Int] = None): Iterator[Resend.Frame] = {
    val msg = Formats.wire(format, version).as("msg")
    Resend.envelope(MessageStore.collectLast(spark, storePath, streamId, partition, n)(
      _.select(msg)).iterator)
  }

  def from(streamId: String, partition: Int, ref: MsgRef,
      format: String = "object", version: Option[Int] = None,
      publisher: Option[String] = None): Iterator[Resend.Frame] =
    Resend.from(
      MessageStore.openStreamPart(spark, storePath, streamId, partition, Some(ref.tsMs)),
      streamId, partition, ref, format, version, publisher)

  def range(streamId: String, partition: Int, fromRef: MsgRef, toRef: MsgRef,
      format: String = "object", version: Option[Int] = None,
      publisher: Option[String] = None,
      msgChain: Option[String] = None): Iterator[Resend.Frame] =
    Resend.range(
      MessageStore.openStreamPart(spark, storePath, streamId, partition,
        Some(fromRef.tsMs), Some(toRef.tsMs)),
      streamId, partition, fromRef, toRef, format, version, publisher, msgChain)

  /** Metadata endpoints (count/bytes/first/last per stream-part). */
  def metadata(streamId: String, partition: Int): Option[(Long, Long, Long, Long)] =
    BrokerQueries.metadata(
      MessageStore.openStreamPart(spark, storePath, streamId, partition))
      .collect().headOption.map { r =>
        (r.getAs[Long]("message_count"), r.getAs[Long]("total_bytes"),
          r.getAs[java.time.LocalDateTime]("first_ts")
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
          r.getAs[java.time.LocalDateTime]("last_ts")
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
      }

  /** Live subscription (R1); returns the bounded queue to drain. `format`
    * picks the delivered wire shape (object | protocol | raw). */
  def subscribe(subscriberId: String, streamId: String, partition: Int,
      format: String = "object") =
    subscriptions.subscribe(subscriberId, streamId, partition, format)

  /** Maintenance: merge per-batch small files of a stream-part's buckets
    * (the reference's bucket-rolling analog), in place and listing only
    * that stream-part; a crashed earlier compaction needs no recovery (see
    * [[MessageStore.compactStreamPart]]). Returns buckets compacted. */
  def compact(streamId: String, partition: Int): Int =
    MessageStore.compactStreamPart(spark, storePath, streamId, partition)

  /** Policy-driven maintenance across the whole store: compact every
    * bucket whose per-batch file count reached `maxFilesPerBucket` (the
    * reference's size-triggered bucket rolling, `BucketManager.ts:50-51,
    * 105-107`). Run it on a maintenance cadence; buckets under the
    * threshold cost only a directory listing. Compacted buckets come out
    * replay-purged and marker-clean, so serving reads over them skip the
    * merge window. Returns buckets compacted. */
  def autoCompact(maxFilesPerBucket: Int = 4): Int =
    MessageStore.autoCompact(spark, storePath, maxFilesPerBucket)

  /** Retention: drop buckets whose newest row is older than
    * `retentionDays` (default 365 like the reference,
    * `DeleteExpiredCmd.ts:91`). Returns dropped bucket paths. */
  def deleteExpired(retentionDays: Int = 365,
      nowMs: Long = System.currentTimeMillis()): Seq[String] =
    MessageStore.dropExpiredBuckets(spark, storePath,
      MsgRef(nowMs - retentionDays * 86400000L, 0))

  /** Per-stream retention (`DeleteExpiredCmd.ts:86-107`): each stream
    * expires against its own `storageDays`, defaulting like the reference
    * to 365 for streams without an explicit policy. */
  def deleteExpired(storageDays: Map[String, Int], defaultDays: Int,
      nowMs: Long): Seq[String] =
    MessageStore.dropExpiredBucketsPerStream(spark, storePath, streamId =>
      MsgRef(nowMs - storageDays.getOrElse(streamId, defaultDays) * 86400000L, 0))

  /** S4 TTL sweep — the non-storage node's transient-relay window
    * (`USING TTL 259200`, `BatchManager.ts:12-14`): age-expire whole
    * buckets from directory names only (zero data I/O). Default TTL is
    * the reference's 3 days. Returns dropped bucket paths. */
  def ttlSweep(ttlSeconds: Long = 259200L,
      nowMs: Long = System.currentTimeMillis()): Seq[String] =
    MessageStore.dropAgedBuckets(spark, storePath,
      MsgRef(nowMs - ttlSeconds * 1000L, 0))

  /** Release the engine's process-local serving resources (the
    * subscription registry handle). The SparkSession is caller-owned. */
  def close(): Unit = subscriptions.close()
}
