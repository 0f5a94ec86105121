package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.Dedup
import graft.model.StreamMessage
import graft.store.MessageStore

/** The hot-path ingest pipeline (SURVEY §3.3): validated, partitioned,
  * deduplicated micro-batches appended to the bucketed [[MessageStore]].
  *
  * Mirrors the reference's publish→store chain — future-timestamp reject
  * (`Publisher.ts:35-41`), JSON validity (`Publisher.ts:46`), storage
  * assignment filter (`Storage.ts:65-69`), bucket routing
  * (`BucketManager.ts:72-97`) — with the reference's ~550 LoC of
  * batch/bucket FSMs collapsed into the micro-batch engine (S3-S5).
  * Every stored row, batch publish or streaming, takes the same [[commit]]
  * path: one exchange (the store layout) and one aggregate over the
  * prepared rows (inside [[MessageStore.write]]), which feeds the commit
  * marker; live fan-out runs before the write.
  *
  * Design notes for scale:
  *  - NO watermark on the persist path: the reference accepts arbitrarily
  *    late rows into historical buckets (R2); the derived bucket column
  *    routes them correctly by construction.
  *  - Dedup within each micro-batch on the uniqueness key reproduces the
  *    Cassandra primary-key upsert for intra-batch duplicates. foreachBatch
  *    is at-least-once: a crash between append and checkpoint commit
  *    replays the batch, so appends are guarded by per-batch commit
  *    markers (skip when the marker exists). The residual window — crash
  *    after fan-out or append, before marker — re-delivers the batch to
  *    subscribers and leaves store duplicates that the uniqueness key
  *    makes harmless: every read merges them away, the
  *    observable-semantics analog of the reference's upsert. Subscribers
  *    get every stored row at least once; no window loses a delivery.
  *  - The assignment filter is a small broadcast set refreshed per batch —
  *    the slowly-changing-state analog of StorageConfig polling (R7).
  */
object IngestPipeline {

  /** One micro-batch through validate → assign → store layout → dedup:
    * [[IngestMonitors.prepared]], then [[MessageStore.layout]] (the
    * `bucket` column and the batch's ONE exchange), then intra-batch
    * [[Dedup.ingestDedup]] on the uniqueness key plus `bucket`. `bucket` is
    * a function of `ts`, so that key groups exactly like the uniqueness key
    * alone; it also contains the layout's partition columns, so the dedup
    * window runs inside the layout's partitions without an exchange of its
    * own. `assigned` is the optional set of
    * "stream_id::partition" keys this node stores (None ⇒ store
    * everything). The result carries `bucket`. */
  def prepareBatch(
      batch: DataFrame,
      nowMs: Long,
      assigned: Option[Set[String]] = None): DataFrame =
    // NTZ literal built directly from the UTC instant — session-timezone
    // independent (a Timestamp lit + cast would shift by the session zone)
    Dedup.ingestDedup(
      MessageStore.layout(IngestMonitors.prepared(batch,
        lit(java.time.LocalDateTime.ofInstant(
          java.time.Instant.ofEpochMilli(nowMs), java.time.ZoneOffset.UTC)),
        assigned)),
      StreamMessage.uniqueKey :+ "bucket")

  /** The one commit path for every write — [[graft.GraftEngine.publish]]
    * and each streaming micro-batch ([[processBatch]]). The prepared batch
    * ([[prepareBatch]]) is cached, then [[MessageStore.write]] runs its
    * one aggregate (which fills the cache), hands the batch to `onBatch`
    * (live fan-out, in `StreamMessage.schema` columns), and writes it;
    * `mark` runs last and sees what was written.
    *
    * Fan-out therefore waits for neither the parquet write nor the commit
    * marker, like the reference's network fan-out, which never waits for
    * `Storage.store` (`WebsocketServer.ts:327-345`). A batch that fails
    * after `onBatch` (write or `mark`) leaves no marker, so its replay
    * delivers again: subscribers get every committed row at least once,
    * and the store still reads each row once (merge-on-read hides a
    * re-append). */
  def commit(
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      assigned: Option[Set[String]],
      nowMs: Long,
      onBatch: (DataFrame, Long) => Unit)(
      mark: MessageStore.Appended => Unit = _ => ()): MessageStore.Appended = {
    val prepared = prepareBatch(batch, nowMs, assigned).cache()
    try {
      val appended = MessageStore.write(prepared, storePath)(
        onBatch(prepared.drop("bucket"), batchId))
      mark(appended)
      appended
    } finally prepared.unpersist()
  }

  /** One micro-batch commit ([[commit]]) guarded by a per-batch marker,
    * which makes replays (foreachBatch is at-least-once) idempotent — a
    * re-delivered batchId whose marker exists is skipped entirely. The
    * marker lands last, after `onBatch` and the write, so a batch that
    * fails anywhere leaves none and its replay retries it.
    * Returns true when the batch was (newly) applied. */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      checkpointPath: String,
      assigned: () => Option[Set[String]] = () => None,
      nowMs: Long = System.currentTimeMillis(),
      onBatch: (DataFrame, Long) => Unit = (_, _) => ()): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(
      s"$checkpointPath/graft-committed/$batchId")
    val fs = marker.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) false // replay guard: already appended
    else {
      // R7: the assignment supplier is re-evaluated at each batch boundary
      // (DynamicAssignment.get) — assignment changes apply to the next
      // micro-batch without restarting the query (StorageConfig.ts:96-149)
      commit(batch, batchId, storePath, assigned(), nowMs, onBatch) { appended =>
        // the marker doubles as the batch-statistics record (A10): rows,
        // commit time, and the batch's ts span (the commit time for an
        // empty batch) — IngestStats aggregates these into the
        // BatchManager-style observability surface
        val (minTs, maxTs) = appended.tsSpanMs.getOrElse((nowMs, nowMs))
        // write-then-rename: a crash mid-write must never leave a
        // truncated marker for batchLog to parse into an all-null row
        // (the same commit-point discipline as the store's bucket swap)
        val tmp = new org.apache.hadoop.fs.Path(
          marker.getParent, "." + marker.getName + ".tmp")
        val out = fs.create(tmp, true)
        out.write(
          s"""{"batch_id":$batchId,"rows":${appended.rows},"committed_ms":$nowMs,"min_ts_ms":$minTs,"max_ts_ms":$maxTs}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
        fs.delete(marker, false)
        fs.rename(tmp, marker)
      }
      true
    }
  }

  /** Start the streaming ingest: source → prepare → bucketed store append.
    * `onBatch` is the subscriber fan-out hook (R1) — called with each
    * non-empty prepared micro-batch before its rows are written, so a
    * serving layer dispatches to live subscriptions without waiting for
    * the store (at least once; see [[commit]]).
    *
    * `autoCompactEvery` > 0 runs the file-count compaction policy
    * ([[MessageStore.autoCompact]]) after every Nth committed batch — the
    * ingest-cadence analog of the reference's full-bucket check timer
    * (`BucketManager.ts:48` checkFullBucketsTimeout). It runs inside
    * foreachBatch, which Structured Streaming serializes with the appends,
    * so the policy never races this query's own writer; a file a concurrent
    * foreign writer lands mid-compaction is never deleted and leaves its
    * bucket unmarked until the next sweep. The threshold is
    * [[MessageStore.autoCompact]]'s default of 4 files per bucket. */
  def start(
      source: DataFrame,
      storePath: String,
      checkpointPath: String,
      assigned: () => Option[Set[String]] = () => None,
      triggerMs: Long = 1000L,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      autoCompactEvery: Int = 0): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val applied = processBatch(batch, batchId, storePath, checkpointPath,
          assigned, onBatch = onBatch)
        if (applied && autoCompactEvery > 0 &&
            batchId % autoCompactEvery == (autoCompactEvery - 1).toLong)
          MessageStore.autoCompact(batch.sparkSession, storePath)
        ()
      }
      .start()
}
