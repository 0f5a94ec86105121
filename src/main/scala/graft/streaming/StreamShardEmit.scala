package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.SerializableConfiguration

import graft.multimodal.ShardWriter

/** Live shard sealing — the STREAMING tail of the training-data factory,
  * and the reference's size-capped bucket state machine
  * (`src/storage/BucketManager.ts:72-97` routes rows into an open bucket
  * and closes it when its record/size cap trips) re-expressed for
  * training shards: documents arrive per stream, accumulate into the
  * OPEN shard, and when the next record would push the container past
  * `budgetBytes` the shard SEALS — emitted downstream as finished
  * container bytes (TFRecord [[ShardWriter.tfRecordFrame]] framing here,
  * WebDataset ustar framing in [[emitWds]] — the same bytes the gated
  * validating readers parse) — and a fresh shard opens. The batch
  * writers ([[ShardWriter.emitTfRecordShards]]) are the backfill path;
  * this is the continuous one.
  *
  * Greedy seal rule (the packGreedy discipline, bytes instead of
  * tokens): a record seals the open shard only if the shard is
  * non-empty and would overflow — so a record larger than the budget
  * still forms its own single-record shard, never dropped, never split.
  *
  * At-arrival contract: rows process in `seq` order within each
  * micro-batch; `seq` is assumed monotone across batches per stream (the
  * broker's per-partition ordering guarantee). The OPEN shard rides in
  * state — payload bytes retained, BOUNDED BY `budgetBytes` exactly like
  * the reference's open bucket — and survives checkpoint restart, so a
  * crash never loses or duplicates a sealed shard.
  *
  * The trailing partial shard stays open until a later record seals it
  * — or, with `idleFlushMs > 0`, until the stream goes QUIET for that
  * long: the reference's bucket keepalive (`BucketManager.ts:48-52`
  * closes inactive buckets) re-expressed as a processing-time state
  * timeout. A flushed shard is emitted with `flushed = true` so the
  * budget-sealed and inactivity-sealed populations stay auditable;
  * [[batchReplay]] emits ONLY budget-sealed shards (`flushed` always
  * false there), which is what makes stream == batch parity exact over
  * the budget-sealed set. */
object StreamShardEmit {

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(StreamShardEmit.getClass)

  /** The keepalive's silent misconfiguration is a busy loop
    * (`shouldRunAnotherBatch` is unconditionally true under
    * ProcessingTimeTimeout, so the default as-fast-as-possible trigger
    * schedules timeout-only batches forever) — warn at query-build time
    * since the query itself still "works". */
  private def warnKeepalive(where: String): Unit =
    log.warn(s"$where: idleFlushMs > 0 arms a processing-time state " +
      "timeout — pair the query with Trigger.ProcessingTime(...) or the " +
      "engine will busy-loop empty micro-batches")

  final case class DocEvent(stream: String, seq: Long, payload: Array[Byte])

  final case class ShardState(shardSeq: Long, fill: Long,
      firstSeq: Long, lastSeq: Long, payloads: Seq[Array[Byte]])

  final case class SealedShard(stream: String, shard_seq: Long,
      n_records: Long, n_bytes: Long, first_seq: Long, last_seq: Long,
      flushed: Boolean, data: Array[Byte])

  /** One WebDataset SAMPLE: ordered members (name, payload) framed as
    * consecutive ustar archive entries on seal. */
  final case class SampleEvent(stream: String, seq: Long,
      members: Seq[(String, Array[Byte])])

  /** WebDataset sealer state: samples are kept PRE-FRAMED (each chunk is
    * its members' complete ustar entries), so seal is pure concatenation
    * plus the two end-of-archive blocks and the retained state is
    * exactly the future file bytes — bounded by `budgetBytes`. */
  final case class WdsState(shardSeq: Long, fill: Long, nMembers: Long,
      firstSeq: Long, lastSeq: Long, chunks: Seq[Array[Byte]])

  final case class SealedWdsShard(stream: String, shard_seq: Long,
      n_samples: Long, n_members: Long, n_bytes: Long, first_seq: Long,
      last_seq: Long, flushed: Boolean, data: Array[Byte])

  /** ustar end-of-archive: two 512-byte zero blocks, counted against the
    * byte budget (the budget bounds the FILE, trailer included). */
  private val TarCloseBytes = 1024L

  /** Budget guard shared by all sealers: positive, and small enough that
    * a budget-bounded shard always fits a JVM byte array — `fill` feeds
    * a `ByteArrayOutputStream` size hint and the sealed blob is one
    * array, so a budget past `Int.MaxValue - 16` would overflow the hint
    * into a negative int and throw at seal time instead of here. (A
    * single oversize record still caps at the JVM array limit
    * inherently: one record IS one array already.) */
  private def requireBudget(budgetBytes: Long): Unit =
    require(budgetBytes > 0 && budgetBytes <= Int.MaxValue.toLong - 16L,
      s"budgetBytes must be in (0, ${Int.MaxValue.toLong - 16L}]: $budgetBytes")

  /** Container bytes a payload adds: the 16 TFRecord framing bytes plus
    * the payload itself. */
  @inline private def recBytes(p: Array[Byte]): Long = 16L + p.length

  private def empty(shardSeq: Long) =
    ShardState(shardSeq, 0L, -1L, -1L, Vector.empty)

  private def seal(stream: String, st: ShardState,
      flushed: Boolean): SealedShard = {
    // the hint is clamped, not trusted: an oversize single-record shard's
    // fill can exceed a legal array size hint even under a valid budget
    val bos = new java.io.ByteArrayOutputStream(
      math.min(st.fill, Int.MaxValue.toLong - 16L).toInt)
    st.payloads.foreach(p => bos.write(ShardWriter.tfRecordFrame(p)))
    val data = bos.toByteArray
    SealedShard(stream, st.shardSeq, st.payloads.length.toLong,
      data.length.toLong, st.firstSeq, st.lastSeq, flushed, data)
  }

  /** One greedy step shared by the live and replay TFRecord chains. */
  private def fold(stream: String, st0: ShardState, r: DocEvent,
      budgetBytes: Long,
      out: scala.collection.mutable.ArrayBuffer[SealedShard]): ShardState = {
    var st = st0
    val p = Option(r.payload).getOrElse(Array.emptyByteArray)
    if (st.fill > 0L && st.fill + recBytes(p) > budgetBytes) {
      out += seal(stream, st, flushed = false)
      st = empty(st.shardSeq + 1L)
    }
    ShardState(st.shardSeq, st.fill + recBytes(p),
      if (st.payloads.isEmpty) r.seq else st.firstSeq, r.seq,
      st.payloads :+ p)
  }

  /** Live TFRecord sealing. `idleFlushMs > 0` arms the keepalive: a
    * stream quiet for that long has its trailing open shard sealed as
    * `flushed = true` at the next micro-batch boundary past the
    * deadline. Processing-time timeouts make the engine schedule
    * timeout-only batches continuously (`shouldRunAnotherBatch` is
    * unconditionally true for this timeout mode), so PAIR the keepalive
    * with a real trigger interval (`Trigger.ProcessingTime(...)`) — the
    * default run-as-fast-as-possible trigger would busy-loop empty
    * batches, and `processAllAvailable` never settles while a timeout
    * is armed. */
  def emit(events: Dataset[DocEvent], budgetBytes: Long = 1L << 20,
      idleFlushMs: Long = 0L): Dataset[SealedShard] = {
    requireBudget(budgetBytes)
    require(idleFlushMs >= 0L, s"idleFlushMs must be >= 0: $idleFlushMs")
    if (idleFlushMs > 0L) warnKeepalive("emit")
    import events.sparkSession.implicits._
    val step: (String, Iterator[DocEvent], GroupState[ShardState]) => Iterator[SealedShard] = {
      case (stream, rows, state) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[SealedShard]
        if (state.hasTimedOut) {
          // keepalive fire: seal whatever is open as an inactivity flush;
          // shardSeq still advances so a later record opens a FRESH shard
          val st = state.getOption.getOrElse(empty(0L))
          if (st.fill > 0L) out += seal(stream, st, flushed = true)
          state.update(empty(st.shardSeq + (if (st.fill > 0L) 1L else 0L)))
          // no re-arm: an empty open shard has nothing to flush; the next
          // row re-arms below
        } else {
          var st = state.getOption.getOrElse(empty(0L))
          rows.toSeq.sortBy(_.seq).foreach { r =>
            st = fold(stream, st, r, budgetBytes, out)
          }
          state.update(st)
          if (idleFlushMs > 0L && st.fill > 0L)
            state.setTimeoutDuration(idleFlushMs)
        }
        out.iterator
    }
    val timeout =
      if (idleFlushMs > 0L) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.stream)
      .flatMapGroupsWithState[ShardState, SealedShard](
        OutputMode.Append(), timeout)(step)
  }

  /** Batch replay of the same seal chain — the parity oracle: per stream
    * in seq order, identical greedy boundaries, only budget-SEALED shards
    * emitted (the trailing partial stays open in the stream too, unless
    * the keepalive flushed it — flushed shards are marked so the parity
    * set stays recoverable). */
  def batchReplay(events: Dataset[DocEvent],
      budgetBytes: Long = 1L << 20): Dataset[SealedShard] = {
    requireBudget(budgetBytes)
    import events.sparkSession.implicits._
    events.groupByKey(_.stream)
      .flatMapSortedGroups($"seq".asc) { (stream, rows) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[SealedShard]
        var st = empty(0L)
        rows.foreach(r => st = fold(stream, st, r, budgetBytes, out))
        out.iterator
      }
  }

  /** LIVE content manifest — the streaming half of the resume story: a
    * stateless projection over the sealed output (each blob re-parsed by
    * the VALIDATING reader into the same `content_digest` the batch
    * [[ShardWriter.tfRecordManifest]] derives), so it runs on the stream
    * itself and feeds [[ShardWriter.shardDiff]] incrementally as shards
    * seal — no batch re-scan of the sealed set, ever. Works on a
    * streaming or batch Dataset alike (StreamShardEmitSpec pins streamed
    * == batch over the same sealed shards). */
  def sealedManifest(shards: Dataset[SealedShard]): DataFrame =
    shards.toDF().select(col("stream"), col("shard_seq"),
      col("n_records"), col("n_bytes"), col("flushed"),
      ShardWriter.tfRecordContentDigest(col("data")).as("content_digest"))

  /** WebDataset twin of [[sealedManifest]]: the stateless digest
    * projection over sealed archives, every tar re-walked checksum-by-
    * checksum by the validating reader into the SAME length-prefixed
    * `name:md5` digest [[ShardWriter.tarManifest]] derives — so the live
    * stream feeds [[ShardWriter.shardDiff]] for the WDS container too. */
  def sealedWdsManifest(shards: Dataset[SealedWdsShard]): DataFrame =
    shards.toDF().select(col("stream"), col("shard_seq"),
      col("n_samples"), col("n_members"), col("n_bytes"), col("flushed"),
      ShardWriter.tarContentDigest(col("data")).as("content_digest"))

  // ------------------------------------------------------------------
  // The live FILE landing — foreachBatch glue between the sealer and
  // the batch sink's directory discipline ([[ShardWriter]] file sink):
  // sealed shards reach disk as `<stream>-<seq>.tfrecord` files with a
  // batch-partitioned manifest. Exactly-once without a transaction log:
  // file names and bytes are DETERMINISTIC per (stream, shard_seq), so
  // a replayed micro-batch rewrites identical files in place, and each
  // batch's manifest partition (`_manifest/batch=<id>`) is written with
  // overwrite — replay is idempotent end to end. The MANIFEST is the
  // authoritative set: a crash between blob writes and the manifest
  // leaves undescribed files that [[readSealedFiles]] ignores (and the
  // replay re-describes), never phantom data.
  // ------------------------------------------------------------------

  /** Land one micro-batch of sealed TFRecord shards — pass to
    * `foreachBatch` via [[sealedFileSink]], or call directly for
    * backfills. */
  def landSealedBatch(batch: Dataset[SealedShard], dir: String,
      batchId: Long): Unit = {
    batch.persist() // consumed twice (blobs, manifest); seal chain runs once
    try landCore(batch.toDF(), sealedManifest(batch), dir, batchId,
      ext = "tfrecord")
    finally batch.unpersist()
  }

  /** WebDataset twin of [[landSealedBatch]]: sealed archives land as
    * `<stream>-<seq>.tar` files under the same crash/replay discipline,
    * described by [[sealedWdsManifest]]. */
  def landSealedWdsBatch(batch: Dataset[SealedWdsShard], dir: String,
      batchId: Long): Unit = {
    batch.persist()
    try landCore(batch.toDF(), sealedWdsManifest(batch), dir, batchId,
      ext = "tar")
    finally batch.unpersist()
  }

  /** ONE landing discipline for both containers: blobs written
    * executor-side through [[ShardWriter.writeBlob]] under deterministic
    * `<stream>-<seq>.<ext>` names (replay rewrites identical files), the
    * batch's manifest partition overwritten, `_SUCCESS` last. */
  private def landCore(batchDf: DataFrame, manifest: DataFrame,
      dir: String, batchId: Long, ext: String): Unit = {
    val spark = batchDf.sparkSession
    import spark.implicits._
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(dir)
    val fs = root.getFileSystem(conf.value)
    fs.mkdirs(root)
    batchDf.select(col("stream"), col("shard_seq"), col("data"))
      .as[(String, Long, Array[Byte])]
      .foreachPartition { it: Iterator[(String, Long, Array[Byte])] =>
        if (it.hasNext) {
          val tfs = new Path(dir).getFileSystem(conf.value)
          it.foreach { case (stream, seq, data) =>
            // the stream id becomes a file-name component: reject path
            // metacharacters instead of silently mangling them
            require(stream != null && stream.matches("[A-Za-z0-9._-]+"),
              s"stream id not file-name-safe: $stream")
            ShardWriter.writeBlob(tfs, dir, f"$stream-$seq%09d.$ext", data)
          }
        }
      }
    manifest.write.mode("overwrite")
      .parquet(new Path(root, s"_manifest/batch=$batchId").toString)
    val ok = fs.create(new Path(root, "_SUCCESS"), true)
    ok.close()
  }

  /** The `foreachBatch` function for a live shard-landing query:
    * {{{
    * StreamShardEmit.emit(events, budget, idleFlushMs)
    *   .writeStream.foreachBatch(StreamShardEmit.sealedFileSink(dir))
    * }}} */
  def sealedFileSink(dir: String): (Dataset[SealedShard], Long) => Unit =
    (batch, batchId) => landSealedBatch(batch, dir, batchId)

  /** [[sealedFileSink]]'s WebDataset twin. */
  def sealedWdsFileSink(dir: String): (Dataset[SealedWdsShard], Long) => Unit =
    (batch, batchId) => landSealedWdsBatch(batch, dir, batchId)

  /** The manifest-described on-disk shard set of a live landing dir:
    * blob rows inner-joined against the manifest, so files from a
    * crashed, not-yet-replayed batch are invisible until described.
    * Returns `(stream, shard_seq, n_records, n_bytes, flushed,
    * content_digest, data)`. */
  def readSealedFiles(spark: SparkSession, dir: String): DataFrame =
    readSealedCore(spark, dir, ext = "tfrecord",
      meta = Seq("n_records", "n_bytes", "flushed", "content_digest"))

  /** [[readSealedFiles]]' WebDataset twin: `(stream, shard_seq,
    * n_samples, n_members, n_bytes, flushed, content_digest, data)`. */
  def readSealedWdsFiles(spark: SparkSession, dir: String): DataFrame =
    readSealedCore(spark, dir, ext = "tar",
      meta = Seq("n_samples", "n_members", "n_bytes", "flushed",
        "content_digest"))

  private def readSealedCore(spark: SparkSession, dir: String, ext: String,
      meta: Seq[String]): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(root, "_SUCCESS")),
      s"$dir has no _SUCCESS marker — no completed landing batch")
    val manifest = spark.read.parquet(new Path(root, "_manifest").toString)
      .select((Seq("stream", "shard_seq") ++ meta).map(col): _*)
      .dropDuplicates("stream", "shard_seq") // replays re-describe identically
    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", s"*.$ext").load(dir)
      .select(
        regexp_extract(col("path"), s"([A-Za-z0-9._-]+)-(\\d+)\\.$ext$$", 1)
          .as("stream"),
        regexp_extract(col("path"), s"([A-Za-z0-9._-]+)-(\\d+)\\.$ext$$", 2)
          .cast("long").as("shard_seq"),
        col("content").as("data"))
    manifest.join(blobs, Seq("stream", "shard_seq"))
  }

  // ------------------------------------------------------------------
  // WebDataset (ustar) twin — the same seal state machine over SAMPLES:
  // each event's members frame as consecutive tar entries, the budget
  // bounds the whole archive file (members + the two close blocks), and
  // a sample never splits across shards (member pairing is the whole
  // point of WebDataset).
  // ------------------------------------------------------------------

  private def emptyWds(shardSeq: Long) =
    WdsState(shardSeq, 0L, 0L, -1L, -1L, Vector.empty)

  /** One sample's complete ustar framing — null member names frame as
    * "" and null payloads as empty, the [[ShardWriter]] discipline. */
  private def frameSample(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    Option(members).getOrElse(Seq.empty).foreach { case (name, data) =>
      bos.write(ShardWriter.tarEntry(Option(name).getOrElse(""),
        Option(data).getOrElse(Array.emptyByteArray)))
    }
    bos.toByteArray
  }

  private def sealWds(stream: String, st: WdsState,
      flushed: Boolean): SealedWdsShard = {
    val bos = new java.io.ByteArrayOutputStream(
      math.min(st.fill + TarCloseBytes, Int.MaxValue.toLong - 16L).toInt)
    st.chunks.foreach(bos.write)
    bos.write(new Array[Byte](TarCloseBytes.toInt))
    val data = bos.toByteArray
    SealedWdsShard(stream, st.shardSeq, st.chunks.length.toLong,
      st.nMembers, data.length.toLong, st.firstSeq, st.lastSeq, flushed,
      data)
  }

  private def foldWds(stream: String, st0: WdsState, r: SampleEvent,
      budgetBytes: Long,
      out: scala.collection.mutable.ArrayBuffer[SealedWdsShard]): WdsState = {
    var st = st0
    val chunk = frameSample(r.members)
    if (st.chunks.nonEmpty &&
        st.fill + chunk.length + TarCloseBytes > budgetBytes) {
      out += sealWds(stream, st, flushed = false)
      st = emptyWds(st.shardSeq + 1L)
    }
    WdsState(st.shardSeq, st.fill + chunk.length,
      st.nMembers + Option(r.members).map(_.length).getOrElse(0).toLong,
      if (st.chunks.isEmpty) r.seq else st.firstSeq, r.seq,
      st.chunks :+ chunk)
  }

  /** Live WebDataset sealing — [[emit]]'s ustar twin, same keepalive. */
  def emitWds(events: Dataset[SampleEvent], budgetBytes: Long = 1L << 20,
      idleFlushMs: Long = 0L): Dataset[SealedWdsShard] = {
    requireBudget(budgetBytes)
    require(idleFlushMs >= 0L, s"idleFlushMs must be >= 0: $idleFlushMs")
    if (idleFlushMs > 0L) warnKeepalive("emitWds")
    import events.sparkSession.implicits._
    val step: (String, Iterator[SampleEvent], GroupState[WdsState]) => Iterator[SealedWdsShard] = {
      case (stream, rows, state) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[SealedWdsShard]
        if (state.hasTimedOut) {
          val st = state.getOption.getOrElse(emptyWds(0L))
          if (st.chunks.nonEmpty) out += sealWds(stream, st, flushed = true)
          state.update(emptyWds(
            st.shardSeq + (if (st.chunks.nonEmpty) 1L else 0L)))
        } else {
          var st = state.getOption.getOrElse(emptyWds(0L))
          rows.toSeq.sortBy(_.seq).foreach { r =>
            st = foldWds(stream, st, r, budgetBytes, out)
          }
          state.update(st)
          if (idleFlushMs > 0L && st.chunks.nonEmpty)
            state.setTimeoutDuration(idleFlushMs)
        }
        out.iterator
    }
    val timeout =
      if (idleFlushMs > 0L) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.stream)
      .flatMapGroupsWithState[WdsState, SealedWdsShard](
        OutputMode.Append(), timeout)(step)
  }

  /** Batch replay of the WebDataset seal chain — [[batchReplay]]'s twin;
    * only budget-sealed shards, trailing partial open on both engines. */
  def batchReplayWds(events: Dataset[SampleEvent],
      budgetBytes: Long = 1L << 20): Dataset[SealedWdsShard] = {
    requireBudget(budgetBytes)
    import events.sparkSession.implicits._
    events.groupByKey(_.stream)
      .flatMapSortedGroups($"seq".asc) { (stream, rows) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[SealedWdsShard]
        var st = emptyWds(0L)
        rows.foreach(r => st = foldWds(stream, st, r, budgetBytes, out))
        out.iterator
      }
  }
}
