package graft.store

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.BrokerQueries.MsgRef

/** The physical message store: the reference's Cassandra
  * `stream_data`/`bucket` pair (`src/storage/BatchManager.ts:8-14`,
  * `BucketManager.ts:327-344`) re-expressed as a parquet table partitioned
  * by `(stream_id, stream_partition, bucket)`.
  *
  * The bucket is a derived *UTC-day truncation of ts* (sortable string
  * partition value), which replaces the reference's stateful BucketManager
  * entirely (SURVEY §4): bucket routing is a map-stage expression, late
  * rows land in their historical bucket by construction (R2 — no watermark
  * on the persist path), and a time-bounded read picks its bucket
  * directories by name because the bucket is a monotone function of ts.
  *
  * Every serving read ([[collectLast]], [[openStreamPart]]) lists
  * one stream-part directory and scans only the buckets it selects; the
  * merge-on-read decision for those buckets is made in one place (the
  * private `scan`). A stream-part read is one task, merged in its own
  * partition: it plans no exchange, so a resend or metadata request runs
  * one Spark job. At 100 TB: a request's I/O is bounded by its own
  * stream-part and window, never the store; per-bucket file counts stay
  * bounded by the ingest micro-batch cadence (one file per bucket per
  * batch per writer task) and by compaction, which rewrites a bucket in
  * place inside its own directory and never hides a committed row, so it
  * needs no crash recovery and no walk of the store;
  * retention drops whole bucket directories, mirroring the reference's
  * bucket-granular DELETE (`DeleteExpiredCmd.ts:135-161`), and reads at
  * most the one day per stream-part that straddles its cutoff.
  */
object MessageStore {

  /** The store's one bucket width: the UTC day of `ts`. The reference
    * sizes buckets by volume (100 MB / 500k records,
    * `BucketManager.ts:50-51`); here a day bucket of a hot stream is
    * bounded instead by the parquet row-group stats on `ts`, which prune
    * `from`/`range` reads inside the day. Because a bucket is a fixed
    * function of `ts`, a replayed row always lands in its original's
    * bucket, so the bucket-local merge (reads and compaction) is exact. */
  val DayBucket = "yyyy-MM-dd"

  /** Bucket partition value of a message timestamp (sortable,
    * filesystem-safe). */
  def bucketOf(ts: Column): Column = date_format(ts, DayBucket)

  /** The store's partition columns, and the hash key of every append's
    * layout ([[layout]]). */
  private val PartitionCols: Seq[String] = Seq("stream_id", "stream_partition", "bucket")

  /** Lay a message batch out for the store: its rows gain the `bucket`
    * column ([[bucketOf]]) and are hash-partitioned on [[PartitionCols]]
    * into `defaultParallelism` partitions — ONE exchange. Everything
    * downstream keyed on a superset of those columns inherits the
    * partitioning: the ingest dedup window (uniqueness key + bucket),
    * [[write]]'s aggregate, and the write itself, which lands one file per
    * bucket per batch because each bucket sits in exactly one partition.
    *
    * The source is coalesced (narrow) to the same width first: a
    * MemoryStream batch carries one partition per `addData`, and without
    * this the exchange's map stage runs one task per call. The explicit
    * partition count is load-bearing at scale: the keyed exchange alone
    * lets AQE coalesce it to a handful of tasks, and each write task then
    * creates its partition DIRECTORIES serially (r18 event logs: the sf0.1
    * append collapsed to 6 tasks spending 8 s wall / 3 s CPU on ~1,200
    * dir+file creations); pinning it to defaultParallelism keeps one file
    * per bucket while spreading the filesystem work across the cluster. */
  def layout(messages: DataFrame): DataFrame = {
    val width = messages.sparkSession.sparkContext.defaultParallelism
    messages.coalesce(width)
      .withColumn("bucket", bucketOf(col("ts")))
      .repartition(width, PartitionCols.map(col): _*)
  }

  /** What one [[write]] wrote: the batch's row count and its ts span in
    * UTC epoch-ms (None for an empty batch, which writes nothing). */
  final case class Appended(rows: Long, tsSpanMs: Option[(Long, Long)])

  /** Append a message batch: [[layout]] then [[write]]. The laid-out
    * batch is cached across the aggregate and the write, so its one
    * exchange runs once. */
  def append(messages: DataFrame, path: String): Appended = {
    val laid = layout(messages).cache()
    try write(laid, path)()
    finally laid.unpersist()
  }

  /** The store's one write, of a batch laid out by [[layout]] (its
    * `bucket` column decides each row's directory). The batch pays ONE
    * aggregate before the write: per (stream_id, stream_partition, bucket)
    * row count and ts span, collected (stream-parts × buckets —
    * micro-batch bounded) and planned without an exchange, since the
    * layout already partitions on exactly that key. Then `beforeWrite`
    * runs — the commit delivers to live subscribers there, so fan-out
    * waits for neither the parquet write nor the commit marker — and then
    * the rows land. A row with a null `ts` has no bucket: such a batch
    * throws `IllegalArgumentException` before `beforeWrite` and before any
    * file lands (the ingest gate already rejects these rows; this guards a
    * raw append). An empty batch skips both `beforeWrite` and the write and
    * returns `Appended(0, None)`. */
  def write(laid: DataFrame, path: String)(beforeWrite: => Unit = ()): Appended = {
    val perBucket = laid
      .groupBy(PartitionCols.map(col): _*)
      .agg(count(lit(1)), min(col("ts")), max(col("ts")))
      .collect()
    if (perBucket.isEmpty) return Appended(0L, None)
    require(!perBucket.exists(_.isNullAt(2)),
      "a message with a null ts has no bucket; the batch was not written")
    // ts is TIMESTAMP_NTZ holding UTC wall-clock: convert driver-side with
    // an explicit UTC interpretation, independent of the session zone
    val ts = perBucket.flatMap(r => Seq(r.getAs[java.time.LocalDateTime](4),
      r.getAs[java.time.LocalDateTime](5))).map(epochMs)
    val appended = Appended(perBucket.map(_.getLong(3)).sum, Some((ts.min, ts.max)))
    beforeWrite
    laid.write
      .partitionBy(PartitionCols: _*)
      .mode("append")
      .parquet(path)
    appended
  }

  private def epochMs(t: java.time.LocalDateTime): Long =
    t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  /** Open the store as physically written (replays included; see
    * [[openMerged]] for the upsert view), with the explicit store schema
    * plus `bucket` — partition columns come from directory names, never
    * type-guessed. */
  def open(spark: SparkSession, path: String): DataFrame =
    reader(spark, path).parquet(path)

  /** Open the store with upsert semantics — the read-side half of the
    * reference's Cassandra primary-key upsert: the store is append-only,
    * so a message republished in a LATER micro-batch (same uniqueness key)
    * lands as a second physical row; this view merges replays away exactly
    * like Cassandra's merge-on-read, and [[compactStreamPart]] purges them
    * physically (the sstable-compaction analog), making the merge window
    * cheap again. The one-shuffle window is the price of upsert-exact
    * answers; scans that tolerate at-least-once duplicates (e.g. byte-rate
    * monitoring) can read [[open]] directly. Every bucket of every
    * stream-part goes through the same clean/dirty scan as the serving
    * reads ([[openStreamPart]]); columns in `StreamMessage.schema` order,
    * empty when the store holds no bucket. */
  def openMerged(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    scan(spark, path,
      bucketDirs(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root),
      onePartition = false)
  }

  /** One stream-part's upsert view (see [[openMerged]]), read from only
    * the part's buckets that can hold rows in the optional ts window
    * `[fromMs, toMs]` — the reference's per-stream-part, bucket-bounded
    * queries (`Storage.ts:101-410,452-576`). The window is chosen on bucket
    * names: a bucket is kept when its day lies between the UTC days of
    * `from` and `to`. Rows inside the kept buckets are not filtered: the
    * caller's ts predicates keep answers exact, and the parquet row-group
    * stats on `ts` prune inside the boundary days. The view is one
    * partition (see `scan`): a filter, ordering or aggregate over it runs
    * as one task with no exchange. */
  def openStreamPart(spark: SparkSession, path: String, streamId: String,
      partition: Int, fromMs: Option[Long] = None,
      toMs: Option[Long] = None): DataFrame = {
    val lower = fromMs.map(dayOf)
    val upper = toMs.map(dayOf)
    scan(spark, path, partBuckets(spark, path, streamId, partition)
      .filter(b => lower.forall(b.name >= _) && upper.forall(b.name <= _)),
      onePartition = true)
  }

  /** Marker file a committed compaction stamps into its bucket directory:
    * holds the parquet-file count at commit, so validity is checkable from
    * one directory listing (appends after compaction add files and void
    * the marker). Underscore-prefixed — parquet readers skip it. */
  val CleanMarker = "_clean"

  /** `fileCount` is the number of files the compaction staged, counted in
    * its private staging directory before they moved in: counting the
    * bucket after the move could fold in a concurrent append and stamp a
    * dirty bucket clean. */
  private def writeCleanMarker(fs: org.apache.hadoop.fs.FileSystem,
      bucket: Path, fileCount: Int): Unit = {
    val out = fs.create(new Path(bucket, CleanMarker), true)
    try out.write(String.valueOf(fileCount).getBytes("UTF-8"))
    finally out.close()
  }

  /** One bucket directory: its (unescaped) partition value, its path,
    * and three facts read lazily from ONE listing of the directory, so only
    * the buckets a read or a compaction selects pay for it:
    *  - `dataFiles`: its parquet files (a compaction's read set);
    *  - `clean`: the `_clean` marker exists and still matches the
    *    directory's parquet-file count, i.e. no append since it was stamped
    *    (plus the marker read when present; conservative on any read
    *    failure);
    *  - `rows`: the physical row count (replays included), summed from the
    *    parquet footers' block row counts — no data page is read. */
  private final class Bucket(val name: String, val path: Path,
      fs: org.apache.hadoop.fs.FileSystem) {
    /** (stream id, partition, bucket) as a read of the store returns
      * them, the partition as text. */
    lazy val key: (String, String, String) = {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
      val part = path.getParent
      (unescapePathName(part.getParent.getName.stripPrefix("stream_id=")),
        part.getName.stripPrefix("stream_partition="), name)
    }

    private lazy val files: Seq[org.apache.hadoop.fs.FileStatus] =
      try fs.listStatus(path).toSeq.filter(_.isFile)
      catch { case _: java.io.IOException => Nil }
    lazy val dataFiles: Seq[org.apache.hadoop.fs.FileStatus] =
      files.filter(_.getPath.getName.endsWith(".parquet"))

    lazy val clean: Boolean =
      files.exists(_.getPath.getName == CleanMarker) &&
        (try {
          val in = fs.open(new Path(path, CleanMarker))
          val recorded =
            try new String(in.readAllBytes(), "UTF-8").trim.toIntOption
            finally in.close()
          recorded.contains(dataFiles.size)
        } catch { case _: java.io.IOException => false })

    def rows: Long = {
      import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
      dataFiles.map { f =>
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, fs.getConf), NO_FILTER)
          .getBlocks.asScala.map(_.getRowCount).sum
      }.sum
    }
  }

  /** The buckets of one stream-part directory (none when it does not
    * exist). */
  private def listBuckets(fs: org.apache.hadoop.fs.FileSystem,
      partDir: Path): Seq[Bucket] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    val entries =
      try fs.listStatus(partDir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    entries.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith("bucket=") =>
        new Bucket(unescapePathName(s.getPath.getName.stripPrefix("bucket=")),
          s.getPath, fs)
    }
  }

  private def partDir(path: String, streamId: String, partition: Int): Path = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    new Path(s"$path/stream_id=${escapePathName(streamId)}/stream_partition=$partition")
  }

  private def partBuckets(spark: SparkSession, path: String, streamId: String,
      partition: Int): Seq[Bucket] = {
    val dir = partDir(path, streamId, partition)
    listBuckets(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  /** All buckets under the store root. */
  private def bucketDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[Bucket] =
    if (!fs.exists(root)) Nil
    else for {
      stream <- fs.listStatus(root).toSeq
      if stream.isDirectory && stream.getPath.getName.startsWith("stream_id=")
      part <- fs.listStatus(stream.getPath) if part.isDirectory
      bucket <- listBuckets(fs, part.getPath)
    } yield bucket

  /** Every store read's schema: the message columns plus `bucket`, given
    * up front so a read runs no schema-inference pass and no directory
    * value is type-guessed (a day name would otherwise come back as DATE,
    * a numeric stream id as INT). */
  private val readSchema =
    graft.model.StreamMessage.schema.add("bucket", "string")

  private def reader(spark: SparkSession, path: String) =
    spark.read.schema(readSchema).option("basePath", path)

  private def emptyRelation(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.model.StreamMessage.schema)

  /** The one merge-on-read decision, for every read of the store. Replays
    * can only exist in buckets that received appends after their last
    * compaction ([[compactBucket]] purges them and stamps a `_clean` marker
    * recording the committed file count — any later append changes the
    * count and voids the marker). So clean buckets read window-free and
    * only dirty buckets pay the merge window, keyed on the uniqueness key
    * plus `bucket` (bucket-local, like compaction; a bucket is a fixed
    * function of `ts`, so a key's replays share one bucket). The steady
    * post-compaction state serves at plain-scan cost, the engine analog of
    * Cassandra upserts being free after sstable compaction.
    *
    * An append landing between the marker check and plan execution could
    * put a replay into a scan already planned window-free: accepted as
    * eventual consistency for serving reads — the same read raced against
    * the append could equally have run a moment earlier and missed the row
    * entirely, and the duplicate is gone on the next read (the marker is
    * void from then on). Columns in `StreamMessage.schema` order; the empty
    * relation for no buckets.
    *
    * `onePartition` is the stream-part read's shape: the dirty rows are
    * narrowed (`coalesce(1)`, no shuffle) before the merge window and the
    * merged union after it, so the whole read is ONE partition. One
    * partition satisfies every distribution a serving read asks for — the
    * window's clustering, `requestLast`'s top-K, the global ascending sort
    * of `requestFrom`/`requestRange` and `metadata`'s aggregate — so none
    * plans an exchange, AQE has no stage to re-plan, and the request is one
    * job of one task. The price is that one part's read no longer spreads
    * over cores: a `from` over a long window is built by one task (and
    * pulled as one partition, see [[graft.serve.Resend]]). A stream-part
    * read is bounded by one part's selected buckets; the corpus-sized
    * [[openMerged]] keeps the hash-partitioned merge. */
  private def scan(spark: SparkSession, path: String, buckets: Seq[Bucket],
      onePartition: Boolean): DataFrame = {
    def read(bs: Seq[Bucket]) = reader(spark, path).parquet(bs.map(_.path.toString): _*)
    def narrow(df: DataFrame) = if (onePartition) df.coalesce(1) else df
    val (clean, dirty) = buckets.partition(_.clean)
    val parts =
      (if (clean.isEmpty) Nil else Seq(read(clean))) ++
        (if (dirty.isEmpty) Nil
         else Seq(graft.dedup.Dedup.ingestDedup(narrow(read(dirty)),
           graft.model.StreamMessage.uniqueKey :+ "bucket")))
    parts.reduceOption(_ unionByName _)
      .map(u => narrow(u.select(graft.model.StreamMessage.schema.fieldNames.map(col(_)): _*)))
      .getOrElse(emptyRelation(spark))
  }

  private val DayFormat = java.time.format.DateTimeFormatter.ofPattern(DayBucket)
  private val DayMs = 86400000L

  /** The bucket name of a UTC epoch-ms instant. */
  private def dayOf(ms: Long): String =
    java.time.LocalDate.ofInstant(java.time.Instant.ofEpochMilli(ms),
      java.time.ZoneOffset.UTC).format(DayFormat)

  /** The UTC epoch-ms at which a bucket's day starts; None for a name that
    * is not a day (a corrupted or foreign directory), which retention
    * skips — never deletes, never aborts the sweep on. */
  private def dayStartMs(bucketName: String): Option[Long] =
    scala.util.Try(java.time.LocalDate.parse(bucketName, DayFormat)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli).toOption

  /** Bounded last-N over the physical layout, as a DataFrame of the
    * stored columns: [[collectLast]] with no wire shape, over local rows.
    * Used where a plan is wanted (the q_last_bounded gate, specs); the
    * serving read [[graft.GraftEngine.last]] calls [[collectLast]] with its
    * wire format instead. */
  def requestLastBounded(
      spark: SparkSession, path: String, streamId: String, partition: Int,
      limit: Int): DataFrame = {
    val rows = collectLast(spark, path, streamId, partition, limit)(identity)
    spark.createDataFrame(rows.toSeq.asJava,
      if (rows.isEmpty) graft.model.StreamMessage.schema else rows.head.schema)
  }

  /** Bounded last-N over the physical layout — the reference's iterative
    * bucket expansion (`Storage.ts:142-181`): per-bucket row counts decide
    * how many newest buckets cover `limit` (clamped to
    * [[graft.operators.BrokerQueries.MaxResendLast]]), then top-K over just
    * those buckets, passed through `shape` (a row-wise projection such as
    * the wire format) and collected — ONE Spark query in the steady state.
    * A deep stream-part answers last-N from its newest buckets instead of
    * scanning years of history. Falls back to the whole part when it holds
    * fewer than `limit` rows.
    *
    * Coverage reads no data and runs no job, like the reference reading its
    * bucket table's per-bucket counts: the part's buckets are walked
    * newest-first by name on the driver, each adding the physical row count
    * of its parquet footers, until the count reaches the clamped limit. The
    * oldest bucket reached is never counted (there is nothing older to
    * decide on), so a one-bucket part reads no footer at all, and no file
    * outside the covering buckets is ever opened.
    *
    * The answer is at most 10k rows by the clamp, so it is collected once;
    * the widen check reads the collected length instead of running the
    * plan again. `shape` must keep one output row per input row. */
  def collectLast(
      spark: SparkSession, path: String, streamId: String, partition: Int,
      limit: Int)(shape: DataFrame => DataFrame): Array[Row] = {
    import graft.operators.BrokerQueries
    val buckets = partBuckets(spark, path, streamId, partition)
    val clamped = math.min(math.max(limit, 0), BrokerQueries.MaxResendLast)
    val newest = buckets.sortBy(_.name)(Ordering[String].reverse).iterator
    val needed = Seq.newBuilder[Bucket]
    var covered = 0L
    while (covered < clamped && newest.hasNext) {
      val bucket = newest.next()
      needed += bucket
      if (newest.hasNext) covered += bucket.rows
    }
    val covering = needed.result()
    if (covering.isEmpty) return Array.empty
    def lastOver(bs: Seq[Bucket]): Array[Row] =
      shape(BrokerQueries.requestLast(scan(spark, path, bs, onePartition = true),
        streamId, partition, limit))
        .collect()
    val res = lastOver(covering)
    // footer counts are physical and over-count replayed rows, so the
    // covering buckets can hold fewer UNIQUE rows than `limit`; widen to
    // the whole part in that (rare — only with replays in the tail
    // buckets) case
    if (covering.length < buckets.size && res.length < clamped) lastOver(buckets)
    else res
  }

  /** Compact one stream-part's buckets: micro-batch ingest leaves one file
    * per bucket per batch, so long-lived buckets accumulate small files —
    * the engine-side analog of the reference's size-capped bucket rolling
    * (`BucketManager.ts:50-51`). Rewrites, in place ([[compactBucket]]),
    * every bucket holding two or more parquet files, or one file without a
    * valid `_clean` stamp (what a crash before the stamp leaves), to one
    * file, purging cross-batch replay duplicates in the same rewrite (the
    * sstable-compaction half of the upsert contract — [[openMerged]] is the
    * merge-on-read half; a replayed key's ts lands it in the same bucket as
    * the original, so bucket-local dedup on the within-bucket key
    * `(ts, sequence_no, publisher_id, msg_chain_id)` is exact). Lists only
    * this stream-part's directory. Returns the number of buckets
    * compacted. */
  def compactStreamPart(
      spark: SparkSession, path: String, streamId: String, partition: Int): Int = {
    val dir = partDir(path, streamId, partition)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val due = listBuckets(fs, dir)
      .filter(b => b.dataFiles.size > 1 || b.dataFiles.nonEmpty && !b.clean)
    due.foreach(compactBucket(spark, fs, _))
    due.size
  }

  /** Policy-driven compaction across the whole store: compact exactly the
    * buckets whose accumulated per-batch file count reached
    * `maxFilesPerBucket` — the maintenance-side analog of the reference's
    * size-triggered bucket rolling (`BucketManager.ts:50-51` caps a bucket
    * at 100 MB / 500k records and rolls it when `incrementBucket` pushes it
    * past the cap, `BucketManager.ts:105-107`). The trigger here is file
    * count, not bytes, because micro-batch ingest makes files-per-bucket
    * the cost that actually grows (one file per batch): reads pay per-file
    * open/footer overhead, so the policy bounds exactly that. The sweep is
    * pure filesystem metadata — no data reads for buckets under the
    * threshold. Returns the number of buckets compacted. */
  def autoCompact(spark: SparkSession, path: String, maxFilesPerBucket: Int = 4): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val due = bucketDirs(fs, root).filter(_.dataFiles.size >= maxFilesPerBucket)
    due.foreach(compactBucket(spark, fs, _))
    due.size
  }

  /** The columns of a stored file: the message columns less the
    * stream-part, which the directory levels hold. */
  private val fileSchema = org.apache.spark.sql.types.StructType(
    graft.model.StreamMessage.schema.filterNot(f => PartitionCols.contains(f.name)))

  /** One bucket's dedup rewrite, in place:
    *  1. the bucket's parquet files, listed once, are the set read;
    *  2. `_clean` is deleted: from here on every read of the bucket merges;
    *  3. exactly the files read are deduplicated on the within-bucket key
    *     and written as one file to `_compact` (underscore-prefixed, so
    *     parquet readers and [[Bucket]] listings skip it, and retention
    *     drops it with the bucket);
    *  4. the staged file moves into the bucket (part names are unique; the
    *     filesystem moves its checksum with it);
    *  5. exactly the files read are deleted, then `_compact`;
    *  6. `_clean` is stamped with the staged file count, last.
    * Every intermediate state is a valid merge-on-read state, so none needs
    * recovery: a crash leaves every committed row live, at most beside a
    * second copy in an unmarked bucket, which reads merge away (the dedup
    * window orders by the full row, so a read keeps the row the compacted
    * file holds) and the next compaction purges. A file appended after the
    * listing is never deleted (it was not read) and voids the stamp by
    * count. Compactions of one bucket must not overlap: two runs share
    * `_compact`. */
  private def compactBucket(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, bucket: Bucket): Unit = {
    val read = bucket.dataFiles.map(_.getPath)
    fs.delete(new Path(bucket.path, CleanMarker), false)
    val staging = new Path(bucket.path, "_compact")
    val rows = spark.read.schema(fileSchema).parquet(read.map(_.toString): _*)
    graft.dedup.Dedup.ingestDedup(rows,
      graft.model.StreamMessage.uniqueKey.filter(rows.columns.contains))
      .coalesce(1)
      .write.mode("overwrite").parquet(staging.toString)
    val staged = fs.listStatus(staging).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    staged.foreach { f =>
      // never delete the originals unless every staged file moved in
      if (!fs.rename(f, new Path(bucket.path, f.getName)))
        throw new java.io.IOException(s"could not move $f into ${bucket.path}")
    }
    read.foreach(fs.delete(_, false))
    fs.delete(staging, true)
    writeCleanMarker(fs, bucket.path, staged.length)
  }

  /** Retention enforcement: drop expired bucket directories (no rewrite —
    * the Spark analog of the reference's bucket-granular delete job; see
    * [[dropExpiredBucketsPerStream]]). Returns the dropped bucket paths. */
  def dropExpiredBuckets(spark: SparkSession, path: String, cutoff: MsgRef): Seq[String] =
    dropExpiredBucketsPerStream(spark, path, _ => cutoff)

  /** Per-stream retention (`DeleteExpiredCmd.ts:86-107`): each stream's
    * buckets expire against that stream's own cutoff (the reference reads
    * `storageDays` per stream, defaulting 365). The expiry rule stays
    * data-aware — a bucket is dropped only when its MAX(ts) is older than
    * its stream's cutoff — but every row of bucket `d` has a ts in
    * `[d, d+1)`, so the name decides every bucket except the one per
    * stream-part whose day contains the cutoff: a day ending at or before
    * the cutoff is expired, a day starting at or after it is not. Only
    * those boundary buckets are read, by path, in one aggregate; no other
    * file is opened. Returns the dropped bucket paths
    * (`<path>/stream_id=…/stream_partition=…/bucket=…`, as written). */
  def dropExpiredBucketsPerStream(
      spark: SparkSession, path: String, cutoffFor: String => MsgRef): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dated = bucketDirs(fs, root).flatMap { b =>
      dayStartMs(b.name).map(start => (b, start, cutoffFor(b.key._1).tsMs))
    }
    val boundary = dated.collect {
      case (b, start, cutoff) if start < cutoff && cutoff < start + DayMs => b
    }
    val newestMs: Map[(String, String, String), Long] =
      if (boundary.isEmpty) Map.empty
      else reader(spark, path).parquet(boundary.map(_.path.toString): _*)
        .groupBy(PartitionCols.map(col): _*)
        .agg(max(col("ts")))
        .collect()
        .map(r => (r.getString(0), r.get(1).toString, r.getString(2)) ->
          epochMs(r.getAs[java.time.LocalDateTime](3)))
        .toMap
    dated.collect {
      case (b, start, cutoff)
          if start + DayMs <= cutoff || newestMs.get(b.key).exists(_ < cutoff) => b
    }.filter(b => fs.delete(b.path, true)).map(shown(path, _))
  }

  /** Age-based bucket drop — the S4 TTL analog (`USING TTL 259200`,
    * `src/storage/BatchManager.ts:12-14`): a non-storage node keeps only a
    * transient relay window, expiring data by AGE rather than per-stream
    * retention policy. A bucket is dropped when its day ends at or before
    * the cutoff, decided purely from the directory name, so the sweep is
    * pure filesystem metadata — zero reads. Late-arriving rows land in old
    * buckets and therefore expire earlier than wall-clock TTL would —
    * acceptable for the transient-relay use the reference puts TTL writes
    * to. Names that are not a day are skipped. Returns dropped bucket
    * paths. */
  def dropAgedBuckets(
      spark: SparkSession, path: String, cutoff: MsgRef): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    bucketDirs(fs, root)
      .filter(b => dayStartMs(b.name).exists(_ + DayMs <= cutoff.tsMs) && fs.delete(b.path, true))
      .map(shown(path, _))
  }

  /** A dropped bucket's path as retention reports it: under the caller's
    * store path, with the directory names as written. */
  private def shown(path: String, b: Bucket): String = {
    val part = b.path.getParent
    s"$path/${part.getParent.getName}/${part.getName}/${b.path.getName}"
  }
}
