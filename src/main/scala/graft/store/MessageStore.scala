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
  * The bucket is a derived *hour truncation of ts* (sortable string
  * partition value), which replaces the reference's stateful BucketManager
  * entirely (SURVEY §4): bucket routing is a map-stage expression, late
  * rows land in their historical bucket by construction (R2 — no watermark
  * on the persist path), and a time-bounded read picks its bucket
  * directories by name because the bucket is a monotone function of ts.
  *
  * Every serving read ([[collectLast]], [[openStreamPart]]) lists
  * one stream-part directory and scans only the buckets it selects; the
  * merge-on-read decision for those buckets is made in one place (the
  * private `scan`). At 100 TB: a request's I/O is bounded by its own
  * stream-part and window, never the store; per-bucket file counts stay
  * bounded by the ingest micro-batch cadence (one file per bucket per
  * batch per writer task);
  * retention is a metadata-only directory drop, mirroring the reference's
  * bucket-granular DELETE (`DeleteExpiredCmd.ts:135-161`).
  */
object MessageStore {

  /** Bucket granularity — like the reference's size-capped buckets
    * (100 MB / 500k records, `BucketManager.ts:50-51`), the right bucket
    * width depends on per-stream volume: day for ordinary streams, hour
    * for hot ones. Day is the default; hour-granular pruning is still
    * available through ts predicates on the row-level min/max stats. */
  val DayBucket = "yyyy-MM-dd"
  val HourBucket = "yyyy-MM-dd-HH"

  /** Bucket partition value of a message timestamp (sortable,
    * filesystem-safe). */
  def bucketOf(ts: Column, granularity: String = DayBucket): Column =
    date_format(ts, granularity)

  /** Per-stream bucket value: hot streams get their own granularity
    * (typically [[HourBucket]]), everything else the default — the analog
    * of the reference sizing buckets per stream-part volume
    * (`BucketManager.ts:50-51` caps are per stream's live bucket). One
    * codegen'd `when` branch per DISTINCT granularity (streams of a policy
    * become an `isInCollection` set), so the expression tree is O(policies)
    * even with thousands of hot streams — a per-stream chain would rebuild
    * the giant-literal-tree problem CentroidRank exists to avoid.
    *
    * Only [[DayBucket]]/[[HourBucket]] are accepted: [[openStreamPart]]'s
    * bucket-name window and the bounded read's day-grouping are proven for exactly
    * these two widths — an unvalidated coarser pattern (e.g. month) would
    * silently prune in-range buckets. */
  def bucketOfPerStream(ts: Column, streamId: Column,
      granularityFor: Map[String, String],
      default: String = DayBucket): Column = {
    (granularityFor.values.toSet + default).foreach { g =>
      require(g == DayBucket || g == HourBucket,
        s"unsupported bucket granularity '$g' (supported: $DayBucket, $HourBucket)")
    }
    granularityFor.groupBy(_._2).toSeq.sortBy(_._1)
      .foldLeft(bucketOf(ts, default)) { case (acc, (g, entries)) =>
        when(streamId.isInCollection(entries.keys.toSeq.sorted), bucketOf(ts, g))
          .otherwise(acc)
      }
  }

  /** Driver-held (stream, UTC day) → bucket-width memory for the width
    * guard: a steady ingest query appends to the same streams batch after
    * batch, and without this every [[append]] re-lists every
    * touched stream's bucket directories — at thousands of buckets per
    * stream that's a per-micro-batch driver FS sweep for information that
    * never changes (a day's width is fixed for its lifetime). The cache is
    * the metastore stand-in: a stream's directories are listed ONCE (on
    * its first touched batch), then every later batch checks and records
    * widths in memory — zero FS listing on the steady path.
    *
    * Staleness is one-sided by construction: entries only ever say "this
    * day holds this width", which stays true for as long as the day has
    * data. Compaction preserves bucket names, so no invalidation is
    * needed; RETENTION can empty a day (making a width flip newly legal),
    * and a stale entry then rejects that flip conservatively — call
    * [[invalidate]] for streams whose buckets were dropped (or [[clear]]
    * after a store-wide sweep) to re-learn from the filesystem. Never
    * share a cache across stores, and never use one beside a concurrent
    * foreign writer — same single-writer contract as compaction. */
  final class BucketWidthCache {
    // widths present per (stream, day): a set, so a pre-guard store that
    // already holds both widths on one day keeps failing appends of
    // either width exactly like the filesystem check would
    private val known =
      scala.collection.mutable.Map[(String, String), Set[String]]()
    private val listed = scala.collection.mutable.Set[String]()
    private[store] def widthsOf(stream: String, day: String): Set[String] =
      synchronized(known.getOrElse((stream, day), Set.empty))
    private[store] def isListed(stream: String): Boolean =
      synchronized(listed.contains(stream))
    // day → widths from a stream's directory listing or a landed append;
    // either way the stream counts as listed from then on
    private[store] def record(stream: String,
        widths: Map[String, Set[String]]): Unit = synchronized {
      widths.foreach { case (d, ws) =>
        known((stream, d)) = known.getOrElse((stream, d), Set.empty) ++ ws
      }
      listed += stream
    }
    /** Forget one stream (call after retention dropped its buckets). */
    def invalidate(stream: String): Unit = synchronized {
      listed -= stream
      known.filterInPlace { case ((s, _), _) => s != stream }
    }
    /** Forget everything (call after a store-wide retention sweep). */
    def clear(): Unit = synchronized { known.clear(); listed.clear() }
  }

  /** The store's partition columns, and the hash key of every append's
    * layout ([[layout]]). */
  private val PartitionCols: Seq[String] = Seq("stream_id", "stream_partition", "bucket")

  /** Lay a message batch out for the store: its rows gain the `bucket`
    * column, bucketed per stream (see [[bucketOfPerStream]]: streams in
    * `granularityFor` get their own width, all others `default`), and are
    * hash-partitioned on [[PartitionCols]] into `defaultParallelism`
    * partitions — ONE exchange. Everything downstream keyed on a superset
    * of those columns inherits the partitioning: the ingest dedup window
    * (uniqueness key + bucket), [[write]]'s aggregate, and the write itself,
    * which lands one file per bucket per batch because each bucket sits in
    * exactly one partition.
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
  def layout(messages: DataFrame,
      granularityFor: Map[String, String] = Map.empty,
      default: String = DayBucket): DataFrame = {
    val width = messages.sparkSession.sparkContext.defaultParallelism
    messages.coalesce(width)
      .withColumn("bucket", bucketOfPerStream(col("ts"), col("stream_id"),
        granularityFor, default))
      .repartition(width, PartitionCols.map(col): _*)
  }

  /** What one [[write]] wrote: the batch's row count and its ts span in
    * UTC epoch-ms (None for an empty batch, which writes nothing). */
  final case class Appended(rows: Long, tsSpanMs: Option[(Long, Long)])

  /** Append a message batch: [[layout]] then [[write]]. Pass a
    * [[BucketWidthCache]] from a long-lived writer so the width guard
    * stops re-listing bucket directories on every batch. The laid-out
    * batch is cached across the aggregate and the write, so its one
    * exchange runs once. */
  def append(messages: DataFrame, path: String,
      granularityFor: Map[String, String] = Map.empty,
      default: String = DayBucket,
      widthCache: Option[BucketWidthCache] = None): Appended = {
    val laid = layout(messages, granularityFor, default).cache()
    try write(laid, path, widthCache)()
    finally laid.unpersist()
  }

  /** The store's one write, of a batch laid out by [[layout]] (its
    * `bucket` column decides each row's directory). The batch pays ONE
    * aggregate before the write: per (stream_id, stream_partition, bucket)
    * row count and ts span, collected (stream-parts × buckets —
    * micro-batch bounded) and planned without an exchange, since the
    * layout already partitions on exactly that key. The width guard reads
    * its (stream, day, width) keys from it; then `beforeWrite` runs — the
    * commit delivers to live subscribers there, so fan-out waits for
    * neither the parquet write nor the commit marker — and then the rows
    * land. A rejected batch (width conflict)
    * throws before `beforeWrite`; an empty batch skips both `beforeWrite`
    * and the write and returns `Appended(0, None)`. */
  def write(laid: DataFrame, path: String,
      widthCache: Option[BucketWidthCache] = None)(
      beforeWrite: => Unit = ()): Appended = {
    val perBucket = laid
      .groupBy(PartitionCols.map(col): _*)
      .agg(count(lit(1)), min(col("ts")), max(col("ts")))
      .collect()
    if (perBucket.isEmpty) return Appended(0L, None)
    // a null ts has no bucket and so no width to guard (the ingest gate
    // rejects such rows; a raw append lands them in Hive's default bucket)
    val touched = perBucket
      .flatMap(r => Option(r.getString(2)).map(b => (r.getString(0), b))).distinct
    requireConsistentWidths(laid.sparkSession, touched, path, widthCache)
    // ts is TIMESTAMP_NTZ holding UTC wall-clock: convert driver-side with
    // an explicit UTC interpretation, independent of the session zone
    val ts = perBucket.flatMap(r => Seq(r.get(4), r.get(5))).collect {
      case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
    val appended = Appended(perBucket.map(_.getLong(3)).sum,
      if (ts.isEmpty) None else Some((ts.min, ts.max)))
    beforeWrite
    laid.write
      .partitionBy(PartitionCols: _*)
      .mode("append")
      .parquet(path)
    widthCache.foreach(c => touched.foreach { case (s, b) =>
      c.record(s, Map(b.take(10) -> Set(widthOf(b))))
    })
    appended
  }

  /** Width of a bucket name: day names are 10 chars, hour names 13. */
  private def widthOf(bucket: String): String =
    if (bucket.length == 10) DayBucket else HourBucket

  /** Replay dedup is bucket-local — every read's merge window is keyed on
    * uniqueKey + bucket, and the clean-marker fast paths skip the window
    * entirely — so a key replayed AFTER its stream flips day↔hour would
    * land in a different-width bucket than its original row and survive as
    * a permanent duplicate that bucket-local compaction can never purge.
    * Guard: a (stream, UTC day) holds exactly ONE bucket width for its
    * lifetime; an append whose rows would put the other width onto a day
    * that already has data is rejected before any file lands. Forward-only
    * migration stays legal (flip a stream's width starting from a day with
    * no data yet). `touched` is the batch's (stream, bucket) pairs, whose
    * names carry their day and width. Cost per micro-batch: a bucket
    * listing of just the touched streams' directories — the same metadata
    * sweep a read performs — and with a [[BucketWidthCache]] the listing
    * happens once per stream per query lifetime instead of per batch. */
  private def requireConsistentWidths(spark: SparkSession,
      touched: Array[(String, String)], path: String,
      cache: Option[BucketWidthCache]): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conflicts = touched.groupBy(_._1).flatMap { case (stream, buckets) =>
      val days = buckets.map { case (_, b) => (b.take(10), widthOf(b)) }.distinct.toSeq
      cache match {
        // warm path: the stream's directory widths are already in memory —
        // no filesystem access at all
        case Some(c) if c.isListed(stream) =>
          days.flatMap { case (d, width) =>
            c.widthsOf(stream, d).filter(_ != width)
              .map(w => s"$stream day $d already holds buckets of width " +
                s"'$w' (cached listing)")
          }
        case _ =>
          val streamDir = new Path(root, s"stream_id=${escapePathName(stream)}")
          if (!fs.exists(streamDir)) {
            cache.foreach(_.record(stream, Map.empty))
            Nil
          } else {
            // bucket names present, across all partitions of the stream
            val existing = fs.listStatus(streamDir).toSeq.filter(_.isDirectory)
              .flatMap(part => listBuckets(fs, part.getPath)).map(_.name)
            // the one listing feeds the cache with EVERY day's widths, so
            // later batches touching other days of this stream stay warm
            cache.foreach(_.record(stream,
              existing.groupBy(_.take(10)).map { case (d, bs) =>
                d -> bs.map(widthOf).toSet
              }))
            days.flatMap { case (d, width) =>
              existing.filter(b => b.take(10) == d && widthOf(b) != width)
                .map(b => s"$stream day $d already holds bucket '$b' of the other width")
            }
          }
      }
    }
    if (conflicts.nonEmpty)
      throw new IllegalStateException(
        "bucket-width conflict: replay dedup is bucket-local, so writing a " +
          "second width into a day that already has data would make any " +
          "replayed key a permanent duplicate. Re-append with the day's " +
          "original granularity (width flips apply to NEW days only). " +
          conflicts.mkString("; "))
  }

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
      bucketDirs(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root))
  }

  /** One stream-part's upsert view (see [[openMerged]]), read from only
    * the part's buckets that can hold rows in the optional ts window
    * `[fromMs, toMs]` — the reference's per-stream-part, bucket-bounded
    * queries (`Storage.ts:101-410,452-576`). The window is chosen on bucket
    * names and is exact for any per-stream mix of day and hour buckets: a
    * bucket is kept when its name is ≥ the UTC day of `from` (a day name
    * sorts at or below all its hour names, so every bucket that can hold
    * rows ≥ from survives, at the cost of at most one extra day of hour
    * buckets) and ≤ the UTC hour of `to` (a day name is a proper prefix of
    * its hour names, so the boundary day's bucket of either width survives
    * while whole hour buckets past `to` drop). Rows inside the kept buckets
    * are not filtered: the caller's ts predicates keep answers exact. */
  def openStreamPart(spark: SparkSession, path: String, streamId: String,
      partition: Int, fromMs: Option[Long] = None,
      toMs: Option[Long] = None): DataFrame = {
    val lower = fromMs.map(bucketStr(_, DayBucket))
    val upper = toMs.map(bucketStr(_, HourBucket))
    scan(spark, path, partBuckets(spark, path, streamId, partition)
      .filter(b => lower.forall(b.name >= _) && upper.forall(b.name <= _)))
  }

  /** Marker file a committed compaction stamps into its bucket directory:
    * holds the parquet-file count at commit, so validity is checkable from
    * one directory listing (appends after compaction add files and void
    * the marker). Underscore-prefixed — parquet readers skip it. */
  val CleanMarker = "_clean"

  private def parquetFileCount(fs: org.apache.hadoop.fs.FileSystem,
      bucket: Path): Int =
    fs.listStatus(bucket)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))

  /** `fileCount` is the parquet-file count of the STAGING directory,
    * captured before the swap: staging is private to the compaction, so
    * the count cannot fold in a concurrent append — listing the live
    * bucket after the swap could, and would stamp a dirty bucket clean. */
  private def writeCleanMarker(fs: org.apache.hadoop.fs.FileSystem,
      bucket: Path, fileCount: Int): Unit = {
    val out = fs.create(new Path(bucket, CleanMarker), true)
    try out.write(String.valueOf(fileCount).getBytes("UTF-8"))
    finally out.close()
  }

  /** One live bucket directory: its (unescaped) partition value, its path,
    * and two facts read lazily from ONE listing of the directory, so only
    * the buckets a read selects pay for it:
    *  - `clean`: the `_clean` marker exists and still matches the
    *    directory's parquet-file count, i.e. no append since it was stamped
    *    (plus the marker read when present; conservative on any read
    *    failure);
    *  - `rows`: the physical row count (replays included), summed from the
    *    parquet footers' block row counts — no data page is read. */
  private final class Bucket(val name: String, val path: Path,
      fs: org.apache.hadoop.fs.FileSystem) {
    private lazy val files: Seq[org.apache.hadoop.fs.FileStatus] =
      try fs.listStatus(path).toSeq.filter(_.isFile)
      catch { case _: java.io.IOException => Nil }
    private def dataFiles = files.filter(_.getPath.getName.endsWith(".parquet"))

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

  /** The live buckets of one stream-part directory (none when it does not
    * exist). Hidden `.bucket=…` compaction twins are not buckets. */
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

  /** All live buckets under the store root. */
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
    * only dirty buckets pay the merge shuffle, keyed on the uniqueness key
    * plus `bucket` (bucket-local, like compaction; the append width guard
    * keeps a key's replays in one bucket). The steady post-compaction state
    * serves at plain-scan cost, the engine analog of Cassandra upserts
    * being free after sstable compaction.
    *
    * An append landing between the marker check and plan execution could
    * put a replay into a scan already planned window-free: accepted as
    * eventual consistency for serving reads — the same read raced against
    * the append could equally have run a moment earlier and missed the row
    * entirely, and the duplicate is gone on the next read (the marker is
    * void from then on). Columns in `StreamMessage.schema` order; the empty
    * relation for no buckets. */
  private def scan(spark: SparkSession, path: String,
      buckets: Seq[Bucket]): DataFrame = {
    def read(bs: Seq[Bucket]) = reader(spark, path).parquet(bs.map(_.path.toString): _*)
    val (clean, dirty) = buckets.partition(_.clean)
    val parts =
      (if (clean.isEmpty) Nil else Seq(read(clean))) ++
        (if (dirty.isEmpty) Nil
         else Seq(graft.dedup.Dedup.ingestDedup(read(dirty),
           graft.model.StreamMessage.uniqueKey :+ "bucket")))
    parts.reduceOption(_ unionByName _)
      .map(_.select(graft.model.StreamMessage.schema.fieldNames.map(col(_)): _*))
      .getOrElse(emptyRelation(spark))
  }

  private def bucketStr(ms: Long, granularity: String): String =
    java.time.LocalDateTime
      .ofInstant(java.time.Instant.ofEpochMilli(ms), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern(granularity))

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
    * bucket table's per-bucket counts: the part's UTC day groups are walked
    * newest-first on the driver, each adding the physical row count of its
    * parquet footers, until the count reaches the clamped limit. The oldest
    * group reached is never counted (there is nothing older to decide on),
    * so a part with one day group reads no footer at all, and no file
    * outside the covering groups is ever opened.
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
    // coverage selection works in whole UTC days (the first 10 chars of
    // either bucket format): when a stream's granularity changed mid-day,
    // a day bucket and that day's hour buckets coexist and overlap in
    // time, so name order between them is NOT newest-first — selecting a
    // whole day at a time keeps the expansion exact for any mix (a
    // pure-hour tail day just reads its few extra hour buckets)
    val days = buckets.groupBy(_.name.take(10)).toSeq
      .sortBy(_._1)(Ordering[String].reverse).map(_._2).iterator
    val needed = Seq.newBuilder[Bucket]
    var covered = 0L
    while (covered < clamped && days.hasNext) {
      val group = days.next()
      needed ++= group
      if (days.hasNext) covered += group.map(_.rows).sum
    }
    val covering = needed.result()
    if (covering.isEmpty) return Array.empty
    def lastOver(bs: Seq[Bucket]): Array[Row] =
      shape(BrokerQueries.requestLast(scan(spark, path, bs), streamId, partition, limit))
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
    * (`BucketManager.ts:50-51`). Rewrites each multi-file bucket directory
    * to `targetFiles` files, purging cross-batch replay duplicates in the
    * same rewrite (the sstable-compaction half of the upsert contract —
    * [[openMerged]] is the merge-on-read half; a replayed key's ts lands it
    * in the same bucket as the original, so bucket-local dedup on the
    * within-bucket key `(ts, sequence_no, publisher_id, msg_chain_id)` is
    * exact). Returns the number of buckets compacted.
    *
    * Crash-safe, and defensive against a concurrent writer (though
    * compaction is designed to run from the maintenance path, not to race
    * an active ingest — schedule it off-peak or per idle stream-part):
    *  - the staged file set is re-checked after the staging write AND
    *    re-verified from the trash directory after the rename(live→trash)
    *    — the rename is the commit point, so a file that slipped in
    *    between check and rename is detected and the bucket is restored,
    *    never deleted;
    *  - rename(staging→live) runs only when the live path is absent (a
    *    Hadoop rename onto an existing directory would nest the source
    *    inside it); if a concurrent writer recreated the live dir, the
    *    original files are moved back file-by-file (part-file names are
    *    globally unique) and the compaction aborts;
    *  - the swap order rename(live→trash), rename(staging→live),
    *    delete(trash) keeps committed data live-or-recoverable at every
    *    instant; [[recoverCompaction]] sweeps leftover hidden dirs on the
    *    next maintenance run. */
  def compactStreamPart(
      spark: SparkSession, path: String, streamId: String, partition: Int,
      targetFiles: Int = 1, minFiles: Int = 2): Int = {
    val dir = partDir(path, streamId, partition)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    // every compaction entry point recovers crash states first (the
    // policy sweep and Engine.compact used to compensate caller-side;
    // a hidden-live or blocked-trash bucket must never silently skip)
    recoverCompaction(spark, path)
    listBuckets(fs, dir)
      .count(b => compactBucket(spark, fs, b.path, targetFiles, minFiles))
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
  def autoCompact(spark: SparkSession, path: String,
      maxFilesPerBucket: Int = 4, targetFiles: Int = 1): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    // a crashed earlier sweep leaves buckets in swap states that both hide
    // rows (live renamed to .trash) and block all future compaction of the
    // bucket (the !exists(trash) guard) — every policy entry point must
    // recover first; recovery is idempotent and metadata-only when clean
    recoverCompaction(spark, path)
    bucketDirs(fs, root).count { b =>
      parquetFileCount(fs, b.path) >= maxFilesPerBucket &&
        compactBucket(spark, fs, b.path, targetFiles, minFiles = maxFilesPerBucket)
    }
  }

  /** One bucket's dedup-rewrite + crash-safe swap (see [[compactStreamPart]]
    * for the protocol contract). Returns true when the swap committed. */
  private def compactBucket(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem, bucket: Path,
      targetFiles: Int, minFiles: Int): Boolean = {
    def dataFiles = fs.listStatus(bucket)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getLen)).toSet
    val staged = dataFiles
    if (staged.size < minFiles) return false
    val staging = new Path(bucket.getParent, s".${bucket.getName}.compact")
    val trash = new Path(bucket.getParent, s".${bucket.getName}.trash")
    fs.delete(staging, true) // stale staging from an earlier crash
    val bucketRows = spark.read.parquet(bucket.toString)
    // stream_id/stream_partition are directory levels here, constant
    // within the bucket — the remaining uniqueness-key columns suffice
    graft.dedup.Dedup.ingestDedup(bucketRows,
      graft.model.StreamMessage.uniqueKey.filter(bucketRows.columns.contains))
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(staging.toString)
    val stagedOut = parquetFileCount(fs, staging)
    // concurrent-append guard: only swap if the live file set is
    // exactly what was staged
    if (dataFiles == staged && !fs.exists(trash) &&
        fs.rename(bucket, trash)) {
      // the rename is the commit point — re-verify from the trash side
      // that nothing landed between the re-check and the rename
      val trashed = fs.listStatus(trash)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath.getName, f.getLen)).toSet
      // swap-in precondition: live must be absent (rename onto an
      // existing dir would nest staging inside it)
      if (trashed == staged && !fs.exists(bucket) &&
          fs.rename(staging, bucket)) {
        // TOCTOU re-check: a writer recreating live between the exists
        // check and the rename makes Hadoop nest staging INSIDE the new
        // live dir (rename still returns true). Verify the swap landed
        // flat before the trash delete — that delete is the only
        // destructive step. Restore order matters for crash recovery:
        // originals back first, THEN drop the nested copy (so a
        // leftover nested dir always means originals are already live,
        // which is what recoverCompaction assumes).
        val nested = new Path(bucket, staging.getName)
        if (fs.exists(nested)) {
          restoreBucket(fs, trash, bucket)
          fs.delete(nested, true)
          false
        } else {
          fs.delete(trash, true)
          // swap committed: the bucket now holds exactly the dedup-rewritten
          // files — stamp it clean so reads skip the merge window until the
          // next append (a crash before the stamp just leaves the bucket
          // conservatively unclean; an append racing the stamp voids it by
          // count mismatch because the count is the pre-swap staging one)
          writeCleanMarker(fs, bucket, stagedOut)
          true
        }
      } else {
        // late append detected, live dir recreated by a concurrent
        // writer, or swap-in failed: restore originals and abort
        restoreBucket(fs, trash, bucket)
        fs.delete(staging, true)
        false
      }
    } else { fs.delete(staging, true); false } // bucket changed mid-compact
  }

  /** Put a trashed bucket back: whole-dir rename when the live path is
    * free (atomic), else file-by-file moves into the recreated live dir —
    * part-file names are globally unique, so nothing can collide with what
    * a concurrent writer added. */
  private def restoreBucket(fs: org.apache.hadoop.fs.FileSystem,
      trash: Path, live: Path): Unit = {
    if (!fs.exists(live) && fs.rename(trash, live)) return
    if (fs.exists(trash)) {
      fs.listStatus(trash).filter(_.isFile).foreach { f =>
        fs.rename(f.getPath, new Path(live, f.getPath.getName))
      }
      fs.delete(trash, true)
    }
  }

  /** Recover buckets left in a crashed-compaction state. Per bucket, the
    * surviving (live, `.trash`, `.compact`, nested-`.compact`) combination
    * identifies exactly where the crash fell in [[compactStreamPart]]'s
    * swap protocol, and each state has one safe action:
    *  - live missing, trash/compact twin present → rename the twin back in
    *    (trash preferred — it is the pre-compaction original; a `.compact`
    *    twin is equivalent rows);
    *  - live recreated by a concurrent writer while originals sat in trash
    *    (trash + part-level `.compact`, or trash + a `.compact` dir nested
    *    INSIDE live by the rename race) → merge the trashed originals back
    *    file-by-file (part-file names are globally unique), then drop the
    *    staged copy;
    *  - live present with only a trash twin and no staged copy anywhere →
    *    the compacted swap committed and only the trash delete was lost:
    *    drop the trash (its rows are equivalent to the live compacted
    *    files);
    *  - a nested `.compact` with no trash → originals were already
    *    restored (compactStreamPart restores before dropping the nested
    *    copy, in that order precisely so this state is unambiguous): drop
    *    the nested dir.
    * Returns recovered/restored live bucket paths. Idempotent; run
    * before/after compaction sweeps. */
  def recoverCompaction(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val recovered = scala.collection.mutable.ArrayBuffer[String]()
    for {
      stream <- fs.listStatus(root) if stream.isDirectory
      part <- fs.listStatus(stream.getPath) if part.isDirectory
      hidden <- fs.listStatus(part.getPath)
      name = hidden.getPath.getName
      if hidden.isDirectory && name.startsWith(".bucket=")
    } {
      val live = new Path(part.getPath,
        name.stripPrefix(".").stripSuffix(".trash").stripSuffix(".compact"))
      if (!fs.exists(live)) {
        // crash window: restore committed data, trash preferred — it is
        // the pre-compaction original, and may hold a file a concurrent
        // writer slipped in after staging that the .compact copy lacks.
        // The preference must be enforced HERE, not left to listing
        // order: '.compact' lists before '.trash', and renaming the
        // staged copy first would make the later .trash iteration read
        // "swap committed" and delete the originals.
        val trashTwin = new Path(part.getPath,
          name.stripSuffix(".compact") + ".trash")
        if (name.endsWith(".compact") && fs.exists(trashTwin)) {
          if (fs.rename(trashTwin, live)) {
            fs.delete(hidden.getPath, true)
            recovered += live.toString
          }
        } else if (fs.rename(hidden.getPath, live)) recovered += live.toString
      } else if (name.endsWith(".trash")) {
        val stagedFlat = new Path(part.getPath, s"$name".stripSuffix(".trash") + ".compact")
        val stagedNested = new Path(live, stagedFlat.getName)
        if (fs.exists(stagedFlat) || fs.exists(stagedNested)) {
          // writer recreated live mid-swap: live holds only the writer's
          // new files — merge the originals back, then drop staged copies.
          // The merge can also REINTRODUCE rows a committed compaction had
          // already purged (a stale trash from a pre-delete crash beside a
          // later run's staging is indistinguishable from this state), so
          // always dedup-rewrite the merged bucket: duplicates can never
          // survive recovery, whichever history produced the state.
          restoreBucket(fs, hidden.getPath, live)
          fs.delete(stagedFlat, true)
          fs.delete(stagedNested, true)
          compactBucket(spark, fs, live, targetFiles = 1, minFiles = 1)
          recovered += live.toString
        } else {
          // flat swap committed (live IS the compacted rows); only the
          // trash delete was lost
          fs.delete(hidden.getPath, true)
        }
      } else {
        // pre-swap .compact leftover — but when a sibling .trash exists it
        // is this bucket's disambiguation signal (writer-recreated-live vs
        // committed-swap), so leave both for the .trash branch to resolve
        // regardless of listing order
        val trashTwin = new Path(part.getPath,
          name.stripSuffix(".compact") + ".trash")
        if (!fs.exists(trashTwin)) fs.delete(hidden.getPath, true)
      }
    }
    // nested staging dirs with no part-level trash: originals are already
    // restored (see compactStreamPart's restore-then-delete order) — sweep
    for {
      stream <- fs.listStatus(root) if stream.isDirectory
      part <- fs.listStatus(stream.getPath) if part.isDirectory
      bucket <- fs.listStatus(part.getPath)
      if bucket.isDirectory && bucket.getPath.getName.startsWith("bucket=")
      nested <- fs.listStatus(bucket.getPath)
      if nested.isDirectory && nested.getPath.getName.startsWith(".bucket=")
    } fs.delete(nested.getPath, true)
    recovered.toSeq
  }

  /** Retention enforcement: drop expired bucket directories (metadata-only,
    * no rewrite — the Spark analog of the reference's bucket-granular
    * delete job). Returns the dropped partition paths. */
  def dropExpiredBuckets(spark: SparkSession, path: String, cutoff: MsgRef): Seq[String] =
    dropExpiredBucketsPerStream(spark, path, _ => cutoff)

  /** Per-stream retention (`DeleteExpiredCmd.ts:86-107`): each stream's
    * buckets expire against that stream's own cutoff (the reference reads
    * `storageDays` per stream, defaulting 365). The expiry rule stays
    * data-aware — a bucket is dropped only when its MAX(ts) is older than
    * its stream's cutoff — and the cutoff lookup happens driver-side on
    * the already-aggregated bucket stats (one row per bucket), so the
    * distributed work is independent of how many streams have custom
    * retention. */
  def dropExpiredBucketsPerStream(
      spark: SparkSession, path: String, cutoffFor: String => MsgRef): Seq[String] = {
    // partition directory names are escaped by the writer (e.g. '/' in a
    // stream id becomes %2F) — escape identically or deletes silently miss
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val stats = open(spark, path)
      .groupBy(col("stream_id"), col("stream_partition"), col("bucket"))
      .agg(max(col("ts")).as("max_ts"))
      .collect()
    val expired = stats.filter { r =>
      val cutoffMs = cutoffFor(r.getAs[String]("stream_id")).tsMs
      r.getAs[java.time.LocalDateTime]("max_ts")
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli < cutoffMs
    }.map { r =>
      s"$path/stream_id=${escapePathName(r.getAs[String]("stream_id"))}" +
        s"/stream_partition=${r.getAs[Int]("stream_partition")}" +
        s"/bucket=${escapePathName(r.getAs[String]("bucket"))}"
    }.toSeq
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    expired.filter(p => fs.delete(new Path(p), true))
  }

  /** Age-based bucket drop — the S4 TTL analog (`USING TTL 259200`,
    * `src/storage/BatchManager.ts:12-14`): a non-storage node keeps only a
    * transient relay window, expiring data by AGE rather than per-stream
    * retention policy. The decision is made purely from the bucket
    * directory name (the bucket value is the hour/day truncation of the
    * data's ts), so the sweep is pure filesystem metadata — zero reads.
    * Late-arriving rows land in old buckets and therefore expire earlier
    * than wall-clock TTL would — acceptable for the transient-relay use
    * the reference puts TTL writes to. Returns dropped bucket paths. */
  def dropAgedBuckets(
      spark: SparkSession, path: String, cutoff: MsgRef): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // each bucket expires against ITS OWN width, parsed from the name
    // (day names are 10 chars, hour names 13): a bucket is deletable iff
    // every instant it can contain is before the cutoff, i.e. its
    // EXCLUSIVE end <= cutoff. A single-granularity name comparison is
    // unsound in a per-stream mixed store — a day name is a PREFIX of its
    // hour names, so "2024-01-15" < "2024-01-15-15" would delete a day
    // bucket whose tail rows are younger than an intra-day cutoff (the
    // hazard [[openStreamPart]]'s bucket-name window handles on the read
    // path).
    // total on malformed input: a right-length-but-unparseable name (a
    // corrupted directory, a foreign file) is SKIPPED like wrong-length
    // names are, never deletes, never aborts the sweep mid-way
    def bucketEndMs(bucketName: String): Option[Long] = {
      val fmt = if (bucketName.length == 13) HourBucket
        else if (bucketName.length == 10) DayBucket
        else return None
      scala.util.Try {
        val start = java.time.LocalDateTime.parse(
          bucketName + (if (fmt == DayBucket) "-00" else ""),
          java.time.format.DateTimeFormatter.ofPattern(HourBucket))
        val end = if (fmt == DayBucket) start.plusDays(1) else start.plusHours(1)
        end.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }.toOption
    }
    bucketDirs(fs, root)
      .filter(b => bucketEndMs(b.name).exists(_ <= cutoff.tsMs) && fs.delete(b.path, true))
      .map(_.path.toString)
  }
}
