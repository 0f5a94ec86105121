package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.StreamMessage
import graft.operators.BrokerQueries
import graft.operators.BrokerQueries.MsgRef
import graft.store.MessageStore
import graft.streaming.IngestPipeline

class StoreStreamingSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The bucket directories a read's files come from, relative to the
    * store root (`stream_id=…/stream_partition=…/bucket=…`). */
  private def bucketsRead(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => f.substring(f.indexOf("stream_id="), f.lastIndexOf('/'))).toSet

  test("store roundtrip: bucket layout, late data routed to historical bucket") {
    val path = tmpDir("graft-store")
    MessageStore.append(streamDataOf(
      msg("s", 0, 1700000000000L, 0),           // 2023-11-14 22:xx
      msg("s", 0, 1700003600000L, 1),           // next hour
      msg("s", 1, 1700000000000L, 0)), path)
    // late arrival: much older ts appended later lands in its own bucket
    MessageStore.append(streamDataOf(msg("s", 0, 1600000000000L, 5)), path)

    val dirs = new java.io.File(s"$path/stream_id=s/stream_partition=0").list().sorted
    assert(dirs.toSeq == Seq("bucket=2020-09-13", "bucket=2023-11-14"))

    val store = MessageStore.open(spark, path)
    assert(store.count() == 4)
    // requestLast over the store returns the latest-N ascending (the late
    // 1600000000000 row is correctly older and excluded)
    val got = keysOf(BrokerQueries.requestLast(store, "s", 0, 2))
    assert(got == Seq(
      (1700000000000L, 0, "publisher", "1"), (1700003600000L, 1, "publisher", "1")))
  }

  test("stream-part predicate prunes partition directories") {
    val path = tmpDir("graft-prune")
    MessageStore.append(streamDataOf(
      msg("a", 0, 1700000000000L, 0), msg("b", 1, 1700000000000L, 0)), path)
    val store = MessageStore.open(spark, path)
    val plan = BrokerQueries.requestLast(store, "a", 0, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "partition filters expected in scan")
    assert(plan.contains("stream_id"), plan)
  }

  test("last-N spanning multiple buckets matches single-relation semantics " +
    "(Storage.test.ts:295-313 analog)") {
    val path = tmpDir("graft-multibucket")
    val dayMs = 86400000L
    val base = 1700000000000L
    // 60 messages across 3 day-buckets (20 per day)
    val msgs = (0 until 60).map(i =>
      msg("s", 0, base + (i / 20) * dayMs + (i % 20) * 1000L, i % 4))
    MessageStore.append(streamDataOf(msgs: _*), path)
    val store = MessageStore.open(spark, path)
    assert(new java.io.File(s"$path/stream_id=s/stream_partition=0").list().length == 3)

    // last-25 spans the bucket boundary: 20 from day 3 + 5 from day 2
    val got = keysOf(BrokerQueries.requestLast(store, "s", 0, 25)).map(_._1)
    val want = msgs.sortBy(m => (m.ts.toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
      m.sequence_no)).takeRight(25)
      .map(_.ts.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    assert(got == want)

    // range queries across each bucket boundary
    val r1 = BrokerQueries.requestRange(store, "s", 0,
      MsgRef(base + 19000L, 0), MsgRef(base + dayMs + 1000L, 99))
    assert(r1.count() == 3) // 19s day1, 0s + 1s day2
    val r2 = BrokerQueries.requestRange(store, "s", 0,
      MsgRef(base, 0), MsgRef(base + 2 * dayMs + 19000L, 99))
    assert(r2.count() == 60)
  }

  test("retention drops expired bucket directories, deciding by name") {
    val path = tmpDir("graft-retention")
    MessageStore.append(streamDataOf(
      msg("s", 0, 1600000000000L, 0),   // old bucket — expired
      msg("s", 0, 1700000000000L, 1)), path) // recent bucket — kept
    val dropped = MessageStore.dropExpiredBuckets(spark, path, MsgRef(1650000000000L, 0))
    assert(dropped.size == 1 && dropped.head.contains("bucket=2020-09-13"))
    val left = MessageStore.open(spark, path)
    assert(keysOf(left) == Seq((1700000000000L, 1, "publisher", "1")))
  }

  test("retention reads only the boundary day: a junk file in a long-expired " +
      "bucket does not stop deleteExpired") {
    val path = tmpDir("graft-retention-boundary")
    val engine = new GraftEngine(spark, path)
    val dayMs = 86400000L
    val now = 1700000000000L // 2023-11-14T22:13:20Z; 1-day cutoff 2023-11-13T22:13:20Z
    val hourMs = 3600000L
    MessageStore.append(streamDataOf(
      msg("s", 0, now - 400 * dayMs, 0),        // 2022-10-10: expired by name
      msg("s", 0, now - dayMs - hourMs, 1),     // 2023-11-13T21:13, before the cutoff
      msg("t", 0, now - dayMs - hourMs, 0),
      msg("t", 0, now - dayMs + hourMs, 1),     // 2023-11-13T23:13, after it
      msg("s", 0, now, 2)), path)               // 2023-11-14: kept by name
    // a file no parquet reader can open, in the long-expired bucket: the
    // name alone decides that bucket, so nothing opens the file
    val expired = new java.io.File(s"$path/stream_id=s/stream_partition=0/bucket=2022-10-10")
    Files.writeString(new java.io.File(expired, "junk.parquet").toPath, "not parquet")
    // the boundary day 2023-11-13 expires for s (its newest row is older
    // than the cutoff) and stays for t
    assert(engine.deleteExpired(retentionDays = 1, nowMs = now).toSet == Set(
      s"$path/stream_id=s/stream_partition=0/bucket=2022-10-10",
      s"$path/stream_id=s/stream_partition=0/bucket=2023-11-13"))
    assert(keysOf(MessageStore.open(spark, path)).map(_._1).sorted ==
      Seq(now - dayMs - hourMs, now - dayMs + hourMs, now))
  }

  test("retention handles escaped partition values (stream id with '/')") {
    val path = tmpDir("graft-escape")
    MessageStore.append(streamDataOf(
      msg("0xabc/path", 0, 1600000000000L, 0),
      msg("0xabc/path", 0, 1700000000000L, 1)), path)
    val dropped = MessageStore.dropExpiredBuckets(spark, path, MsgRef(1650000000000L, 0))
    assert(dropped.size == 1 && dropped.head.contains("stream_id=0xabc%2Fpath"))
    assert(keysOf(MessageStore.open(spark, path)) ==
      Seq((1700000000000L, 1, "publisher", "1")))
  }

  test("requestLastBounded: newest buckets only, matches full-scan result") {
    val path = tmpDir("graft-lastbounded")
    val dayMs = 86400000L
    val base = 1700000000000L
    val msgs = (0 until 30).map(i =>
      msg("s", 0, base + (i / 10) * dayMs + (i % 10) * 1000L, 0))
    MessageStore.append(streamDataOf(msgs: _*), path)

    // N=5 is covered by the newest bucket alone
    val bounded = MessageStore.requestLastBounded(spark, path, "s", 0, 5)
    val full = BrokerQueries.requestLast(MessageStore.open(spark, path), "s", 0, 5)
    assert(keysOf(bounded) == keysOf(full))
    // N spanning two buckets still matches
    val bounded15 = MessageStore.requestLastBounded(spark, path, "s", 0, 15)
    assert(keysOf(bounded15) ==
      keysOf(BrokerQueries.requestLast(MessageStore.open(spark, path), "s", 0, 15)))
    // limit beyond total falls back to everything
    assert(MessageStore.requestLastBounded(spark, path, "s", 0, 100).count() == 30)
    // unknown stream-part: empty, correct schema
    val none = MessageStore.requestLastBounded(spark, path, "nope", 0, 5)
    assert(none.count() == 0 && none.columns.contains("payload"))
  }

  test("requestLastBounded: N spanning several of many buckets, no count job") {
    val path = tmpDir("graft-manybuckets")
    val dayMs = 86400000L
    val base = 1700000000000L
    // 25 day-buckets, 2 rows each
    val msgs = (0 until 50).map(i =>
      msg("s", 0, base + (i / 2) * dayMs + (i % 2) * 1000L, 0))
    MessageStore.append(streamDataOf(msgs: _*), path)
    val partDir = new java.io.File(s"$path/stream_id=s/stream_partition=0")
    assert(partDir.list().length == 25)
    val want = keysOf(BrokerQueries.requestLast(MessageStore.open(spark, path), "s", 0, 7))
    // a file no parquet reader can open, in the oldest bucket: coverage
    // must not open any file outside the covering day groups
    val oldest = new java.io.File(partDir, partDir.list().min)
    Files.writeString(new java.io.File(oldest, "junk.parquet").toPath, "not parquet")
    // N=7 needs the newest 4 buckets (2 rows each)
    val got = keysOf(MessageStore.requestLastBounded(spark, path, "s", 0, 7))
    assert(got == want && got.length == 7)
  }

  test("ttl sweep drops aged buckets from directory names only") {
    val path = tmpDir("graft-ttl")
    val dayMs = 86400000L
    val base = 1700000000000L // 2023-11-14
    MessageStore.append(streamDataOf(
      msg("s", 0, base - 10 * dayMs, 0),  // old — beyond TTL
      msg("s", 0, base, 1)), path)        // recent — kept
    val dropped = MessageStore.dropAgedBuckets(spark, path,
      MsgRef(base - 3 * dayMs, 0))
    assert(dropped.size == 1 && dropped.head.contains("bucket=2023-11-04"))
    assert(keysOf(MessageStore.open(spark, path)) ==
      Seq((base, 1, "publisher", "1")))
  }

  test("dynamic assignment: stream-part added mid-stream persists, removed stops") {
    val s = spark
    import s.implicits._
    val path = tmpDir("graft-dynassign")
    val ckpt = tmpDir("graft-dynassign-ckpt")
    val now = System.currentTimeMillis()
    val assignment = new graft.streaming.DynamicAssignment(Some(Set("s::0")))

    val input = MemoryStream[StreamMessage](s)
    val q = IngestPipeline.start(input.toDF(), path, ckpt, assignment.get _)
    input.addData(msg("s", 0, now - 5000, 0), msg("t", 0, now - 5000, 0))
    q.processAllAvailable()

    // refresh: t gains assignment, s loses it (diff reported)
    val (added, removed) = assignment.update(Some(Set("t::0")))
    assert(added == Set("t::0") && removed == Set("s::0"))
    input.addData(msg("s", 0, now - 4000, 1), msg("t", 0, now - 4000, 1))
    q.processAllAvailable()
    q.stop()

    val stored = MessageStore.open(spark, path)
      .select($"stream_id", $"sequence_no").as[(String, Int)].collect().toSet
    assert(stored == Set(("s", 0), ("t", 1)))
  }

  test("ingest batch statistics: commit markers aggregate to the A10 surface") {
    val path = tmpDir("graft-stats")
    val ckpt = tmpDir("graft-stats-ckpt")
    assert(IngestPipeline.processBatch(
      streamDataOf((0 until 12).map(i => msg("s", 0, 1000L + i, i % 4)): _*),
      0L, path, ckpt, nowMs = 10000L))
    assert(IngestPipeline.processBatch(
      streamDataOf(msg("s", 0, 5000L, 0), msg("s", 0, 6000L, 1)),
      1L, path, ckpt, nowMs = 20000L))
    val s = graft.streaming.IngestStats.summary(spark, ckpt).collect().head
    assert(s.getAs[Long]("n_batches") == 2L)
    assert(s.getAs[Long]("total_rows") == 14L)
    assert(s.getAs[Double]("mean_batch_rows") == 7.0)
    // ages at commit: 10000-1011=8989 and 20000-6000=14000 → mean 11494.5
    assert(s.getAs[Double]("mean_age_ms") == 11494.5)
    assert(s.getAs[Long]("batches_ge_5") == 1L)
    assert(s.getAs[Long]("batches_ge_10") == 1L)
    assert(s.getAs[Long]("batches_ge_100") == 0L)
  }

  test("dropAgedBuckets: a day bucket survives an intra-day cutoff") {
    val path = tmpDir("graft-ttl-intraday")
    // rows at 2023-11-14T00:00 and T15:00
    MessageStore.append(streamDataOf(
      msg("s", 0, 1699920000000L, 0),     // 2023-11-14T00:00Z
      msg("s", 0, 1699974000000L, 1)), path) // 2023-11-14T15:00Z
    // cutoff at 2023-11-14T10:00: the day's tail row (15:00) is younger
    // than the cutoff — the bucket must survive
    val dropped = MessageStore.dropAgedBuckets(spark, path,
      MsgRef(1699956000000L, 0))
    assert(dropped.isEmpty)
    assert(keysOf(MessageStore.open(spark, path)).length == 2)
    // a cutoff past the day's exclusive end drops it
    val dropped2 = MessageStore.dropAgedBuckets(spark, path,
      MsgRef(1700006400000L, 0)) // 2023-11-15T00:00Z
    assert(dropped2.size == 1)
  }

  test("dropAgedBuckets: a malformed right-length bucket name is skipped, not fatal") {
    val path = tmpDir("graft-ttl-malformed")
    MessageStore.append(streamDataOf(
      msg("s", 0, 1699920000000L, 0)), path) // bucket=2023-11-14
    val partDir = new java.io.File(s"$path/stream_id=s/stream_partition=0")
    // a corrupted/foreign directory whose name LENGTH matches a day bucket
    // but which is not a date — the old LocalDateTime.parse aborted the
    // whole sweep on it; it must now be skipped like wrong-length names
    assert(new java.io.File(partDir, "bucket=GARBAGE-XX").mkdir())
    val dropped = MessageStore.dropAgedBuckets(spark, path,
      MsgRef(1700006400000L, 0)) // past the day's exclusive end
    assert(dropped.size == 1 && dropped.head.contains("2023-11-14"))
    assert(new java.io.File(partDir, "bucket=GARBAGE-XX").exists())
  }

  test("cross-batch replay: merge-on-read hides duplicates; compaction purges them") {
    val path = tmpDir("graft-replay-upsert")
    val m = msg("s", 0, 1700000000000L, 0)
    MessageStore.append(streamDataOf(m), path)
    // a later batch replays m and adds a genuinely new message
    MessageStore.append(streamDataOf(m, msg("s", 0, 1700000001000L, 1)), path)
    assert(MessageStore.open(spark, path).count() == 3)       // physical: at-least-once
    assert(MessageStore.openMerged(spark, path).count() == 2) // logical: upsert
    assert(MessageStore.requestLastBounded(spark, path, "s", 0, 10).count() == 2)
    // compaction rewrites the bucket without the replay (sstable analog)
    assert(MessageStore.compactStreamPart(spark, path, "s", 0) == 1)
    assert(MessageStore.open(spark, path).count() == 2)
  }

  test("clean markers: fully-compacted store reads window-free, appends void the marker") {
    val path = tmpDir("graft-clean")
    val m = msg("s", 0, 1700000000000L, 0)
    MessageStore.append(streamDataOf(m), path)
    MessageStore.append(streamDataOf(m, msg("s", 0, 1700000001000L, 1)), path)
    def mergedPlan = MessageStore.openMerged(spark, path)
      .queryExecution.executedPlan.toString
    // dirty store (replay present): the merged read pays the window
    assert(mergedPlan.contains("Window"))
    assert(MessageStore.openMerged(spark, path).count() == 2)
    // compaction stamps the bucket clean: NO Window and NO Exchange — the
    // steady-state serve is a plain scan
    assert(MessageStore.compactStreamPart(spark, path, "s", 0) == 1)
    assert(!mergedPlan.contains("Window") && !mergedPlan.contains("Exchange"),
      mergedPlan)
    assert(MessageStore.openMerged(spark, path).count() == 2)
    // the bounded last-N read skips its dedup too over clean buckets
    assert(MessageStore.requestLastBounded(spark, path, "s", 0, 10).count() == 2)
    // an append after compaction voids the marker: the window returns and
    // the replayed row stays merged away
    MessageStore.append(streamDataOf(m), path)
    assert(mergedPlan.contains("Window"))
    assert(MessageStore.openMerged(spark, path).count() == 2)
    assert(MessageStore.requestLastBounded(spark, path, "s", 0, 10).count() == 2)
  }

  test("clean markers: mixed store merges only dirty buckets") {
    val path = tmpDir("graft-clean-mixed")
    val dayMs = 86400000L
    val a = msg("s", 0, 1700000000000L, 0)
    val b = msg("s", 0, 1700000000000L + dayMs, 1)
    MessageStore.append(streamDataOf(a, b), path)
    MessageStore.append(streamDataOf(a, b), path) // replays in both buckets
    assert(MessageStore.compactStreamPart(spark, path, "s", 0) == 2)
    // dirty exactly one bucket: replay b again + a genuinely new row
    MessageStore.append(
      streamDataOf(b, msg("s", 0, 1700000001000L + dayMs, 2)), path)
    // the store-wide view and the stream-part read make the same split:
    // union of a window-free clean scan and one windowed dirty scan
    Seq(MessageStore.openMerged(spark, path),
        MessageStore.openStreamPart(spark, path, "s", 0)).foreach { merged =>
      val plan = merged.queryExecution.executedPlan.toString
      assert(plan.contains("Union") && plan.contains("Window"), plan)
      assert(keysOf(merged).map(_._2).sorted == Seq(0, 1, 2))
    }
    // a time-bounded read keeps only the dirty day: the window, no union,
    // and only that bucket's files
    val windowed = MessageStore.openStreamPart(spark, path, "s", 0,
      Some(1700000000000L + dayMs))
    val plan = windowed.queryExecution.executedPlan.toString
    assert(plan.contains("Window") && !plan.contains("Union"), plan)
    assert(bucketsRead(windowed) == Set("stream_id=s/stream_partition=0/bucket=2023-11-15"))
    assert(keysOf(windowed).map(_._2).sorted == Seq(1, 2))
  }

  test("requestLastBounded widens when replays deflate the covering buckets") {
    val path = tmpDir("graft-lb-widen")
    val newest = msg("s", 0, 1700000000000L + 86400000L, 2)
    MessageStore.append(streamDataOf(
      msg("s", 0, 1700000000000L, 0), msg("s", 0, 1700000001000L, 1), newest), path)
    MessageStore.append(streamDataOf(newest), path) // replay
    MessageStore.append(streamDataOf(newest), path) // replay again
    // newest bucket counts 3 physical rows but holds 1 unique: the physical
    // covering of limit=3 deflates, so the read must widen to older buckets
    val got = MessageStore.requestLastBounded(spark, path, "s", 0, 3)
    assert(keysOf(got).map(_._2) == Seq(0, 1, 2))
  }

  test("openStreamPart: a time-bounded read selects its buckets by name") {
    val path = tmpDir("graft-prunetime")
    MessageStore.append(streamDataOf(
      msg("s", 0, 1600000000000L, 0),   // bucket 2020-09-13
      msg("s", 0, 1700000000000L, 1)), path) // bucket 2023-11-14
    def files(df: org.apache.spark.sql.DataFrame) =
      bucketsRead(df).map(_.stripPrefix("stream_id=s/stream_partition=0/"))
    // only the newer bucket is read; correctness preserved
    val pruned = MessageStore.openStreamPart(spark, path, "s", 0, Some(1690000000000L))
    assert(files(pruned) == Set("bucket=2023-11-14"))
    assert(keysOf(pruned) == Seq((1700000000000L, 1, "publisher", "1")))
    // covering-bucket safety: a from inside a bucket keeps that bucket
    val mid = MessageStore.openStreamPart(spark, path, "s", 0, Some(1700000005000L))
    assert(files(mid) == Set("bucket=2023-11-14") && mid.count() == 1)
    // an upper bound drops buckets past `to`; no bound reads the whole part
    val upTo = MessageStore.openStreamPart(spark, path, "s", 0, None, Some(1690000000000L))
    assert(files(upTo) == Set("bucket=2020-09-13"))
    assert(files(MessageStore.openStreamPart(spark, path, "s", 0)).size == 2)
    // the merge window sits on the selected buckets only (both are dirty:
    // never compacted)
    assert(pruned.queryExecution.executedPlan.toString.contains("Window"))
    // a window that holds no bucket is the empty relation, not an error
    val none = MessageStore.openStreamPart(spark, path, "s", 0, Some(1800000000000L))
    assert(none.count() == 0 &&
      none.columns.toSeq == StreamMessage.schema.fieldNames.toSeq)
  }

  test("stream-part reads list and scan only their own in-window buckets") {
    val path = tmpDir("graft-part-read")
    val dayMs = 86400000L
    val base = 1700000000000L // 2023-11-14 22:13:20 UTC
    // two streams, one with two partitions, three day buckets each
    MessageStore.append(streamDataOf((0 until 3).flatMap { d =>
      Seq(msg("a", 0, base + d * dayMs, d), msg("a", 1, base + d * dayMs, d),
        msg("b", 0, base + d * dayMs, d))
    }: _*), path)
    def day(d: String) = s"stream_id=a/stream_partition=0/bucket=2023-11-$d"
    def read(from: Option[Long], to: Option[Long]) =
      MessageStore.openStreamPart(spark, path, "a", 0, from, to)
    // metadata's read: the whole stream-part, no other part's files
    val all = read(None, None)
    assert(bucketsRead(all) == Set(day("14"), day("15"), day("16")))
    assert(all.count() == 3)
    // from's read: the buckets at or after from's UTC day
    assert(bucketsRead(read(Some(base + dayMs + 1000L), None)) ==
      Set(day("15"), day("16")))
    // range's read: the buckets between from's day and to's day
    assert(bucketsRead(read(Some(base + dayMs), Some(base + dayMs + 1000L))) ==
      Set(day("15")))
    // an unknown stream-part lists nothing and reads nothing
    val none = MessageStore.openStreamPart(spark, path, "c", 0)
    assert(none.inputFiles.isEmpty && none.count() == 0)
  }

  test("append rejects a null ts before any file lands") {
    val path = tmpDir("graft-null-ts")
    val rows = streamDataOf(msg("s", 0, 1600000000000L, 0),
        msg("s", 0, 1700000000000L, 1), msg("s", 0, 1700000000000L, 2))
      .withColumn("ts", when(col("sequence_no") =!= 2, col("ts")))
    intercept[IllegalArgumentException](MessageStore.append(rows, path))
    assert(!Files.walk(java.nio.file.Paths.get(path)).toArray
      .exists(_.toString.endsWith(".parquet")))
  }

  test("a row's bucket depends only on its ts: UTC days under a non-UTC " +
      "session zone, and a replay lands in its original's bucket") {
    val path = tmpDir("graft-bucket-ts")
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val lastOfDay = msg("s", 0, 1699919999999L, 0) // 2023-11-13T23:59:59.999Z
      val firstOfDay = msg("s", 0, 1699920000000L, 1) // 2023-11-14T00:00:00.000Z
      MessageStore.append(streamDataOf(lastOfDay, firstOfDay), path)
      MessageStore.append(streamDataOf(lastOfDay), path) // replay
      val partDir = new java.io.File(s"$path/stream_id=s/stream_partition=0")
      def files(bucket: String) = new java.io.File(partDir, bucket).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(partDir.list().sorted.toSeq == Seq("bucket=2023-11-13", "bucket=2023-11-14"))
      assert(files("bucket=2023-11-13") == 2 && files("bucket=2023-11-14") == 1)
      assert(MessageStore.openMerged(spark, path).count() == 2)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("processBatch replay guard: same batchId appends exactly once") {
    val path = tmpDir("graft-replay")
    val ckpt = tmpDir("graft-replay-ckpt")
    val batch = streamDataOf(msg("s", 0, 1000L, 0), msg("s", 0, 2000L, 1))
    assert(graft.streaming.IngestPipeline.processBatch(
      batch, 7L, path, ckpt, nowMs = 10000L))
    // at-least-once redelivery of the same batch id is a no-op
    assert(!graft.streaming.IngestPipeline.processBatch(
      batch, 7L, path, ckpt, nowMs = 10000L))
    assert(MessageStore.open(spark, path).count() == 2)
    // a new batch id still appends
    assert(graft.streaming.IngestPipeline.processBatch(
      streamDataOf(msg("s", 0, 3000L, 2)), 8L, path, ckpt, nowMs = 10000L))
    assert(MessageStore.open(spark, path).count() == 3)
  }

  test("processBatch: an all-rejected batch commits a rows=0 marker at nowMs " +
      "and writes nothing to the store") {
    val path = tmpDir("graft-marker")
    val ckpt = tmpDir("graft-marker-ckpt")
    val dayMs = 86400000L
    val nowMs = 10 * dayMs
    // every row rejected: a future ts and a malformed payload
    assert(IngestPipeline.processBatch(streamDataOf(
      msg("s", 0, nowMs + 600000L, 0), msg("s", 0, dayMs, 1, payload = "not json")),
      0L, path, ckpt, nowMs = nowMs))
    assert(Files.readString(java.nio.file.Paths.get(s"$ckpt/graft-committed/0")) == s"""{"batch_id":0,"rows":0,"committed_ms":$nowMs,""" +
      s""""min_ts_ms":$nowMs,"max_ts_ms":$nowMs}""")
    assert(new java.io.File(path).list().isEmpty)
  }

  test("commit: a batch with one subscription runs at most five Spark jobs") {
    val path = tmpDir("graft-jobs")
    val ckpt = tmpDir("graft-jobs-ckpt")
    val reg = new graft.serve.SubscriptionRegistry()
    val sub = reg.subscribe("c", "s", 0)
    // warm the store directories so the counted batch is a steady one
    assert(IngestPipeline.processBatch(streamDataOf(msg("s", 0, 1000L, 0)), 0L,
      path, ckpt, nowMs = 10000L, onBatch = reg.dispatch))
    // more source partitions than cores, like a MemoryStream batch
    val s = spark
    import s.implicits._
    val batch = spark.createDataset(spark.sparkContext.parallelize((0 until 20).map(i =>
      msg(if (i % 2 == 0) "s" else "t", i % 3, 2000L + i, i)), 8)).toDF()
    val jobs = jobsOf(assert(IngestPipeline.processBatch(batch, 1L, path, ckpt,
      nowMs = 10000L, onBatch = reg.dispatch)))
    assert(jobs <= 5, s"$jobs jobs")
    assert(sub.queue.size() == 1 + 4) // seq 0, 6, 12, 18 of the counted batch
  }

  test("engine.last runs one query: 1 job on a never-compacted part and " +
      "1 on a compacted one") {
    val path = tmpDir("graft-last-jobs")
    val engine = new GraftEngine(spark, path)
    val dayMs = 86400000L
    val base = 1700000000000L
    // two days of 10 rows each, appended in two batches so compaction has
    // two files per bucket to merge
    val msgs = (0 until 20).map(i =>
      msg("s", 0, base + (i / 10) * dayMs + (i % 10) * 1000L, i))
    MessageStore.append(streamDataOf(msgs.filter(_.sequence_no % 2 == 0): _*), path)
    MessageStore.append(streamDataOf(msgs.filter(_.sequence_no % 2 == 1): _*), path)
    // N=5 lies inside the newest day
    def lastSeqs(): Seq[Int] = engine.last("s", 0, 5, format = "protocol").collect {
      case graft.serve.Resend.Unicast(m) => m.split(',')(4).toInt
    }.toSeq
    var served = Seq.empty[Int]
    val dirtyJobs = jobsOf { served = lastSeqs() }
    assert(served == (15 until 20))
    assert(dirtyJobs == 1, s"$dirtyJobs jobs")
    assert(engine.compact("s", 0) == 2)
    val cleanJobs = jobsOf { served = lastSeqs() }
    assert(served == (15 until 20))
    assert(cleanJobs == 1, s"$cleanJobs jobs")
  }

  test("engine.from, range and metadata each run one job on a never-compacted " +
      "two-day part with replays, and answer like openMerged") {
    val path = tmpDir("graft-window-jobs")
    val engine = new GraftEngine(spark, path)
    val dayMs = 86400000L
    val base = 1700000000000L // 2023-11-14; seq 10-19 land on 2023-11-15
    val msgs = (0 until 20).map(i =>
      msg("s", 0, base + (i / 10) * dayMs + (i % 10) * 1000L, i))
    MessageStore.append(streamDataOf(msgs.filter(_.sequence_no % 2 == 0): _*), path)
    MessageStore.append(streamDataOf(msgs.filter(_.sequence_no % 2 == 1): _*), path)
    // a later batch replays rows of both days beside a neighbouring part
    MessageStore.append(streamDataOf(Seq(4, 9, 12, 17).map(msgs(_)) :+
      msg("s", 1, base, 0): _*), path)
    val merged = MessageStore.openMerged(spark, path)
    def formatted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      graft.serve.Formats.format(df, "protocol").collect().map(_.getString(0)).toSeq
    def unicasts(frames: Iterator[graft.serve.Resend.Frame]): Seq[String] =
      frames.collect { case graft.serve.Resend.Unicast(m) => m }.toSeq
    def seqsOf(wire: Seq[String]): Seq[Int] = wire.map(_.split(',')(4).toInt)

    val fromRef = MsgRef(base + 5000L, 0)
    var fromAnswer = Seq.empty[String]
    val fromJobs = jobsOf {
      fromAnswer = unicasts(engine.from("s", 0, fromRef, format = "protocol"))
    }
    assert(fromJobs == 1, s"$fromJobs jobs")
    assert(seqsOf(fromAnswer) == (5 until 20)) // ascending across the day, once each
    assert(fromAnswer == formatted(BrokerQueries.requestFrom(merged, "s", 0, fromRef)))

    val toRef = MsgRef(base + dayMs + 4000L, 14)
    var rangeAnswer = Seq.empty[String]
    val rangeJobs = jobsOf {
      rangeAnswer = unicasts(engine.range("s", 0, fromRef, toRef, format = "protocol"))
    }
    assert(rangeJobs == 1, s"$rangeJobs jobs")
    assert(seqsOf(rangeAnswer) == (5 until 15))
    assert(rangeAnswer ==
      formatted(BrokerQueries.requestRange(merged, "s", 0, fromRef, toRef)))

    var meta = Option.empty[(Long, Long, Long, Long)]
    val metaJobs = jobsOf { meta = engine.metadata("s", 0) }
    assert(metaJobs == 1, s"$metaJobs jobs")
    val expected = BrokerQueries.metadata(
      merged.filter(col("stream_id") === "s" && col("stream_partition") === 0)).head()
    assert(meta.contains((expected.getAs[Long]("message_count"),
      expected.getAs[Long]("total_bytes"),
      base, base + dayMs + 9000L)))
    assert(meta.exists(_._1 == 20L))
  }

  test("commit delivers before the marker: a failed marker re-delivers on " +
      "replay and the store still reads each row once") {
    val path = tmpDir("graft-atleastonce")
    val ckpt = tmpDir("graft-atleastonce-ckpt")
    val reg = new graft.serve.SubscriptionRegistry()
    val sub = reg.subscribe("c", "s", 0)
    val batch = streamDataOf(msg("s", 0, 1000L, 0), msg("s", 0, 2000L, 1))
    // the marker directory's path is taken by a file: the marker write
    // fails after fan-out and the store write have run
    val blocker = new java.io.File(s"$ckpt/graft-committed")
    assert(blocker.createNewFile())
    intercept[java.io.IOException] {
      IngestPipeline.processBatch(batch, 0L, path, ckpt, nowMs = 10000L,
        onBatch = reg.dispatch)
    }
    assert(sub.queue.size() == 2)
    assert(MessageStore.open(spark, path).count() == 2)
    // the replay finds no marker: it delivers and appends again
    assert(blocker.delete())
    assert(IngestPipeline.processBatch(batch, 0L, path, ckpt, nowMs = 10000L,
      onBatch = reg.dispatch))
    assert(sub.queue.size() == 4)
    assert(MessageStore.open(spark, path).count() == 4)
    assert(keysOf(MessageStore.openMerged(spark, path)).sorted ==
      Seq((1000L, 0, "publisher", "1"), (2000L, 1, "publisher", "1")))
    // committed now: a further replay delivers nothing
    assert(!IngestPipeline.processBatch(batch, 0L, path, ckpt, nowMs = 10000L,
      onBatch = reg.dispatch))
    assert(sub.queue.size() == 4)
  }

  test("compactStreamPart merges per-batch small files, preserving rows") {
    val path = tmpDir("graft-compact")
    // three appends -> three files in the same day bucket
    (0 until 3).foreach { i =>
      MessageStore.append(streamDataOf(msg("s", 0, 1700000000000L + i * 1000, i)), path)
    }
    val bucketDir = new java.io.File(
      s"$path/stream_id=s/stream_partition=0/bucket=2023-11-14")
    def files = bucketDir.listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(files == 3)
    val before = keysOf(MessageStore.open(spark, path)).sorted
    assert(MessageStore.compactStreamPart(spark, path, "s", 0) == 1)
    assert(files == 1)
    assert(keysOf(MessageStore.open(spark, path)).sorted == before)
    // idempotent: nothing left to compact
    assert(MessageStore.compactStreamPart(spark, path, "s", 0) == 0)
  }

  test("streaming ingest auto-compaction cadence keeps per-bucket files bounded") {
    val s = spark
    import s.implicits._
    val path = tmpDir("graft-ingest-ac")
    val ckpt = tmpDir("graft-ingest-ac-ckpt")
    val now = System.currentTimeMillis()
    val input = MemoryStream[StreamMessage](s)
    // default threshold 4, sweep after every 2nd committed batch
    val q = IngestPipeline.start(input.toDF(), path, ckpt, autoCompactEvery = 2)
    try {
      // four single-row batches into the same day bucket
      (0 until 4).foreach { i =>
        input.addData(msg("s", 0, now - 5000 + i, i))
        q.processAllAvailable()
      }
      val bucketDir = new java.io.File(s"$path/stream_id=s/stream_partition=0")
        .listFiles().filter(_.getName.startsWith("bucket=")).head
      val files = bucketDir.listFiles().count(_.getName.endsWith(".parquet"))
      // batch 2's sweep saw 2 files (under the threshold); batch 4's saw 4
      // and compacted them to 1; without the policy there'd be 4
      assert(files == 1, s"expected compacted bucket, found $files files")
      assert(MessageStore.open(spark, path).count() == 4)
    } finally q.stop()
  }

  test("streaming ingest: validates, dedups, persists; fan-out hook fires") {
    val s = spark
    import s.implicits._
    val path = tmpDir("graft-ingest")
    val ckpt = tmpDir("graft-ckpt")
    val now = System.currentTimeMillis()

    val input = MemoryStream[StreamMessage](s)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = IngestPipeline.start(
      input.toDF(), path, ckpt,
      assigned = () => Some(Set("s::0")),
      onBatch = (batch, _) => seen.addAndGet(batch.count()))

    input.addData(
      msg("s", 0, now - 1000, 0),                         // accepted
      msg("s", 0, now - 1000, 0),                         // duplicate -> dropped
      msg("s", 0, now + 600000L, 1),                      // future -> rejected
      msg("s", 0, now - 1000, 2, payload = "not json"),   // invalid -> rejected
      msg("other", 3, now - 1000, 0))                     // unassigned -> dropped
    q.processAllAvailable()
    q.stop()

    val stored = MessageStore.open(spark, path).collect()
    assert(stored.length == 1)
    assert(stored.head.getAs[String]("stream_id") == "s")
    assert(stored.head.getAs[Int]("sequence_no") == 0)
    assert(seen.get() == 1)
  }

  test("ingest fan-out: drift + vocab monitors consume the validated stream " +
      "the store persists; monitors checkpoint-restart mid-stream") {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.{IngestMonitors, StreamDrift, StreamVocabGrowth}
    val s = spark
    import s.implicits._
    val path = tmpDir("graft-montap")
    val ckpt = tmpDir("graft-montap-ckpt")
    val (cpD, outD) = (tmpDir("graft-montap-dcp"), tmpDir("graft-montap-dout"))
    val (cpV, outV) = (tmpDir("graft-montap-vcp"), tmpDir("graft-montap-vout"))
    // real-clock base so the persist path's own batch clock agrees with
    // the monitors' pinned literal about what counts as "future"
    val nowMs = System.currentTimeMillis()
    val baseMin = nowMs / 60000L - 10L
    def tsAt(k: Int): Long = (baseMin + k) * 60000L + 500L
    val assigned = Set("s::0")

    val input = MemoryStream[StreamMessage](s)
    // one source, three sinks: the persist query plus both monitors run
    // off the SAME MemoryStream, each from its own checkpoint
    val persist = IngestPipeline.start(input.toDF(), path, ckpt,
      () => Some(assigned))
    def prepared() =
      IngestMonitors.prepared(input.toDF(), lit(ldt(nowMs)), Some(assigned))
    def startDrift() = StreamDrift.detect(
        IngestMonitors.driftEvents(prepared()),
        windowMinutes = 1L, bandWidth = 4000000L)
      .writeStream.format("parquet").option("path", outD)
      .option("checkpointLocation", cpD)
      .outputMode(OutputMode.Append()).start()
    def startVocab() = StreamVocabGrowth.detect(
        IngestMonitors.vocabEvents(prepared()),
        windowMinutes = 1L)
      .writeStream.format("parquet").option("path", outV)
      .option("checkpointLocation", cpV)
      .outputMode(OutputMode.Append()).start()
    var (qd, qv) = (startDrift(), startVocab())
    def processAll(): Unit =
      Seq(persist, qd, qv).foreach(_.processAllAvailable())
    try {
      // window base+0: two 9-char accepted payloads, plus three rows the
      // validate/assign chain must hide from store AND monitors alike —
      // malformed JSON, future timestamp, unassigned part
      input.addData(
        msg("s", 0, tsAt(0), 0, payload = """{"a":"x"}"""),
        msg("s", 0, tsAt(0), 1, payload = """{"a":"x"}"""),
        msg("s", 0, tsAt(0), 2, payload = "oops"),
        msg("s", 0, nowMs + 600000L, 3, payload = """{"a":"x"}"""),
        msg("u", 0, tsAt(0), 4, payload = """{"a":"x"}"""))
      processAll()
      // window base+1: one 13-char novel payload + one 9-char repeat of
      // window 0's token (closes window 0: drift reference, vocab report)
      input.addData(
        msg("s", 0, tsAt(1), 5, payload = """{"a":"xyzzy"}"""),
        msg("s", 0, tsAt(1), 6, payload = """{"a":"x"}"""))
      processAll()
      // restart both monitors from their checkpoints mid-stream
      qd.stop(); qv.stop()
      qd = startDrift(); qv = startVocab()
      // window base+2 opener closes window base+1 against the RECOVERED
      // drift reference / vocab bitmap
      input.addData(msg("s", 0, tsAt(2), 7, payload = """{"c":1}"""))
      processAll()

      // store persisted exactly the accepted rows (seq 0,1,5,6,7)
      val stored = MessageStore.open(spark, path)
        .select(col("sequence_no")).collect().map(_.getInt(0)).toSet
      assert(stored == Set(0, 1, 5, 6, 7), stored.toString)

      // drift: ref = {band 2: 2 docs of len 9}; window base+1 = {band 3:
      // len 13, band 2: len 9} -> band2 term (1·2−2·2)·(bits3−bits5) = 2,
      // band3 term (1·2−0)·(bits3−bits1) = 2 -> psi = 4/(2·2) = 1.0
      val drift = spark.read.parquet(outD).collect()
        .map(r => (r.getAs[String]("part"), r.getAs[Long]("window"),
          r.getAs[Long]("n_ref"), r.getAs[Long]("n"), r.getAs[Double]("psi")))
      assert(drift.toSeq == Seq(("s::0", baseMin + 1L, 2L, 2L, 1.0)),
        drift.mkString(","))

      // vocab: window 0 = 2 tokens 1 new type; window 1 = 2 tokens but
      // only xyzzy is new — the repeated token proves the bitmap (and the
      // monitor wiring) survived the checkpoint restart
      val vocab = spark.read.parquet(outV).collect()
        .map(r => (r.getAs[Long]("window"), r.getAs[Long]("tokens"),
          r.getAs[Long]("new_types"), r.getAs[Long]("bits_set")))
        .sortBy(_._1)
      assert(vocab.toSeq == Seq(
        (baseMin + 0L, 2L, 1L, 1L), (baseMin + 1L, 2L, 1L, 2L)),
        vocab.mkString(","))
    } finally { persist.stop(); qd.stop(); qv.stop() }
  }
}
