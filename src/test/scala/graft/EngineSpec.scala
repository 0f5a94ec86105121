package graft

import java.nio.file.Files

import graft.operators.BrokerQueries.MsgRef
import graft.serve.Resend

/** End-to-end facade spec: publish → query → subscribe → expire through
  * one GraftEngine over one store. */
class EngineSpec extends SparkSpec {

  test("publish/query/metadata/subscribe/retention lifecycle") {
    val engine = new GraftEngine(spark,
      Files.createTempDirectory("graft-engine").toString)
    val now = System.currentTimeMillis()

    // live subscriber attached before publish sees the batch
    val sub = engine.subscribe("c1", "s", 0)

    // publish: 3 valid rows for s::0, one future-reject, one duplicate
    val accepted = engine.publish(streamDataOf(
      msg("s", 0, 1000L, 0, payload = "{\"a\":1}"),
      msg("s", 0, 2000L, 0), msg("s", 0, 3000L, 0),
      msg("s", 0, 2000L, 0),                 // duplicate
      msg("s", 0, now + 600000L, 9)), now)   // future
    assert(accepted == 3)
    assert(sub.queue.size() == 3)

    // resend-last envelope
    val frames = engine.last("s", 0, 2).toSeq
    assert(frames.map(_.kind) == Seq("resending", "unicast", "unicast", "resent"))

    // protocol format serves the serialized array shape
    val proto = engine.from("s", 0, MsgRef(2000L, 0), format = "protocol").toSeq
    assert(proto.collect { case Resend.Unicast(m) => m }.forall(_.startsWith("[31,[")))

    // metadata endpoint
    val Some((count, bytes, firstTs, lastTs)) = engine.metadata("s", 0)
    assert(count == 3 && bytes > 0 && firstTs == 1000L && lastTs == 3000L)
    assert(engine.metadata("nope", 0).isEmpty)

    // a second publish batch is deduplicated against itself, appended
    assert(engine.publish(streamDataOf(
      msg("s", 0, 4000L, 0), msg("s", 0, 4000L, 0)), now) == 1)
    assert(engine.metadata("s", 0).get._1 == 4)

    // retention at 0 days drops everything (all rows are in the past)
    val dropped = engine.deleteExpired(retentionDays = 0, nowMs = now)
    assert(dropped.nonEmpty)
    assert(engine.last("s", 0, 10).toSeq == Seq(Resend.NoResend()))
  }

  test("from/range/metadata answer from their own stream-part in a two-stream store") {
    val engine = new GraftEngine(spark,
      Files.createTempDirectory("graft-engine-parts").toString)
    val dayMs = 86400000L
    val now = 10 * dayMs
    // streams a and b, three day buckets each; b carries larger payloads
    assert(engine.publish(streamDataOf((0 until 3).flatMap { d =>
      Seq(msg("a", 0, d * dayMs + 1000L, d),
        msg("b", 0, d * dayMs + 1000L, d, payload = "{\"big\":true}"))
    }: _*), now) == 6)
    def seqs(frames: Iterator[Resend.Frame]) =
      frames.collect { case Resend.Unicast(m) => m }.size
    assert(seqs(engine.from("a", 0, MsgRef(dayMs, 0))) == 2)
    assert(seqs(engine.range("a", 0, MsgRef(dayMs, 0), MsgRef(dayMs + 1000L, 9))) == 1)
    assert(engine.metadata("a", 0) == Some((3L, 6L, 1000L, 2 * dayMs + 1000L)))
    assert(engine.metadata("b", 0).get._2 == 3L * "{\"big\":true}".length)
    assert(engine.metadata("a", 1).isEmpty)
  }

  test("after retention empties the store, reads answer empty instead of throwing") {
    val engine = new GraftEngine(spark,
      Files.createTempDirectory("graft-engine-emptied").toString)
    val now = 10000L
    assert(engine.publish(streamDataOf(msg("s", 0, 1000L, 0)), now) == 1)
    assert(engine.deleteExpired(retentionDays = 0, nowMs = now).nonEmpty)
    assert(engine.metadata("s", 0).isEmpty)
    assert(engine.from("s", 0, MsgRef(0L, 0)).toSeq == Seq(Resend.NoResend()))
    assert(engine.range("s", 0, MsgRef(0L, 0), MsgRef(now, 0)).toSeq ==
      Seq(Resend.NoResend()))
    assert(engine.last("s", 0, 10).toSeq == Seq(Resend.NoResend()))
    assert(engine.table.count() == 0)
    // emptiness comes from the listing, not from a swallowed read error: a
    // bucket holding an unreadable file fails the read loudly
    val bucket = new java.io.File(engine.storePath,
      "stream_id=s/stream_partition=0/bucket=1970-01-01")
    assert(bucket.mkdirs())
    Files.write(new java.io.File(bucket, "part-0.parquet").toPath,
      "junk".getBytes("UTF-8"))
    intercept[Exception](engine.metadata("s", 0))
    intercept[Exception](engine.from("s", 0, MsgRef(0L, 0)).toSeq)
  }

  test("per-stream retention: each stream expires against its own storageDays") {
    val engine = new GraftEngine(spark,
      Files.createTempDirectory("graft-perstream").toString)
    val dayMs = 86400000L
    val now = 1700000000000L
    // "short" stream: data 5 days old; "long" stream: data 5 and 40 days old
    assert(engine.publish(streamDataOf(
      msg("short", 0, now - 5 * dayMs, 0),
      msg("long", 0, now - 5 * dayMs, 0),
      msg("long", 0, now - 40 * dayMs, 1)), now) == 3)
    // short expires at 2 days, long at 30; default 365 untouched
    val dropped = engine.deleteExpired(
      Map("short" -> 2, "long" -> 30), defaultDays = 365, nowMs = now)
    assert(dropped.size == 2)
    assert(dropped.exists(_.contains("stream_id=short")))
    assert(dropped.exists(p => p.contains("stream_id=long")))
    val left = engine.table.select("stream_id", "sequence_no").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(left == Set(("long", 0))) // only long's recent bucket survives
  }

  test("retention drops the expired bucket when every stream id looks numeric") {
    val dayMs = 86400000L
    // "123" and "1e5" would come back as INT / DECIMAL under partition type
    // inference; the store's own schema keeps them strings
    for (id <- Seq("123", "1e5")) {
      val path = Files.createTempDirectory("graft-numeric-id").toString
      val engine = new GraftEngine(spark, path)
      assert(engine.publish(streamDataOf(
        msg(id, 0, dayMs, 0), msg(id, 0, 5 * dayMs, 1)), 10 * dayMs) == 2)
      assert(engine.deleteExpired(retentionDays = 7, nowMs = 10 * dayMs) ==
        Seq(s"$path/stream_id=$id/stream_partition=0/bucket=1970-01-02"))
      assert(engine.metadata(id, 0).map(_._1) == Some(1L))
    }
  }

  test("publish and streaming ingest share one commit: same rows, count and stats") {
    val dayMs = 86400000L
    val now = 10 * dayMs
    // two streams over two days, one intra-batch duplicate, one rejected
    val batch = streamDataOf(
      msg("a", 0, dayMs + 5000L, 0), msg("a", 0, 2 * dayMs + 1000L, 1),
      msg("b", 1, dayMs + 1000L, 0), msg("b", 1, 2 * dayMs + 7000L, 1),
      msg("b", 1, 2 * dayMs + 7000L, 1), msg("b", 1, now + 600000L, 2))
    val engine = new GraftEngine(spark,
      Files.createTempDirectory("graft-commit-pub").toString)
    assert(engine.publish(batch, now) == 4L)
    val ingested = Files.createTempDirectory("graft-commit-ingest").toString
    val ckpt = Files.createTempDirectory("graft-commit-ckpt").toString
    assert(graft.streaming.IngestPipeline.processBatch(batch, 0L, ingested, ckpt,
      nowMs = now))
    val stats = graft.streaming.IngestStats.batchLog(spark, ckpt).collect().head
    assert((stats.getAs[Long]("rows"), stats.getAs[Long]("min_ts_ms"),
      stats.getAs[Long]("max_ts_ms")) == ((4L, dayMs + 1000L, 2 * dayMs + 7000L)))
    assert(keysOf(engine.table).sorted ==
      keysOf(graft.store.MessageStore.openMerged(spark, ingested)).sorted)
  }

  test("publish delivers the same rows, in the same formats, as streaming ingest") {
    val now = 10000L
    val batch = streamDataOf(
      msg("a", 0, 1000L, 0), msg("a", 0, 2000L, 1), msg("a", 0, 2000L, 1),
      msg("a", 1, 1000L, 0), msg("b", 2, 3000L, 0, payload = "not json"),
      msg("b", 2, 4000L, 1))
    def subscribe(reg: graft.serve.SubscriptionRegistry) = Seq(
      reg.subscribe("x", "a", 0), reg.subscribe("y", "b", 2, format = "protocol"))
    def drained(subs: Seq[graft.serve.SubscriptionRegistry#Subscription]) =
      subs.map(s => Iterator.continually(s.queue.poll()).takeWhile(_ != null).toSet)
    val engine = new GraftEngine(spark,
      Files.createTempDirectory("graft-deliver-pub").toString)
    val published = subscribe(engine.subscriptions)
    assert(engine.publish(batch, now) == 4L)
    val reg = new graft.serve.SubscriptionRegistry()
    val ingested = subscribe(reg)
    assert(graft.streaming.IngestPipeline.processBatch(batch, 0L,
      Files.createTempDirectory("graft-deliver-ingest").toString,
      Files.createTempDirectory("graft-deliver-ckpt").toString,
      nowMs = now, onBatch = reg.dispatch))
    val fromPublish = drained(published)
    assert(fromPublish.map(_.size) == Seq(2, 1))
    assert(fromPublish(1).head.startsWith("[31,[\"b\",2,4000,1,"))
    assert(drained(ingested) == fromPublish)
  }

  /** One message whose `field` is null, published alone: the ingest gate
    * must reject it, so nothing is stored or served. */
  private def assertNullRejected(field: String, payload: String = "{}") = {
    import org.apache.spark.sql.functions.lit
    val engine = new GraftEngine(spark,
      Files.createTempDirectory(s"graft-null-$field").toString)
    val m = streamDataOf(msg("s", 0, 1000L, 0, payload = payload))
    val nulled = m.withColumn(field, lit(null).cast(m.schema(field).dataType))
    assert(engine.publish(nulled, 10000L) == 0L, field)
    assert(engine.table.count() == 0, field)
    assert(engine.last("s", 0, 10).toSeq == Seq(Resend.NoResend()), field)
  }

  test("ingest gate rejects a message with a null ts") {
    assertNullRejected("ts")
  }

  test("ingest gate rejects a null encryption_type with a non-JSON payload") {
    assertNullRejected("encryption_type", payload = "not json")
  }

  test("ingest gate rejects a null in any other required envelope field") {
    Seq("stream_id", "stream_partition", "sequence_no", "publisher_id",
      "msg_chain_id", "signature_type").foreach(assertNullRejected(_))
  }

  test("ttlSweep expires by age with the reference's 3-day default") {
    val engine = new GraftEngine(spark,
      Files.createTempDirectory("graft-ttlsweep").toString)
    val dayMs = 86400000L
    val now = 1700000000000L
    assert(engine.publish(streamDataOf(
      msg("s", 0, now - 10 * dayMs, 0),
      msg("s", 0, now - 1000L, 1)), now) == 2)
    val dropped = engine.ttlSweep(nowMs = now) // 259200 s = 3 days
    assert(dropped.size == 1)
    assert(engine.metadata("s", 0).get._1 == 1)
  }

  test("streaming lifecycle: startIngest persists, fans out live, serves resend") {
    val s = spark
    import s.implicits._
    val engine = new GraftEngine(spark,
      Files.createTempDirectory("graft-stream-life").toString)
    val ckpt = Files.createTempDirectory("graft-stream-life-ckpt").toString
    val now = System.currentTimeMillis()
    val sub = engine.subscribe("live-1", "s", 0, format = "protocol")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.model.StreamMessage](s)
    val q = engine.startIngest(input.toDF(), ckpt, triggerMs = 100L)
    try {
      input.addData(msg("s", 0, now - 2000, 0), msg("s", 0, now - 1000, 1))
      q.processAllAvailable()
      // live fan-out delivered in the subscription's format
      assert(sub.queue.size() == 2)
      assert(sub.queue.peek().startsWith("[31,[\"s\""))
      // persisted and servable through the resend path
      val frames = engine.last("s", 0, 10).toSeq
      assert(frames.map(_.kind) == Seq("resending", "unicast", "unicast", "resent"))
      // batch statistics recorded for the committed micro-batch
      val stats = graft.streaming.IngestStats.summary(spark, ckpt).collect().head
      assert(stats.getAs[Long]("total_rows") == 2L)
    } finally { q.stop(); engine.close() }
  }

  test("replay + compact + read: serving semantics unchanged, clean reads window-free") {
    val engine = new GraftEngine(spark,
      Files.createTempDirectory("graft-clean-engine").toString)
    val now = 10000L
    assert(engine.publish(streamDataOf(
      msg("s", 0, 1000L, 0), msg("s", 0, 2000L, 1)), now) == 2)
    // a later batch replays seq 1 and adds seq 2 — upsert view hides the replay
    assert(engine.publish(streamDataOf(
      msg("s", 0, 2000L, 1), msg("s", 0, 3000L, 2)), now) == 2)
    def servedSeqs = engine.last("s", 0, 10)
      .collect { case graft.serve.Resend.Unicast(_) => () }.size
    assert(servedSeqs == 3)
    assert(engine.metadata("s", 0).get._1 == 3)
    // compaction purges the replay and stamps the bucket clean: the same
    // reads now plan without the merge window
    assert(engine.compact("s", 0) == 1)
    assert(servedSeqs == 3)
    assert(engine.metadata("s", 0).get._1 == 3)
    val plan = engine.table.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Exchange"), plan)
    // range read through the engine facade stays identical post-compaction
    val ranged = engine.range("s", 0, MsgRef(1000L, 0), MsgRef(3000L, 9))
      .collect { case graft.serve.Resend.Unicast(m) => m }.toSeq
    assert(ranged.size == 3)
  }

  test("autoCompact: repeated small publishes trigger compaction at the file threshold") {
    val path = Files.createTempDirectory("graft-autocompact").toString
    val engine = new GraftEngine(spark, path)
    val now = 10000L
    val dayMs = 86400000L
    // hot bucket: 4 single-row publishes -> 4 files; cold bucket: 2 files
    (0 until 4).foreach { i =>
      assert(engine.publish(streamDataOf(msg("s", 0, 1000L + i, i)), now) == 1)
    }
    (0 until 2).foreach { i =>
      assert(engine.publish(streamDataOf(msg("s", 0, dayMs + 1000L + i, i)), now + dayMs) == 1)
    }
    def files(bucket: String) = new java.io.File(
      s"$path/stream_id=s/stream_partition=0/bucket=$bucket")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files("1970-01-01") == 4 && files("1970-01-02") == 2)
    // threshold 4: only the hot bucket compacts; the cold one is untouched
    assert(engine.autoCompact(maxFilesPerBucket = 4) == 1)
    assert(files("1970-01-01") == 1 && files("1970-01-02") == 2)
    assert(engine.metadata("s", 0).get._1 == 6)
    // idempotent: nothing above threshold anymore
    assert(engine.autoCompact(maxFilesPerBucket = 4) == 0)
    // lower threshold sweeps the rest; rows preserved throughout
    assert(engine.autoCompact(maxFilesPerBucket = 2) == 1)
    assert(files("1970-01-02") == 1)
    assert(engine.metadata("s", 0).get._1 == 6)
  }

  test("envelope (prevRef/signature/encryption) round-trips through the store") {
    val engine = new GraftEngine(spark,
      Files.createTempDirectory("graft-envelope").toString)
    val now = 10000L
    val signed = msg("e", 1, 5000L, 3, "p", "c", payload = "ciphertext")
      .copy(prev_ts = Some(ldt(4000L)), prev_sequence_no = Some(2),
        encryption_type = 2, signature_type = 2, signature = Some("0xfeed"))
    assert(engine.publish(streamDataOf(signed, msg("e", 1, 1000L, 0)), now) == 2)
    val served = engine.last("e", 1, 10, format = "protocol")
      .collect { case Resend.Unicast(m) => m }.toSeq
    assert(served == Seq(
      """[31,["e",1,1000,0,"publisher","1"],null,27,0,"{}",0,null]""",
      """[31,["e",1,5000,3,"p","c"],[4000,2],27,2,"ciphertext",2,"0xfeed"]"""))
  }
}
