package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.GraftEngine
import graft.model.StreamMessage

/** live_publish: an open-loop, single-threaded generator publishes into a
  * running `GraftEngine.startIngest` over a MemoryStream, and one drain
  * thread serves subscriptions covering a tenth of the traffic. Delivery
  * latency is timed from each message's due time, so a stalled engine
  * shows as lateness of every later message. No resend reads or analytics
  * operators run: the per-micro-batch fixed cost sets the latency here. */
object LivePublish {
  val RatePerS = 5000
  val TickMs = 50L
  val PerTick: Int = (RatePerS * TickMs / 1000).toInt
  /** Longer than one micro-batch takes at this rate, so batches start on a
    * fixed cadence and each holds the same traffic. With the reference's
    * 1 s close timeout (`BatchManager.ts:46`) batches run back to back
    * here, each one's size set by the last one's length, and latency
    * swings with that feedback instead of tracking the per-batch cost. */
  val TriggerMs = 3000L
  val InvalidEvery = 100
  val SubscribedParts = 4
  /** Untimed warm-up of generated traffic before the timed window. */
  val WarmupS = 3
  val SetupReps = 3
  /** A generator later than this fell behind its schedule: run invalid. */
  val LateLimitMs: Long = 2 * TickMs

  private implicit val enc: org.apache.spark.sql.Encoder[StreamMessage] =
    Encoders.product[StreamMessage]

  def message(m: Gen.LiveMsg, startMs: Long): StreamMessage = {
    val (stream, part) = Gen.StaticParts(m.part)
    val due = startMs + m.dueOffsetMs
    // ts is the due time, as a live publish stamps Date.now(); the future
    // kind lies 10 minutes ahead, past the 5-minute publish tolerance
    StreamMessage(stream, part, Gen.ntz(if (m.kind == Gen.FutureTs) due + 600000L else due),
      m.seq, "pub-0", "0",
      if (m.kind == Gen.NotJson) s"not json ${m.k}" else s"""{"k": ${m.k}}""")
  }

  /** `"sequenceNumber":N` of an object-format message. */
  def seqOf(msg: String): Int = {
    val i = msg.indexOf("\"sequenceNumber\":") + 17
    var j = i + 1
    while (j < msg.length && msg.charAt(j).isDigit) j += 1
    msg.substring(i, j).toInt
  }

  /** One commit marker the ingest writes per micro-batch; `atMs` is its
    * file time, i.e. when the batch's rows were stored. */
  final case class Commit(batchId: Long, rows: Long, minTsMs: Long, maxTsMs: Long, atMs: Long)

  def commits(ckpt: Path): Seq[Commit] = {
    val dir = ckpt.resolve("graft-committed")
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .map { f =>
        val txt = Files.readString(f)
        def field(k: String) = s""""$k":(-?\\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
        Commit(field("batch_id"), field("rows"), field("min_ts_ms"), field("max_ts_ms"),
          Files.getLastModifiedTime(f).toMillis)
      }.sortBy(_.batchId)
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, trace: Option[Trace],
      dir: Path, r: Result): Unit = {
    def start(engine: GraftEngine, input: MemoryStream[StreamMessage], ckpt: Path) =
      engine.startIngest(input.toDF(), ckpt.toString, TriggerMs)

    // set-up: engine on a fresh store, ingest started, first batch stored
    val first = Gen.liveSchedule(seed + 1, 1, PerTick, TickMs, InvalidEvery)(0)
    val (_, setupS) = Main.setUp(SetupReps) { i =>
      val engine = new GraftEngine(spark, dir.resolve(s"setup-$i/store").toString)
      val input = MemoryStream[StreamMessage](spark)
      val now = System.currentTimeMillis()
      input.addData(first.map(message(_, now)).toSeq)
      val q = start(engine, input, dir.resolve(s"setup-$i/ckpt"))
      q.processAllAvailable()
      q.stop()
      engine.close()
    }

    Main.phase("set up")
    val store = dir.resolve("store")
    val ckpt = dir.resolve("ckpt")
    val engine = new GraftEngine(spark, store.toString)
    val subParts = Gen.subscribedParts(seed, SubscribedParts)
    val subs = subParts.map { p =>
      val (s, n) = Gen.StaticParts(p)
      engine.subscribe(s"sub-$p", s, n)
    }
    val warmTicks = (WarmupS * 1000 / TickMs).toInt
    val timedTicks = (seconds * 1000L / TickMs).toInt
    val schedule = Gen.liveSchedule(seed, warmTicks + timedTicks, PerTick, TickMs, InvalidEvery)
    val input = MemoryStream[StreamMessage](spark)
    val q = trace.fold(start(engine, input, ckpt))(_.span("ingest.start", "live")(start(engine, input, ckpt)))
    // a query's first batches carry one-off costs (first touch of every
    // stream directory, first delivery to each subscription): one message
    // per stream-part, stored and delivered before the generator starts,
    // keeps their backlog out of the timed window
    val primers = Gen.StaticParts.indices.map(p => Gen.LiveMsg(-1 - p, p, -1000L, Gen.Valid, 0))
    input.addData(primers.map(message(_, System.currentTimeMillis() + 1000)))
    q.processAllAvailable()

    val startMs = System.currentTimeMillis() + 500
    val windowStart = startMs + warmTicks * TickMs
    val windowEnd = windowStart + timedTicks * TickMs
    val lateMs = new Array[Long](schedule.length)
    val generator = new Thread(() => {
      schedule.indices.foreach { t =>
        val rows = schedule(t).map(message(_, startMs)).toSeq
        val due = startMs + t * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        input.addData(rows)
        lateMs(t) = math.max(0L, System.currentTimeMillis() - due)
      }
    }, "perfbench-generator")

    val delivered = ArrayBuffer[(Int, Long)]()
    @volatile var draining = true
    @volatile var drainError: Option[Throwable] = None
    val drain = new Thread(() => try {
      var more = true
      while (draining || more) {
        more = false
        subs.foreach { s =>
          var m = s.queue.poll()
          while (m != null) {
            delivered += ((seqOf(m), System.currentTimeMillis()))
            more = true
            m = s.queue.poll()
          }
        }
        if (!more) Thread.sleep(1)
      }
    } catch { case e: Throwable => drainError = Some(e) }, "perfbench-drain")

    drain.start()
    generator.start()
    generator.join()
    Main.phase("generated")
    q.processAllAvailable()
    draining = false
    drain.join()
    q.stop()
    engine.close()
    drainError.foreach(e => throw e)

    Main.phase("drained")
    // ---- checks ----
    val all = primers ++ schedule.flatten.toIndexedSeq
    r.attempted = all.length.toLong
    val valid = all.filter(_.kind == Gen.Valid)
    val subSet = subParts.toSet
    val expected = valid.filter(m => subSet(m.part)).map(_.seq).toSet
    val bad = Checks.deliveries(expected, delivered.map(_._1))
    r.fail("deliveries", bad.size.toLong, bad.toSeq.sorted.take(3).map(s => s"message $s"))
    val stored = spark.read.parquet(store.toString)
      .select(col("stream_id"), col("stream_partition"), col("sequence_no"))
      .collect().map(row => (s"${row.getString(0)}/${row.getInt(1)}", row.getInt(2)))
    def key(part: Int) = { val (s, p) = Gen.StaticParts(part); s"$s/$p" }
    val countProblems = Checks.storedCounts(
      valid.groupBy(m => key(m.part)).map { case (k, ms) => k -> ms.length.toLong },
      stored.groupBy(_._1).map { case (k, xs) => k -> xs.length.toLong })
    val validSeqs = valid.map(_.seq).toSet
    val strayStored = stored.count(x => !validSeqs(x._2)).toLong
    val lost = validSeqs.size - stored.map(_._2).distinct.count(validSeqs).toLong
    r.fail("stored", strayStored + lost, countProblems)

    // ---- end-to-end ----
    val dueOf = all.map(m => m.seq -> (startMs + m.dueOffsetMs)).toMap
    val lat = delivered.toSeq.collect {
      case (s, at) if dueOf(s) >= windowStart && dueOf(s) < windowEnd => (at - dueOf(s)).toDouble
    }
    val cs = commits(ckpt)
    val inWindow = cs.filter(c => c.atMs >= windowStart && c.atMs <= windowEnd)
    val rowsPerS =
      if (inWindow.size < 2) 0.0
      else inWindow.tail.map(_.rows).sum * 1000.0 / (inWindow.last.atMs - inWindow.head.atMs)
    // publish → stored: the commit time of the batch holding each valid
    // message (a tick's rows share one ts and are added in one call, so
    // they land in one batch)
    val storeLat = valid.filter { m =>
      val due = startMs + m.dueOffsetMs
      due >= windowStart && due < windowEnd
    }.flatMap { m =>
      val due = startMs + m.dueOffsetMs
      cs.find(c => due >= c.minTsMs && due <= c.maxTsMs).map(c => (c.atMs - due).toDouble)
    }
    val late = lateMs.max
    if (late > LateLimitMs) r.notes += s"invalid run: generator fell $late ms behind schedule"

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "latency_ms" -> (Stats.median(lat), "ms"),
      "per_s" -> (rowsPerS, "1/s"),
      "second_p50_ms" -> (Stats.median(storeLat), "ms"))
    r.report ++= Seq(
      "setup_s" -> (setupS, "s"),
      "deliver_p50_ms" -> (Stats.median(lat), "ms"),
      "deliver_p90_ms" -> (Stats.pct(lat, 0.9), "ms"),
      "deliveries_timed" -> (lat.size.toDouble, "count"),
      "ingest_rows_per_s" -> (rowsPerS, "rows/s"),
      "stored_p50_ms" -> (Stats.median(storeLat), "ms"),
      "error_rate" -> (r.failed.toDouble / r.attempted, "ratio"),
      "gen.late_max_ms" -> (late.toDouble, "ms"))

    trace match {
      case None => r.metrics ++= e2e
      case Some(t) =>
        val layer = r.metrics
        e2e.foreach { case (k, v) => layer(s"traced.$k") = v }
        val batches = t.progresses.filter(p => p.startMs >= windowStart && p.startMs < windowEnd && p.rows > 0)
        val jobsOf = t.allJobs.groupBy(_.batch)
        // batch ids restart with every query: keep the jobs inside the batch
        def perBatch(f: (Trace.Progress, Seq[Trace.Job]) => Double): Double =
          Stats.median(batches.map(p => f(p, jobsOf.getOrElse(p.batchId, Nil)
            .filter(j => j.startMs >= p.startMs && j.startMs <= p.startMs + p.triggerMs))))
        def span(js: Seq[Trace.Job], p: Trace.Progress) =
          Trace.covered(js.map(j => (j.startMs, j.endMs)), p.startMs, p.startMs + p.triggerMs).toDouble
        layer("ingest.trigger_ms") = (perBatch((p, _) => p.triggerMs.toDouble), "ms")
        layer("ingest.source_ms") = (perBatch((p, _) => (p.triggerMs - p.addBatchMs).toDouble), "ms")
        layer("ingest.add_batch_ms") = (perBatch((p, _) => p.addBatchMs.toDouble), "ms")
        layer("ingest.driver_ms") = (perBatch((p, js) => math.max(0.0, p.addBatchMs - span(js, p))), "ms")
        layer("ingest.jobs") = (perBatch((_, js) => js.size.toDouble), "count")
        layer("ingest.tasks") = (perBatch((_, js) => js.map(_.tasks).sum.toDouble), "count")
        layer("ingest.task_cpu_ms") = (perBatch((_, js) => js.map(_.cpuNs).sum / 1e6), "ms")
        layer("ingest.gc_ms") = (perBatch((_, js) => js.map(_.gcMs).sum.toDouble), "ms")
        val invalid = all.count(_.kind != Gen.Valid)
        layer("ingest.rejected_ratio") = ((invalid - strayStored).toDouble / invalid, "ratio")
        layer("gen.late_max_ms") = (late.toDouble, "ms")
        layer("store.append_ms") = (perBatch((p, js) => span(js.filter(_.module == "MessageStore"), p)), "ms")
        val files = Files.walk(store).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        layer("store.files_per_batch") = (files.size.toDouble / math.max(1, cs.size), "count")
        layer("store.bytes_per_row") = (files.map(Files.size).sum.toDouble / math.max(1, stored.length), "bytes")
        layer("fanout.dispatch_ms") = (perBatch((p, js) => span(js.filter(_.module == "Resend"), p)), "ms")
        val once = delivered.groupBy(_._1).count { case (s, xs) => xs.size == 1 && expected(s) }
        layer("fanout.delivered_ratio") = (once.toDouble / math.max(1, expected.size), "ratio")
    }
  }
}
