package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GraftEngine
import graft.model.StreamMessage
import graft.serve.{QueryApi, Resend}
import graft.sources.Tables
import perfbench.Gen.Key

/** resend_mix: two closed-loop reader clients issue a seeded mix of
  * `last`/`from`/`range` requests through `QueryApi.handle` and
  * `GraftEngine.metadata` calls, while one writer publishes into four live
  * stream-parts. Per-request read cost dominates (store listing,
  * clean-marker sweep, merge window); the live writer means a read-side
  * cache must prove it is not stale, and a read speed-up that costs
  * appends shows in the writer's publish latency. */
object ResendMix {
  val Events = 10000
  val Days = 2
  val LiveStream = "live"
  val LiveParts = 4
  /** One event in this many is published twice, so merge-on-read has
    * replays to collapse. */
  val ReplayEvery = 50
  val CompactParts = 1
  val WriterEveryMs = 2000L
  val WriterBatch = 200
  val Readers = 2
  val WarmupS = 5
  val SetupReps = 3

  private val parts: IndexedSeq[(String, Int)] =
    Gen.StaticParts ++ (0 until LiveParts).map(LiveStream -> _)
  private val firstLive = Gen.StaticParts.size

  def typeOf(req: Gen.Req): String = req match {
    case _: Gen.Last => "last"
    case _: Gen.From => "from"
    case _: Gen.Range => "range"
    case _: Gen.Meta => "metadata"
  }

  /** Key of an object-format message. */
  def keyOf(msg: String): Key = {
    def raw(field: String): String = {
      val i = msg.indexOf(s""""$field":""") + field.length + 3
      if (msg.charAt(i) == '"') msg.substring(i + 1, msg.indexOf('"', i + 1))
      else msg.substring(i, msg.indexWhere(c => c == ',' || c == '}', i))
    }
    Key(raw("timestamp").toLong, raw("sequenceNumber").toInt, raw("publisherId"), raw("msgChainId"))
  }

  /** One answered request: served keys (or metadata), timings, jobs tag. */
  final case class Answer(req: Gen.Req, issueMs: Long, endMs: Long,
      keys: Seq[Key], meta: Option[(Long, Long, Long, Long)], error: Option[String], tag: String) {
    def ms: Double = (endMs - issueMs).toDouble
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, trace: Option[Trace],
      dir: Path, r: Result): Unit = {
    val events = Gen.events(seed, Events, Days)
    val dataDir = dir.resolve("data")
    locally {
      import spark.implicits._
      spark.createDataset(events.toSeq).coalesce(1)
        .write.parquet(dataDir.resolve("events.parquet").toString)
    }

    // ---- set-up: store build (one publish batch and a replay slice) and
    // compaction of one stream-part, so clean and dirty buckets are served.
    // The compacted part is the second-hottest static part, so the same
    // share of reads hits it whatever the seed.
    val compacted = Gen.staticOrder(seed, firstLive).slice(1, 1 + CompactParts).map(Gen.StaticParts)
    val appendS, compactS = ArrayBuffer[Double]()
    val (engine, setupS) = Main.setUp(SetupReps) { i =>
      val engine = new GraftEngine(spark, dir.resolve(s"store-$i").toString)
      val sd = Tables.streamData(spark, dataDir.toString)
      val t0 = System.nanoTime()
      engine.publish(sd)
      engine.publish(sd.filter(col("event_id") % ReplayEvery === seed % ReplayEvery))
      val t1 = System.nanoTime()
      compacted.foreach { case (s, p) => engine.compact(s, p) }
      appendS += (t1 - t0) / 1e9
      compactS += (System.nanoTime() - t1) / 1e9
      engine
    }

    Main.phase("set up")

    // independent oracle for the static parts, straight from the events
    val byPart: Map[Int, IndexedSeq[Gen.Msg]] = events.toIndexedSeq.map(Gen.toMsg)
      .groupBy(m => Gen.StaticParts.indexOf((m.streamId, m.partition)))
      .map { case (p, ms) => p -> ms.sortBy(_.key) }
    def oracle(req: Gen.Req): Either[(Long, Long, Long, Long), Seq[Key]] = {
      val ms = byPart.getOrElse(req.part, IndexedSeq.empty)
      req match {
        case Gen.Last(_, n) => Right(ms.takeRight(n).map(_.key))
        case Gen.From(_, f) => Right(ms.filter(_.tsMs >= f).map(_.key))
        case Gen.Range(_, f, t) => Right(ms.filter(m => m.tsMs >= f && m.tsMs <= t).map(_.key))
        case Gen.Meta(_) => Left((ms.size.toLong,
          ms.map(_.payload.getBytes("UTF-8").length.toLong).sum, ms.head.tsMs, ms.last.tsMs))
      }
    }

    // rows the writer committed: (part, key, publish return time)
    val committed = ArrayBuffer[(Int, Key, Long)]()
    def committedBefore(part: Int, issueMs: Long): Seq[Key] = committed.synchronized {
      committed.collect { case (p, k, at) if p == part && at < issueMs => k }.toSeq
    }

    def tagged[T](tag: String)(body: => T): T = trace.fold(body)(_.tagged(tag)(body))
    def spanned[T](name: String, key: String)(body: => T): T =
      trace.fold(body)(_.span(name, key)(body))

    def issue(req: Gen.Req, tag: String): Answer = tagged(tag) {
      val (stream, part) = parts(req.part)
      val live = req.part >= firstLive
      val t = typeOf(req)
      val issueMs = System.currentTimeMillis()
      spanned(s"read.$t", tag) {
        def handle(endpoint: String, q: (String, String)*) =
          spanned("handle", tag)(QueryApi.handle(engine,
            QueryApi.QueryRequest(endpoint, stream, part.toString, q.toMap)))
        val reply: Either[String, Either[(Long, Long, Long, Long), Iterator[Resend.Frame]]] =
          try {
            req match {
              case Gen.Meta(_) =>
                spanned("handle", tag)(engine.metadata(stream, part))
                  .toRight("no metadata").map(Left(_))
              case Gen.Last(_, n) => handle("last", "count" -> n.toString)
                  .left.map(_.error).map(Right(_))
              case Gen.From(_, f) =>
                handle("from", "fromTimestamp" -> (if (live) issueMs - f else f).toString)
                  .left.map(_.error).map(Right(_))
              case Gen.Range(_, f, to) =>
                val (a, b) = if (live) (issueMs - f, issueMs - to) else (f, to)
                handle("range", "fromTimestamp" -> a.toString, "toTimestamp" -> b.toString)
                  .left.map(_.error).map(Right(_))
            }
          } catch { case e: Exception => Left(e.toString) }
        reply match {
          case Left(err) =>
            Answer(req, issueMs, System.currentTimeMillis(), Nil, None, Some(err), tag)
          case Right(Left(meta)) =>
            Answer(req, issueMs, System.currentTimeMillis(), Nil, Some(meta), None, tag)
          case Right(Right(frames)) =>
            val drained = spanned("drain", tag) {
              try Right(frames.toVector) catch { case e: Exception => Left(e.toString) }
            }
            val shape = drained.flatMap {
              case Vector(Resend.NoResend()) => Right(())
              case Resend.Resending() +: body :+ Resend.Resent()
                  if body.nonEmpty && body.forall(_.isInstanceOf[Resend.Unicast]) => Right(())
              case _ => Left("malformed resend envelope")
            }
            val keys = drained.getOrElse(Vector.empty).collect { case Resend.Unicast(m) => keyOf(m) }
            Answer(req, issueMs, System.currentTimeMillis(), keys, None, shape.left.toOption, tag)
        }
      }
    }

    def check(a: Answer): Seq[String] = a.error.toSeq ++ {
      if (a.error.isDefined) Nil
      else if (a.req.part < firstLive) (oracle(a.req), a.meta) match {
        case (Left(m), Some(got)) => if (m == got) Nil else Seq(s"metadata $got, oracle $m")
        case (Right(keys), None) => Checks.sameAnswer(keys, a.keys)
        case _ => Seq("wrong answer kind")
      }
      else {
        val before = committedBefore(a.req.part, a.issueMs)
        a.req match {
          case Gen.Meta(_) =>
            val n = a.meta.map(_._1).getOrElse(0L)
            if (n >= before.size) Nil else Seq(s"metadata counts $n rows, ${before.size} committed")
          case Gen.Last(_, n) => Checks.liveAnswer(before, a.keys, Left(n))
          case Gen.From(_, f) => Checks.liveAnswer(before, a.keys, Right((a.issueMs - f, Long.MaxValue)))
          case Gen.Range(_, f, to) =>
            Checks.liveAnswer(before, a.keys, Right((a.issueMs - f, a.issueMs - to)))
        }
      }
    }

    implicit val enc: org.apache.spark.sql.Encoder[StreamMessage] = Encoders.product[StreamMessage]
    var seq = 0
    /** One writer publish; returns its duration in ms. */
    def publishLive(tag: String): Double = {
      val now = System.currentTimeMillis()
      val rows = (0 until WriterBatch).map { j =>
        seq += 1
        StreamMessage(LiveStream, j % LiveParts, Gen.ntz(now), seq, "pub-0", "0", s"""{"k": $j}""")
      }
      val s = System.currentTimeMillis()
      tagged(tag)(spanned("write.publish", tag)(engine.publish(spark.createDataset(rows).toDF())))
      val at = System.currentTimeMillis()
      committed.synchronized {
        committed ++= rows.map(m => (firstLive + m.stream_partition,
          Key(now, m.sequence_no, m.publisher_id, m.msg_chain_id), at))
      }
      (at - s).toDouble
    }

    // ---- readers and writer run an untimed warm-up (read paths speed up
    // for tens of seconds after JVM start), then the timed window ----
    val warmStart = System.currentTimeMillis()
    val t0 = warmStart + WarmupS * 1000L
    val deadline = t0 + seconds * 1000L
    val answers = ArrayBuffer[Answer]()
    val publishes = ArrayBuffer[(Long, Double)]()
    val writer = new Thread(() => {
      var k = 0
      while (warmStart + k * WriterEveryMs < deadline) {
        val wait = warmStart + k * WriterEveryMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val at = System.currentTimeMillis()
        val ms = publishLive(s"write:$k")
        publishes.synchronized(publishes += ((at, ms)))
        k += 1
      }
    }, "perfbench-writer")
    // a reader switches from its warm-up sequence to its timed one at t0,
    // where the timed one starts the type cycle at a fixed place: the
    // window's request mix does not depend on how far the warm-up got
    val readers = (0 until Readers).map { rd =>
      new Thread(() => {
        def seqOf(reader: Int, cycleStart: Int) =
          Gen.requests(seed, reader, 2000, parts.size, firstLive, Days, cycleStart).iterator
        val warm = seqOf(Readers + rd, 0)
        val reqs = seqOf(rd, rd * Gen.TypeCycle.size / Readers)
        var i = 0
        while (System.currentTimeMillis() < deadline) {
          val req = if (System.currentTimeMillis() < t0) warm.next() else reqs.next()
          val a = issue(req, s"read:$rd:$i")
          answers.synchronized(answers += a)
          i += 1
        }
      }, s"perfbench-reader-$rd")
    }
    writer.start()
    readers.foreach(_.start())
    readers.foreach(_.join())
    writer.join()
    Main.phase("timed")
    val timed = answers.filter(_.issueMs >= t0).toSeq
    val publishMs = publishes.collect { case (at, ms) if at >= t0 => ms }.toSeq

    // ---- checks ----
    r.attempted = (answers.size + publishes.size).toLong
    answers.groupBy(a => typeOf(a.req)).toSeq.sortBy(_._1).foreach { case (t, as) =>
      val bad = as.map(a => a -> check(a)).filter(_._2.nonEmpty)
      r.fail(s"read.$t", bad.size.toLong, bad.toSeq.map { case (a, ps) => s"${a.req}: ${ps.mkString("; ")}" })
    }

    // ---- end-to-end ----
    val lat = timed.map(_.ms)
    def latOf(ts: String*) = timed.filter(a => ts.contains(typeOf(a.req))).map(_.ms)
    // mean latency of the request mix: each type's mean weighted by its
    // share of the request cycle, so which types happened to fall inside
    // a window of a few tens of requests does not move it
    val types = IndexedSeq("last", "from", "range", "metadata")
    val share = Gen.TypeCycle.groupBy(types).map { case (t, xs) => t -> xs.size.toDouble }
    val seen = types.filter(t => latOf(t).nonEmpty)
    val mixMs = seen.map(t => share(t) * latOf(t).sum / latOf(t).size).sum / seen.map(share).sum
    // closed loop: each reader's completed requests over its own busy span
    val reqPerS = timed.groupBy(_.tag.split(':')(1)).values.map { as =>
      as.size * 1000.0 / (as.map(_.endMs).max - as.map(_.issueMs).min)
    }.sum
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "latency_ms" -> (mixMs, "ms"),
      "per_s" -> (reqPerS, "1/s"),
      "second_p50_ms" -> (Stats.median(publishMs), "ms"))
    r.report ++= Seq(
      "setup_s" -> (setupS, "s"),
      "resend_last_p50_ms" -> (Stats.median(latOf("last")), "ms"),
      "resend_last_p90_ms" -> (Stats.pct(latOf("last"), 0.9), "ms"),
      "resend_window_p50_ms" -> (Stats.median(latOf("from", "range")), "ms"),
      "metadata_p50_ms" -> (Stats.median(latOf("metadata")), "ms"),
      "resend_req_per_s" -> (reqPerS, "req/s"),
      "publish_p50_ms" -> (Stats.median(publishMs), "ms"),
      "read_mix_mean_ms" -> (mixMs, "ms"),
      "read_mean_ms" -> (lat.sum / lat.size, "ms"),
      "read_p50_ms" -> (Stats.median(lat), "ms"),
      "read_p90_ms" -> (Stats.pct(lat, 0.9), "ms"),
      "requests" -> (timed.size.toDouble, "count"),
      "error_rate" -> (r.failed.toDouble / r.attempted, "ratio"))

    trace match {
      case None => r.metrics ++= e2e
      case Some(tr) =>
        val layer = r.metrics
        e2e.foreach { case (k, v) => layer(s"traced.$k") = v }
        val jobsByOp = tr.allJobs.groupBy(_.op)
        val spans = tr.spans.groupBy(_.key)
        Seq("last", "from", "range", "metadata").foreach { t =>
          val as = timed.filter(a => typeOf(a.req) == t)
          def med(f: Answer => Double) = Stats.median(as.map(f))
          def jobs(a: Answer) = jobsByOp.getOrElse(a.tag, Nil)
          def spanMs(a: Answer, name: String) =
            spans.getOrElse(a.tag, Nil).filter(_.name == name).map(_.ms).sum.toDouble
          layer(s"read.$t.handle_ms") = (med(spanMs(_, "handle")), "ms")
          if (t != "metadata") layer(s"read.$t.drain_ms") = (med(spanMs(_, "drain")), "ms")
          layer(s"read.$t.driver_ms") = (med(a => a.ms -
            Trace.covered(jobs(a).map(j => (j.startMs, j.endMs)), a.issueMs, a.endMs)), "ms")
          layer(s"read.$t.jobs") = (med(jobs(_).size.toDouble), "count")
          layer(s"read.$t.tasks") = (med(jobs(_).map(_.tasks).sum.toDouble), "count")
          layer(s"read.$t.input_bytes") = (med(jobs(_).map(_.inputBytes).sum.toDouble), "bytes")
          layer(s"read.$t.rows_examined_per_row") = (med(a =>
            jobs(a).map(_.recordsRead).sum.toDouble / math.max(1, if (a.meta.isDefined) 1 else a.keys.size)),
            "ratio")
          layer(s"read.$t.shuffle_bytes") = (med(jobs(_).map(_.shuffleBytes).sum.toDouble), "bytes")
        }
        layer("write.publish_ms") = (Stats.median(publishMs), "ms")
        layer("setup.append_s") = (Stats.median(appendS.toSeq), "s")
        layer("setup.compact_s") = (Stats.median(compactS.toSeq), "s")
    }
  }
}
