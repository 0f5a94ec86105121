package graft

import org.apache.spark.sql.functions._

import graft.ingest.Validate
import graft.metrics.Metrics
import graft.serve.Formats

class ServeIngestMetricsSpec extends SparkSpec {

  test("objectJson: field order, epoch-ms timestamp, escaped content") {
    val sd = streamDataOf(msg("s\"x", 2, 1545144750494L, 1, "pub", "c",
      payload = """{"hello":"wo\rld"}"""))
    val out = Formats.format(sd, "object").collect().head.getString(0)
    assert(out ==
      """{"streamId":"s\"x","streamPartition":2,"timestamp":1545144750494,""" +
        """"sequenceNumber":1,"publisherId":"pub","msgChainId":"c",""" +
        """"prevMsgRef":null,"encryptionType":0,""" +
        """"content":"{\"hello\":\"wo\\rld\"}","signatureType":0,"signature":null}""")
  }

  test("jsonEscape: the native pass equals the JsonEscapes replace chain") {
    val s = spark
    import s.implicits._
    val inputs = Seq("", "plain", "q\"uote", "back\\slash\\\"", "\u00e9\u4e2d\ud83d\ude00\"",
      (0 until 0x20).map(_.toChar).mkString, "a\u0001b\r\n\t\u001f\u007f", null)
    val chain = Formats.JsonEscapes.foldLeft(col("v")) { case (acc, (from, to)) =>
      replace(acc, lit(from), lit(to))
    }
    // a distributed source, so the generated code runs, not the
    // driver-side interpreted fold of a local relation
    val out = spark.createDataset(spark.sparkContext.parallelize(inputs, 2)).toDF("v")
      .select(Formats.jsonEscape(col("v")).as("native"), chain.as("chain"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.length == inputs.length)
    out.foreach { case (native, expected) => assert(native == expected) }
    assert(out(2)._1 == "q\\\"uote" && out.last._1 == null)
  }

  test("protocolJson: v31 array shape; raw aliases protocol") {
    val sd = streamDataOf(msg("s", 0, 1000L, 0, "p", "c", payload = "{}"))
    val proto = Formats.format(sd, "protocol").collect().head.getString(0)
    assert(proto == """[31,["s",0,1000,0,"p","c"],null,27,0,"{}",0,null]""")
    assert(Formats.format(sd, "raw").collect().head.getString(0) == proto)
  }

  test("protocolJson versions: v30 drops encryption + [null,null] prev-ref; v32 adds type/groupKey slots") {
    val head = msg("s", 0, 1000L, 0, "p", "c", payload = "{}")
    val chained = msg("s", 0, 5000L, 3, "p", "c", payload = "x")
      .copy(prev_ts = Some(ldt(4000L)), prev_sequence_no = Some(2),
        encryption_type = 2, signature_type = 2, signature = Some("0xabc"))
    def serve(m: model.StreamMessage, v: Int) =
      Formats.format(streamDataOf(m), "protocol", Some(v)).collect().head.getString(0)
    assert(serve(head, 30) == """[30,["s",0,1000,0,"p","c"],[null,null],27,"{}",0,null]""")
    assert(serve(chained, 30) == """[30,["s",0,5000,3,"p","c"],[4000,2],27,"x",2,"0xabc"]""")
    assert(serve(head, 32) == """[32,["s",0,1000,0,"p","c"],null,27,0,0,null,"{}",null,0,null]""")
    assert(serve(chained, 32) == """[32,["s",0,5000,3,"p","c"],[4000,2],27,0,2,null,"x",null,2,"0xabc"]""")
    // v32 serves the stored group-key envelope (AES rows are key-resolvable)
    val keyed = chained.copy(group_key_id = Some("GK-s-p"),
      new_group_key = Some("feedface"))
    assert(serve(keyed, 32) ==
      """[32,["s",0,5000,3,"p","c"],[4000,2],27,0,2,"GK-s-p","x","feedface",2,"0xabc"]""")
    assert(serve(keyed, 31) == serve(chained, 31)) // v31 has no group-key slots
    // only an ABSENT version parameter defaults to 31; an unsupported pin
    // throws like the reference's UnsupportedVersionError
    intercept[IllegalArgumentException](Formats.protocolJson(99))
    assert(Formats.format(streamDataOf(head), "protocol").collect().head.getString(0)
      == serve(head, 31))
  }

  test("frame: object/protocol stream a JSON array, raw newline-delimits, empty is []") {
    val sd = streamDataOf(
      msg("s", 0, 1000L, 0, "p", "c", payload = "{}"),
      msg("s", 0, 2000L, 1, "p", "c", payload = "{}"))
    val proto = Formats.format(sd.orderBy("ts"), "protocol")
    val body = Formats.frame(proto, "protocol").mkString
    assert(body.startsWith("[[31,") && body.endsWith("]") && body.contains("],[31,"))
    assert(body == "[" + proto.collect().map(_.getString(0)).mkString(",") + "]")
    val raw = Formats.frame(Formats.format(sd.orderBy("ts"), "raw"), "raw").mkString
    assert(raw.count(_ == '\n') == 2 && raw.endsWith("]\n"))
    assert(Formats.frame(Formats.format(sd.filter(lit(false)), "protocol"), "protocol")
      .mkString == "[]")
  }

  test("envelope fields round-trip through both formats (signed + encrypted)") {
    val m = msg("s", 0, 5000L, 3, "p", "c", payload = "deadbeef")
      .copy(prev_ts = Some(ldt(4000L)), prev_sequence_no = Some(2),
        encryption_type = 2, signature_type = 2, signature = Some("0xabc123"))
    val sd = streamDataOf(m)
    val proto = Formats.format(sd, "protocol").collect().head.getString(0)
    assert(proto ==
      """[31,["s",0,5000,3,"p","c"],[4000,2],27,2,"deadbeef",2,"0xabc123"]""")
    val obj = Formats.format(sd, "object").collect().head.getString(0)
    assert(obj.contains(""""prevMsgRef":[4000,2]"""))
    assert(obj.contains(""""encryptionType":2"""))
    assert(obj.contains(""""signatureType":2,"signature":"0xabc123""""))
  }

  test("validate: future beyond +300s rejected, invalid JSON rejected, rest accepted") {
    val now = ldt(1000000L)
    val sd = streamDataOf(
      msg("s", 0, 1000000L, 0),                       // now => accepted
      msg("s", 0, 1000000L + 300000L, 1),             // exactly +300s => accepted
      msg("s", 0, 1000000L + 300001L, 2),             // beyond => rejected_future
      msg("s", 0, 999999L, 3, payload = "not json"))  // => rejected_json
    val got = Validate.verdict(sd, lit(now))
      .select("sequence_no", "verdict").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(0 -> "accepted", 1 -> "accepted",
      2 -> "rejected_future", 3 -> "rejected_json"))
    assert(Validate.accepted(sd, lit(now)).count() == 2)
  }

  test("validate: signature verifier rejects tampered/missing, earlier gates win") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def signed(tsMs: Long, seq: Int) =
      msg("s", 0, tsMs, seq).copy(
        signature = Some("0x" + md5hex(s"s:$tsMs:$seq:publisher")))
    val now = ldt(1000000L)
    val sd = streamDataOf(
      signed(1000000L, 0),                                        // accepted
      signed(1000000L, 1).copy(signature = Some("0xbad")),        // rejected_signature
      msg("s", 0, 1000000L, 2),                                   // null sig => rejected_signature
      signed(1000000L + 300001L, 3),                              // future wins over sig check
      signed(999999L, 4).copy(payload = "not json"))              // json wins over sig check
    val got = Validate.verdict(sd, lit(now),
        signatureValid = Some(Validate.md5SchemeSignatureValid))
      .select("sequence_no", "verdict").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(0 -> "accepted", 1 -> "rejected_signature",
      2 -> "rejected_signature", 3 -> "rejected_future", 4 -> "rejected_json"))
    // without the verifier the same batch keeps the pre-seam verdicts
    assert(Validate.accepted(sd, lit(now)).count() == 3)
  }

  test("anomalyFlags: spike flagged against trailing stats, warm-up unflagged") {
    // 12 steady minutes at 1 msg/min, then minute 12 bursts with 9 msgs
    val steady = (0 until 12).map(i =>
      msg("s", 0, i * 60000L, i, payload = "x"))
    val burst = (0 until 9).map(j =>
      msg("s", 0, 12 * 60000L + j * 100, 100 + j, payload = "x"))
    val sd = streamDataOf(steady ++ burst: _*)
    val rows = Metrics.anomalyFlags(sd, lookback = 60, k = 3.0, minHistory = 10)
      .orderBy("minute").collect()
    assert(rows.length == 13)
    // warm-up (fewer than 10 predecessors): never flagged even at a spike
    assert(rows.take(10).forall(!_.getAs[Boolean]("is_anomaly")))
    // minute 12: trailing window is 12 ones -> mean 1, variance 0; 9 > 1
    val last = rows.last
    assert(last.getAs[Long]("msgs") == 9L)
    assert(last.getAs[Double]("mean") == 1.0)
    assert(last.getAs[Double]("variance") == 0.0)
    assert(last.getAs[Boolean]("is_anomaly"))
    // the steady minutes after warm-up stay unflagged (1 is not > 1)
    assert(rows.slice(10, 12).forall(!_.getAs[Boolean]("is_anomaly")))
  }

  test("anomalyFlags: idle minutes count in the trailing stats without materializing") {
    // 10 steady minutes, 20 idle minutes, then a 2-msg minute: the
    // trailing window must see 30 dense minutes (mean 10/30), not 10
    val steady = (0 until 10).map(i => msg("s", 0, i * 60000L, i, payload = "x"))
    val late = Seq(msg("s", 0, 30 * 60000L, 100, payload = "x"),
      msg("s", 0, 30 * 60000L + 100, 101, payload = "x"))
    val rows = Metrics.anomalyFlags(streamDataOf(steady ++ late: _*))
      .orderBy("minute").collect()
    assert(rows.length == 11, "one row per ACTIVE minute only")
    val last = rows.last
    assert(last.getAs[Long]("msgs") == 2L)
    assert(last.getAs[Double]("mean") == 10.0 / 30.0)
    assert(last.getAs[Double]("variance") == 200.0 / 900.0)
    assert(last.getAs[Boolean]("is_anomaly"),
      "2 msgs vs sparse-history mean 1/3 must flag")
  }

  test("denseMinuteCounts zero-fills idle minutes inside each part's span only") {
    val sd = streamDataOf(
      msg("s", 0, 0L, 0, payload = "ab"),          // minute 0
      msg("s", 0, 180000L, 1, payload = "c"),      // minute 3 — 1,2 idle
      msg("t", 0, 60000L, 0, payload = "defg"))    // single-minute stream
    val got = Metrics.denseMinuteCounts(sd)
      .orderBy("stream_id", "minute").collect()
      .map(r => (r.getString(0), r.getAs[Long]("msgs"), r.getAs[Long]("bytes")))
    // stream s spans minutes 0..3 (4 rows, two zero-filled); stream t's
    // spine is its single active minute — no bleed across parts
    assert(got.toSeq == Seq(
      ("s", 1L, 2L), ("s", 0L, 0L), ("s", 0L, 0L), ("s", 1L, 1L),
      ("t", 1L, 4L)))
  }

  test("interpolatedMinuteCounts: integer floor interpolation inside gaps") {
    val sd = streamDataOf(
      msg("s", 0, 0L, 0, payload = "aaaa"), msg("s", 0, 1000L, 1),
      msg("s", 0, 2000L, 2), msg("s", 0, 3000L, 3),   // minute 0: 4 msgs
      msg("s", 0, 180000L, 4),                        // minute 3: 1 msg
      msg("t", 0, 60000L, 0))                         // single-minute stream
    val got = Metrics.interpolatedMinuteCounts(sd)
      .orderBy("stream_id", "minute").collect()
      .map(r => (r.getString(0), r.getAs[Long]("msgs"), r.getAs[Boolean]("filled")))
    // gap of 3 from 4 down to 1: i=1 -> (4*2+1*1) div 3 = 3,
    //                            i=2 -> (4*1+1*2) div 3 = 2
    assert(got.toSeq == Seq(
      ("s", 4L, false), ("s", 3L, true), ("s", 2L, true), ("s", 1L, false),
      ("t", 1L, false)))
  }

  test("rateTrend: hand-computed slope/intercept, single-minute part is NULL") {
    val sd = streamDataOf(
      msg("s", 0, 0L, 0),                              // minute 0: 1 msg
      msg("s", 0, 60000L, 1), msg("s", 0, 61000L, 2),  // minute 1: 2 msgs
      msg("s", 0, 120000L, 3), msg("s", 0, 121000L, 4),
      msg("s", 0, 122000L, 5),                         // minute 2: 3 msgs
      msg("t", 0, 0L, 0))                              // single minute
    val got = Metrics.rateTrend(sd).orderBy("stream_id").collect()
    // y = x + 1 exactly: slope 1, intercept 1
    assert(got(0).getAs[Double]("slope") == 1.0)
    assert(got(0).getAs[Double]("intercept") == 1.0)
    assert(got(1).isNullAt(got(1).fieldIndex("slope")))
    assert(got(1).isNullAt(got(1).fieldIndex("intercept")))
  }

  test("crossStreamCorrelation: proportional rates correlate at exactly 1.0") {
    val sd = streamDataOf(
      msg("u", 0, 0L, 0), msg("u", 0, 60000L, 1), msg("u", 0, 61000L, 2),
      msg("v", 0, 0L, 0), msg("v", 0, 1000L, 1),
      msg("v", 0, 60000L, 2), msg("v", 0, 61000L, 3),
      msg("v", 0, 62000L, 4), msg("v", 0, 63000L, 5))
    // u = (1, 2), v = (2, 4) on the two shared minutes -> r = 1 exactly
    val got = Metrics.crossStreamCorrelation(sd).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getString(0), r.getString(1)) == ("u", "v"))
    assert(r.getAs[Long]("n") == 2L && r.getAs[Double]("corr") == 1.0)
  }

  test("minuteCounts + hourlyRollup aggregate counts and bytes") {
    val sd = streamDataOf(
      msg("s", 0, 0L, 0, payload = "abc"),        // minute 0
      msg("s", 0, 1000L, 1, payload = "de"),      // minute 0
      msg("s", 0, 60000L, 2, payload = "fghi"),   // minute 1
      msg("s", 0, 3600000L, 3, payload = "j"))    // next hour
    val mc = Metrics.minuteCounts(sd).orderBy("minute").collect()
    assert(mc.map(r => (r.getAs[Long]("msgs"), r.getAs[Long]("bytes"))).toSeq ==
      Seq((2L, 5L), (1L, 4L), (1L, 1L)))
    val hr = Metrics.hourlyRollup(sd).orderBy("hour").collect()
    assert(hr.map(r => (r.getAs[Long]("n_minutes"), r.getAs[Long]("msgs"),
      r.getAs[Long]("bytes"), r.getAs[Double]("avg_msgs_per_min"))).toSeq ==
      Seq((2L, 3L, 9L, 1.5), (1L, 1L, 1L, 1.0)))
    // per-level EWMA (StreamMetrics.ts:133-143): hour 0 minute series is
    // (2, 1) -> 0.8*2 + 0.2*1 = 1.8; singleton series seeds itself
    assert(hr.map(_.getAs[Double]("ewma_msgs_per_min")).toSeq == Seq(1.8, 1.0))
    val dr = Metrics.dailyRollup(sd).collect()
    // day series over hours (3, 1) -> 0.8*3 + 0.2*1 (same IEEE fold)
    assert(dr.map(r => (r.getAs[Long]("n_hours"),
      r.getAs[Double]("ewma_msgs_per_hour"))).toSeq ==
      Seq((2L, 0.8 * 3.0 + 0.2 * 1.0)))
  }

  test("ewma: seeded with first value, 0.8/0.2 fold in minute order") {
    val sd = streamDataOf(
      msg("s", 0, 0L, 0), msg("s", 0, 1000L, 1),   // minute 0: 2 msgs
      msg("s", 0, 60000L, 2),                       // minute 1: 1 msg
      msg("s", 0, 120000L, 3), msg("s", 0, 121000L, 4), msg("s", 0, 122000L, 5)) // minute 2: 3
    val r = Metrics.ewmaRates(sd).collect().head
    assert(r.getAs[Long]("n_minutes") == 3L)
    // fold: seed 2.0; 2.0*0.8 + 1*0.2 = 1.8; 1.8*0.8 + 3*0.2 = 2.04
    assert(math.abs(r.getAs[Double]("rate_ewma") - 2.04) < 1e-12)
  }

  test("autocorrelation: period-2 series gives -1 at lag 1 and +1 at lag 2; constant = NULL") {
    // minutes 0,2,4 carry two messages each; dense series = [2,0,2,0,2]
    val periodic = Seq(0L, 2L, 4L).flatMap(m => Seq(
      msg("s", 0, m * 60000L, (m * 2).toInt, payload = "x"),
      msg("s", 0, m * 60000L + 1, (m * 2).toInt + 1, payload = "x")))
    val sd = streamDataOf(periodic: _*)
    val lag1 = Metrics.autocorrelation(sd, lag = 1).collect().head
    assert(lag1.getAs[Long]("lag") == 1L && lag1.getAs[Long]("n") == 4L)
    assert(lag1.getAs[Double]("corr") == -1.0)
    val lag2 = Metrics.autocorrelation(sd, lag = 2).collect().head
    // the defined IEEE chain: 8/(sqrt(8)*sqrt(8)) — 1 ulp under 1.0, and
    // bit-identical in any engine running the same expression
    assert(lag2.getAs[Long]("n") == 3L &&
      lag2.getAs[Double]("corr") == 8.0 / (math.sqrt(8.0) * math.sqrt(8.0)))
    // constant series: zero variance -> NULL, not NaN
    val const = streamDataOf((0 until 3).map(m =>
      msg("c", 0, m * 60000L, m, payload = "x")): _*)
    val c = Metrics.autocorrelation(const, lag = 1).collect().head
    assert(c.isNullAt(c.fieldIndex("corr")))
  }

  test("decompose: centered trend, seasonal from matched minutes-of-day, edges dropped") {
    // two "days" compressed: minute 1 and minute 1441 share mod_min 1 —
    // data [1,5,1] at minutes 0-2 and [3,7,3] at 1440-1442
    val msgs = Seq(0L -> 1, 1L -> 5, 2L -> 1, 1440L -> 3, 1441L -> 7, 1442L -> 3)
      .flatMap { case (m, k) => (0 until k).map(j =>
        msg("s", 0, m * 60000L + j, (m % 1000).toInt * 10 + j, payload = "x")) }
    val got = Metrics.decompose(streamDataOf(msgs: _*), halfWindow = 1)
      .collect().map(r => r.getAs[java.time.LocalDateTime]("minute").getMinute
        + 60 * r.getAs[java.time.LocalDateTime]("minute").getHour
        + 1440 * (r.getAs[java.time.LocalDateTime]("minute").getDayOfMonth - 1) ->
        (r.getAs[Double]("trend"), r.getAs[Double]("seasonal"),
          r.getAs[Double]("residual"))).toMap
    // edges (minutes 0 and 1442) dropped: first/last lack a full window
    assert(!got.contains(0) && !got.contains(1442))
    // minute 1: window [1,5,1] -> trend 7/3; detr = 15-7 = 8 twice (min 1441
    // window [3,7,3] -> 21-13 = 8), so seasonal(mod 1) = 16/(3*2)
    val t1 = 7.0 / 3.0
    val s1 = 16.0 / (3.0 * 2.0)
    assert(got(1) == ((t1, s1, 5.0 - t1 - s1)))
    val t1441 = 13.0 / 3.0
    assert(got(1441) == ((t1441, s1, 7.0 - t1441 - s1)))
  }

  test("rollingMedian: exact window median ignores the spike EWMA chases") {
    // dense minutes [1, 9, 1, 1, 5]
    val msgs = Seq(0L -> 1, 1L -> 9, 2L -> 1, 3L -> 1, 4L -> 5).flatMap {
      case (m, k) => (0 until k).map(j =>
        msg("s", 0, m * 60000L + j, (m * 10 + j).toInt, payload = "x"))
    }
    val got = Metrics.rollingMedian(streamDataOf(msgs: _*), window = 3)
      .orderBy("minute").collect()
      .map(r => (r.getAs[Long]("msgs"), r.getAs[Double]("median_rate"),
        r.getAs[Long]("n_window")))
    assert(got.toList == List(
      (1L, 1.0, 1L), (9L, 5.0, 2L), (1L, 1.0, 3L),
      (1L, 1.0, 3L), (5L, 1.0, 3L)))
  }

  test("cusum: prefix-min identity reproduces the max(0,·) recursions; alarms at n*tau") {
    // dense minute counts [1, 0, 4, 0, 1]: n=5, S=6, d = 5x-6
    val msgs = Seq(0L -> 1, 2L -> 4, 4L -> 1).flatMap { case (m, k) =>
      (0 until k).map(j => msg("s", 0, m * 60000L + j, (m * 10 + j).toInt, payload = "x"))
    }
    val got = Metrics.cusum(streamDataOf(msgs: _*), tauMsgs = 2L)
      .orderBy("minute").collect()
      .map(r => (r.getAs[Long]("msgs"), r.getAs[Long]("cusum_pos"),
        r.getAs[Long]("cusum_neg"), r.getAs[Long]("alarm_up"),
        r.getAs[Long]("alarm_down")))
    // hand recursion: s+ = [0,0,14,8,7], s- = [1,7,0,6,7]; alarm when > 5*2
    assert(got.toList == List(
      (1L, 0L, 1L, 0L, 0L), (0L, 0L, 7L, 0L, 0L), (4L, 14L, 0L, 1L, 0L),
      (0L, 8L, 6L, 0L, 0L), (1L, 7L, 7L, 0L, 0L)))
  }
}
