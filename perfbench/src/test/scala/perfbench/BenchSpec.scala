package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Gen.Key

class BenchSpec extends AnyFunSuite {

  test("generators are deterministic for a seed and differ across seeds") {
    assert(Gen.events(7, 500, 2).toSeq == Gen.events(7, 500, 2).toSeq)
    assert(Gen.events(7, 500, 2).toSeq != Gen.events(8, 500, 2).toSeq)
    def sched(seed: Long) = Gen.liveSchedule(seed, 20, 50, 50, 100).map(_.toSeq).toSeq
    assert(sched(7) == sched(7))
    assert(sched(7) != sched(8))
    assert(Gen.subscribedParts(7, 4) == Gen.subscribedParts(7, 4))
    assert(Gen.requests(7, 1, 200, 44, 40, 2) == Gen.requests(7, 1, 200, 44, 40, 2))
    assert(Gen.requests(7, 0, 200, 44, 40, 2) != Gen.requests(7, 1, 200, 44, 40, 2))
  }

  test("generated events never share a uniqueness key") {
    val keys = Gen.events(3, 5000, 2).map(Gen.toMsg).map(m => (m.streamId, m.partition, m.key))
    assert(keys.distinct.length == keys.length)
  }

  test("live schedule: unique sequence numbers, about one invalid in a hundred") {
    val all = Gen.liveSchedule(5, 40, 500, 50, 100).flatten
    assert(all.map(_.seq).distinct.length == all.length)
    val invalid = all.count(_.kind != Gen.Valid).toDouble / all.length
    assert(invalid > 0.005 && invalid < 0.02)
  }

  test("request mix holds the 60/15/15/10 deck in every block of 20") {
    val reqs = Gen.requests(9, 0, 200, 44, 40, 2)
    assert(reqs.map(ResendMix.typeOf) == Gen.requests(10, 0, 200, 44, 40, 2).map(ResendMix.typeOf))
    reqs.grouped(20).foreach { block =>
      val kinds = block.groupBy(r => ResendMix.typeOf(r)).map { case (k, v) => k -> v.size }
      assert(kinds == Map("last" -> 12, "from" -> 3, "range" -> 3, "metadata" -> 2))
    }
  }

  private val expected = Set(1, 2, 3, 4)

  test("delivery check accepts exactly-once delivery") {
    assert(Checks.deliveries(expected, Seq(4, 2, 1, 3)).isEmpty)
  }

  test("delivery check rejects a dropped message") {
    assert(Checks.deliveries(expected, Seq(1, 2, 4)) == Set(3))
  }

  test("delivery check rejects a duplicated delivery and a delivered invalid message") {
    assert(Checks.deliveries(expected, Seq(1, 2, 3, 4, 2)) == Set(2))
    assert(Checks.deliveries(expected, Seq(1, 2, 3, 4, 99)) == Set(99))
  }

  test("stored-count check rejects a lost or an extra stored row") {
    val accepted = Map("click/0" -> 10L, "view/3" -> 5L)
    assert(Checks.storedCounts(accepted, accepted).isEmpty)
    assert(Checks.storedCounts(accepted, accepted.updated("view/3", 4L)).nonEmpty)
    assert(Checks.storedCounts(accepted, accepted + ("error/1" -> 1L)).nonEmpty)
  }

  private def k(ts: Long, seq: Int = 0) = Key(ts, seq, "pub-0", "0")

  test("static answer check rejects one changed row") {
    val oracle = Seq(k(1), k(2), k(3))
    assert(Checks.sameAnswer(oracle, oracle).isEmpty)
    assert(Checks.sameAnswer(oracle, Seq(k(1), k(2, 1), k(3))).nonEmpty)
    assert(Checks.sameAnswer(oracle, oracle.reverse).nonEmpty)
  }

  private val committed = Seq(k(100), k(200), k(300), k(300, 1))

  test("live answer check accepts a fresh last, from and range") {
    assert(Checks.liveAnswer(committed, Seq(k(300), k(300, 1)), Left(2)).isEmpty)
    // fewer rows than asked for: the answer must hold every committed row
    assert(Checks.liveAnswer(committed, committed, Left(10)).isEmpty)
    assert(Checks.liveAnswer(committed, Seq(k(200), k(300), k(300, 1)), Right((150L, Long.MaxValue))).isEmpty)
    assert(Checks.liveAnswer(committed, Seq(k(200)), Right((150L, 250L))).isEmpty)
  }

  test("live answer check rejects a stale last that misses a committed row") {
    // newest committed row (300, 1) is missing: the answer predates it
    assert(Checks.liveAnswer(committed, Seq(k(200), k(300)), Left(2)).nonEmpty)
    assert(Checks.liveAnswer(committed, Seq(k(100), k(200), k(300)), Left(10)).nonEmpty)
  }

  test("live answer check rejects duplicates, disorder and a window gap") {
    assert(Checks.liveAnswer(committed, Seq(k(300), k(300), k(300, 1)), Left(3)).nonEmpty)
    assert(Checks.liveAnswer(committed, Seq(k(300, 1), k(300)), Left(2)).nonEmpty)
    assert(Checks.liveAnswer(committed, Seq(k(300), k(300, 1)), Right((150L, Long.MaxValue))).nonEmpty)
  }

  test("object-format parsers read the served message identity") {
    val msg = """{"streamId":"live","streamPartition":2,"timestamp":1700000000123,""" +
      """"sequenceNumber":42,"publisherId":"pub-0","msgChainId":"0","prevMsgRef":null,""" +
      """"encryptionType":0,"content":"{\"k\": 1}","signatureType":0,"signature":null}"""
    assert(LivePublish.seqOf(msg) == 42)
    assert(ResendMix.keyOf(msg) == Key(1700000000123L, 42, "pub-0", "0"))
  }

  test("call-site module and interval coverage") {
    assert(Trace.moduleOf("parquet at MessageStore.scala:253") == "MessageStore")
    assert(Trace.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 35) == 25)
    assert(Trace.covered(Nil, 0, 10) == 0)
  }
}
