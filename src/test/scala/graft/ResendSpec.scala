package graft

import graft.operators.BrokerQueries.MsgRef
import graft.serve.{Resend, SubscriptionRegistry}

class ResendSpec extends SparkSpec {

  test("resend envelope: resending, ascending unicasts, resent (RequestHandler.ts:151-215)") {
    val sd = streamDataOf(
      msg("s", 0, 3000, 0), msg("s", 0, 1000, 0), msg("s", 0, 2000, 0))
    val frames = Resend.last(sd, "s", 0, 2).toSeq
    assert(frames.map(_.kind) == Seq("resending", "unicast", "unicast", "resent"))
    val ts = frames.collect { case Resend.Unicast(m) =>
      "\"timestamp\":(\\d+)".r.findFirstMatchIn(m).get.group(1).toLong }
    assert(ts == Seq(2000L, 3000L)) // latest-2, ascending
  }

  test("empty resend yields a single no_resend (broker.test.ts empty-resend [])") {
    val sd = streamDataOf(msg("s", 0, 1000, 0))
    assert(Resend.last(sd, "unknown", 0, 10).toSeq == Seq(Resend.NoResend()))
    assert(Resend.from(sd, "s", 99, MsgRef(0, 0)).toSeq == Seq(Resend.NoResend()))
    assert(Resend.range(sd, "s", 0, MsgRef(5000, 0), MsgRef(9000, 0)).toSeq ==
      Seq(Resend.NoResend()))
  }

  test("subscribe rejects an unknown format name") {
    val reg = new SubscriptionRegistry()
    intercept[IllegalArgumentException](reg.subscribe("c", "s", 0, format = "bogus"))
  }

  test("fan-out: subscribers receive only their stream-part (local-propagation)") {
    val reg = new SubscriptionRegistry()
    val a = reg.subscribe("client-a", "s", 0)
    val b = reg.subscribe("client-b", "t", 1)
    reg.dispatch(streamDataOf(
      msg("s", 0, 1000, 0), msg("s", 1, 1000, 0), msg("t", 1, 2000, 0)), 0L)
    assert(a.queue.size() == 1)
    assert(a.queue.poll().contains("\"streamId\":\"s\""))
    assert(b.queue.size() == 1)
    assert(b.queue.poll().contains("\"timestamp\":2000"))
    reg.unsubscribe("client-a")
    reg.dispatch(streamDataOf(msg("s", 0, 3000, 0)), 1L)
    assert(a.queue.isEmpty)
  }

  test("per-subscription format: protocol subscriber gets the v31 array shape") {
    val reg = new SubscriptionRegistry()
    val obj = reg.subscribe("obj-client", "s", 0) // default object
    val proto = reg.subscribe("proto-client", "s", 0, format = "protocol")
    reg.dispatch(streamDataOf(msg("s", 0, 1000, 0, payload = "{}")), 0L)
    assert(obj.queue.poll().startsWith("{\"streamId\":\"s\""))
    assert(proto.queue.poll() ==
      """[31,["s",0,1000,0,"publisher","1"],null,27,0,"{}",0,null]""")
  }

  test("one subscriber holds many stream-part subscriptions; partial unsubscribe") {
    val reg = new SubscriptionRegistry()
    val s0 = reg.subscribe("client", "s", 0)
    val t1 = reg.subscribe("client", "t", 1) // second subscription, same client
    reg.dispatch(streamDataOf(msg("s", 0, 1000, 0), msg("t", 1, 2000, 0)), 0L)
    assert(s0.queue.size() == 1 && t1.queue.size() == 1) // both live at once
    reg.unsubscribe("client", "s", 0) // drop one, keep the other
    reg.dispatch(streamDataOf(msg("s", 0, 3000, 0), msg("t", 1, 4000, 0)), 1L)
    assert(s0.queue.size() == 1 && t1.queue.size() == 2)
    reg.unsubscribe("client") // connection close drops the rest
    reg.dispatch(streamDataOf(msg("t", 1, 5000, 0)), 2L)
    assert(t1.queue.size() == 2)
  }

  test("fan-out index: among many subscriptions on other parts, a part's " +
      "subscribers get exactly their rows, each in its own format") {
    val reg = new SubscriptionRegistry()
    val others = (0 until 200).map(i => reg.subscribe(s"other-$i", s"x$i", i % 7))
    val obj = reg.subscribe("obj-client", "s", 0)
    val proto = reg.subscribe("proto-client", "s", 0, format = "protocol")
    val raw = reg.subscribe("raw-client", "t", 1, format = "raw")
    reg.unsubscribe("other-3", "x3", 3)
    reg.dispatch(streamDataOf(
      msg("s", 0, 1000, 0), msg("s", 0, 2000, 1), msg("s", 1, 1000, 0),
      msg("t", 1, 3000, 0), msg("x3", 3, 1000, 0), msg("x5", 5, 1000, 0)), 0L)
    def drain(sub: reg.Subscription) =
      Iterator.continually(sub.queue.poll()).takeWhile(_ != null).toSeq.sorted
    assert(drain(obj).map(seqOf) == Seq(0, 1))
    assert(drain(proto) == Seq(
      """[31,["s",0,1000,0,"publisher","1"],null,27,0,"{}",0,null]""",
      """[31,["s",0,2000,1,"publisher","1"],null,27,0,"{}",0,null]"""))
    assert(drain(raw) == Seq(
      """[31,["t",1,3000,0,"publisher","1"],null,27,0,"{}",0,null]"""))
    assert(drain(others(5)).size == 1)
    assert((others.take(5) ++ others.drop(6)).forall(_.queue.isEmpty))
  }

  private def seqOf(objectMsg: String): Int =
    "\"sequenceNumber\":(\\d+)".r.findFirstMatchIn(objectMsg).get.group(1).toInt

  test("resend-while-live: historical envelope first, then queued live rows") {
    val reg = new SubscriptionRegistry()
    val sd = streamDataOf(msg("s", 0, 1000, 0))
    // live rows arrive before the client drains: queued behind the resend
    val it = reg.resendThenLive(sd, "c1", "s", 0, lastN = 10)
    reg.dispatch(streamDataOf(msg("s", 0, 5000, 1)), 0L)
    val frames = it.toSeq
    assert(frames.map(_.kind) == Seq("resending", "unicast", "resent", "unicast"))
    assert(frames.last.asInstanceOf[Resend.Unicast].msg.contains("\"timestamp\":5000"))
  }
}
