package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}

import scala.util.Random

/** Seeded input generators. Every workload input is a pure function of
  * the seed (and of sizes fixed in the workload), so the same seed gives
  * the same events, live schedule and request mix on any machine. */
object Gen {

  /** The stream-parts of the `events → stream_data` mapping
    * (`graft.sources.Tables.streamData`): stream = event type, partition =
    * user id mod 8. */
  val Streams: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")
  val Partitions = 8
  val StaticParts: IndexedSeq[(String, Int)] =
    for (s <- Streams; p <- 0 until Partitions) yield (s, p)

  val DayMs = 86400000L
  /** 2024-01-01T00:00Z, the start of the generated event span. */
  val SpanStartMs = 1704067200000L

  def ntz(ms: Long): LocalDateTime =
    LocalDateTime.ofInstant(Instant.ofEpochMilli(ms), ZoneOffset.UTC)

  /** One row of the generated `events` table (the testdata schema). */
  final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
      event_type: String, value: Double, props: String)

  /** `n` events over `days` days. Timestamps are whole milliseconds and
    * strictly increase with `event_id` (one jittered slot per event), so
    * no two events share a uniqueness key: the store's replay merge must
    * never collapse two distinct generated messages. */
  def events(seed: Long, n: Int, days: Int): Array[Event] = {
    val rnd = new Random(seed)
    val slot = days * DayMs / n
    Array.tabulate(n) { i =>
      val ms = SpanStartMs + i * slot + rnd.nextLong(slot)
      Event(i.toLong, ntz(ms), rnd.nextInt(1500).toLong,
        Streams(rnd.nextInt(Streams.size)),
        math.rint(rnd.nextDouble() * 50000) / 100, s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  /** The stream_data view of one event, as `Tables.streamData` derives it
    * (the fields the benchmark's oracles compare on). */
  final case class Msg(streamId: String, partition: Int, tsMs: Long, seq: Int,
      publisher: String, chain: String, payload: String) {
    def key: Key = Key(tsMs, seq, publisher, chain)
  }

  /** A message's identity and order key within its stream-part. */
  final case class Key(tsMs: Long, seq: Int, publisher: String, chain: String)

  object Key {
    implicit val ordering: Ordering[Key] =
      Ordering.by((k: Key) => (k.tsMs, k.seq, k.publisher, k.chain))
  }

  def toMsg(e: Event): Msg = Msg(e.event_type, (e.user_id % 8).toInt,
    e.ts.toInstant(ZoneOffset.UTC).toEpochMilli, (e.event_id % 16).toInt,
    s"pub-${e.user_id % 4}", (e.user_id % 2).toString, e.props)

  // ---- live_publish ----

  /** Kinds of live message: accepted, or rejected by the publish gate. */
  val Valid = 0
  val FutureTs = 1
  val NotJson = 2

  /** One scheduled live publish. `seq` is unique across the run, so a
    * delivered message identifies its schedule slot. */
  final case class LiveMsg(seq: Int, part: Int, dueOffsetMs: Long, kind: Int, k: Int)

  /** `ticks` ticks of `perTick` messages, tick `t` due at `t * tickMs`.
    * `invalidEvery`: one message in that many is invalid, alternating
    * future timestamp and non-JSON payload. Parts index [[StaticParts]]. */
  def liveSchedule(seed: Long, ticks: Int, perTick: Int, tickMs: Long,
      invalidEvery: Int): Array[Array[LiveMsg]] = {
    val rnd = new Random(seed * 31 + 7)
    var seq = 0
    Array.tabulate(ticks) { t =>
      Array.fill(perTick) {
        val kind =
          if (rnd.nextInt(invalidEvery) != 0) Valid
          else if (rnd.nextBoolean()) FutureTs else NotJson
        val m = LiveMsg(seq, rnd.nextInt(StaticParts.size), t * tickMs, kind, rnd.nextInt(100))
        seq += 1
        m
      }
    }
  }

  /** `n` distinct part indices to subscribe to. */
  def subscribedParts(seed: Long, n: Int): IndexedSeq[Int] =
    new Random(seed * 17 + 3).shuffle((0 until StaticParts.size).toIndexedSeq).take(n).sorted

  // ---- resend_mix ----

  sealed trait Req { def part: Int }
  final case class Last(part: Int, count: Int) extends Req
  /** `fromMs`/`toMs` are absolute for static parts; for live parts they
    * are offsets back from the issue time (see [[ResendMix]]). */
  final case class From(part: Int, fromMs: Long) extends Req
  final case class Range(part: Int, fromMs: Long, toMs: Long) extends Req
  final case class Meta(part: Int) extends Req

  val LastCounts: IndexedSeq[Int] = IndexedSeq(1, 10, 100, 1000)

  /** Zipf(s = 1) over `nParts`: part 0 is the most requested. */
  final class Zipf(nParts: Int, rnd: Random) {
    private val cdf = {
      val w = (1 to nParts).map(1.0 / _)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = cdf.indexWhere(_ >= u)
      if (i < 0) nParts - 1 else i
    }
  }

  /** Request types (0 last, 1 from, 2 range, 3 metadata) in a cycle of 20
    * holding 60/15/15/10%, spread so that any run of a few requests is
    * already close to that mix: a short timed window then sees the same
    * mix whatever the seed. */
  val TypeCycle: IndexedSeq[Int] = {
    val target = IndexedSeq(12, 3, 3, 2)
    val used = Array(0, 0, 0, 0)
    (1 to 20).map { i =>
      val t = target.indices.maxBy(t => target(t) * i / 20.0 - used(t))
      used(t) += 1
      t
    }
  }

  /** Every this many requests one goes to a live part. */
  val LiveEvery = 5

  /** Static parts hottest first: a seeded order for the Zipf ranks. */
  def staticOrder(seed: Long, nStatic: Int): IndexedSeq[Int] =
    new Random(seed).shuffle((0 until nStatic).toIndexedSeq)

  /** Reader `reader`'s request sequence: types follow [[TypeCycle]] from
    * position `cycleStart` (one-day range windows), so the types a reader
    * issues in a window are the same whatever the seed. Every
    * [[LiveEvery]]th request goes to a live part (indices `firstLive` until
    * `nParts`, windows as offsets back from the issue time); the others to
    * a static part, Zipf-skewed over [[staticOrder]]. */
  def requests(seed: Long, reader: Int, n: Int, nParts: Int, firstLive: Int,
      days: Int, cycleStart: Int = 0): IndexedSeq[Req] = {
    val rnd = new Random(seed * 1000003L + reader)
    val order = staticOrder(seed, firstLive)
    val zipf = new Zipf(firstLive, rnd)
    IndexedSeq.tabulate(n) { i =>
      val live = i % LiveEvery == LiveEvery - 1
      val part = if (live) firstLive + rnd.nextInt(nParts - firstLive) else order(zipf.next())
      val u = TypeCycle((cycleStart + i) % TypeCycle.size)
      if (u == 0) Last(part, LastCounts(rnd.nextInt(LastCounts.size)))
      else if (u == 1) From(part,
        if (live) 1000L + rnd.nextInt(20000) else SpanStartMs + rnd.nextLong(days * DayMs))
      else if (u == 2) {
        if (live) { val back = 1000L + rnd.nextInt(20000); Range(part, back, back - 1000L) }
        else { val f = SpanStartMs + rnd.nextLong((days - 1) * DayMs); Range(part, f, f + DayMs) }
      } else Meta(part)
    }
  }
}
