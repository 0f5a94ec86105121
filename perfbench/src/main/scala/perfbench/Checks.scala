package perfbench

import perfbench.Gen.Key

/** Output checkers. Each returns the problems it found (empty = correct),
  * so a run can count a wrong answer as a failed operation and print why. */
object Checks {

  /** live_publish: the messages not delivered exactly once: expected ones
    * missing or repeated, and any delivery that was not expected (an
    * invalid message must never reach a subscriber). */
  def deliveries(expected: Set[Int], delivered: Iterable[Int]): Set[Int] = {
    val counts = delivered.groupBy(identity).map { case (s, xs) => s -> xs.size }
    expected.filterNot(counts.contains) ++
      counts.collect { case (s, n) if n > 1 || !expected(s) => s }
  }

  /** live_publish: per stream-part stored row counts equal the accepted
    * counts (a stored invalid row or a lost valid row shows here). */
  def storedCounts(expected: Map[String, Long], stored: Map[String, Long]): Seq[String] =
    (expected.keySet ++ stored.keySet).toSeq.sorted.flatMap { p =>
      val (e, s) = (expected.getOrElse(p, 0L), stored.getOrElse(p, 0L))
      if (e == s) None else Some(s"$p stored $s rows, accepted $e")
    }

  /** resend_mix, static parts: the served keys equal the oracle's, in order. */
  def sameAnswer(expected: Seq[Key], served: Seq[Key]): Seq[String] =
    if (expected == served) Nil
    else {
      val i = expected.zipAll(served, null, null).indexWhere { case (a, b) => a != b }
      Seq(s"served ${served.size} rows, oracle ${expected.size}, first difference at row $i")
    }

  /** resend_mix, live parts: `committed` holds the rows whose publish
    * returned before the request was issued. Every such row inside the
    * window must be served, once, and the answer must be in
    * (ts, sequence_no) order. For `last`, the window is everything newer
    * than the oldest row served (all rows when fewer than `lastCount` came
    * back). */
  def liveAnswer(committed: Seq[Key], served: Seq[Key],
      window: Either[Int, (Long, Long)]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (served.distinct.size != served.size) problems += "duplicate rows served"
    if (served != served.sorted) problems += "rows not in (ts, sequence_no) order"
    val inWindow: Key => Boolean = window match {
      case Left(count) =>
        if (served.size < count) _ => true
        else served.minOption.fold((_: Key) => true)(oldest => k => Key.ordering.gt(k, oldest))
      case Right((fromMs, toMs)) => k => k.tsMs >= fromMs && k.tsMs <= toMs
    }
    val have = served.toSet
    val missing = committed.count(k => inWindow(k) && !have.contains(k))
    if (missing > 0) problems += s"$missing committed rows missing (stale answer)"
    problems.result()
  }
}
