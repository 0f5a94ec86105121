package graft.serve

import graft.GraftEngine
import graft.operators.BrokerQueries.MsgRef

/** The reference's REST data-query parameter validation and error contract
  * (`/root/reference/src/http/DataQueryEndpoints.ts:54-56,119-197`) as a
  * pure `request → Either[error, frames]` function over the engine's
  * `last`/`from`/`range` reads. The express/auth/socket plumbing is out of
  * scope per SURVEY §2.1 (library boundary), but the parameter parsing
  * rules and the exact 400 messages are behavior a client observes, so
  * they live here, testable without a server:
  *
  *  - path `partition` must parse as a number (router middleware,
  *    `DataQueryEndpoints.ts:119-127`);
  *  - `format` defaults to `object`, unknown names are 400
  *    (`DataQueryFormat.ts:43-46` lookup + the route's guard);
  *  - `last`: optional `count` (default 1) must parse;
  *  - `from`: `fromTimestamp` required and numeric;
  *    `fromSequenceNumber` optional (default 0); optional `publisherId`;
  *  - `range`: rejects the legacy `fromOffset`/`toOffset` params, requires
  *    numeric `fromTimestamp`/`toTimestamp`, takes optional sequence
  *    bounds, and `publisherId`/`msgChainId` must come together.
  *
  * Numbers parse with JS `parseInt` semantics (leading decimal digits,
  * junk tail ignored, no digits → NaN) so a request that passed the
  * reference passes here. One deliberate tightening: a non-numeric or
  * unsupported protocol `version` is a fail-fast 400, where the reference
  * throws mid-stream after the 200 header is already out
  * (`serialize(NaN)` inside the ResponseTransform) — the same request
  * fails in both engines, this one just fails cleanly. */
object QueryApi {

  /** Sequence-number defaults (`DataQueryEndpoints.ts:17-18`). */
  val MinSequenceNumberValue = 0
  val MaxSequenceNumberValue = 2147483647

  final case class ApiError(status: Int, error: String)

  /** One parsed GET request: `endpoint` ∈ last | from | range, the two
    * path parameters exactly as the router captured them (unparsed), and
    * the query-string map. */
  final case class QueryRequest(
      endpoint: String,
      streamId: String,
      partition: String,
      query: Map[String, String] = Map.empty)

  /** JS radix-less `parseInt` over a query value: optional sign, then a
    * `0x`/`0X` prefix switches to hex — `parseInt('0x1A')` is 26 in every
    * reference parse site, so partition path `0x1A` must serve partition
    * 26 here too, not partition 0 — otherwise leading decimal digits;
    * junk after the digits ignored; no digits → NaN (None here). */
  private[graft] def jsParseInt(s: String): Option[Long] = {
    val t = s.trim
    val neg = t.startsWith("-")
    val body = if (neg || t.startsWith("+")) t.drop(1) else t
    // a bare "0x" prefix claims the hex path even with no digits after it:
    // JS parseInt('0x') is NaN, not 0 from the leading zero
    // values beyond int64 saturate instead of failing: JS parseInt returns
    // a large finite double there (still "a number"), and the caller's
    // out-of-int32 branch answers exactly like the reference does for any
    // oversized partition — a parse failure here would turn that contract
    // into a spurious 400
    def clamped(digits: String, radix: Int): Long = {
      val v = BigInt(digits, radix)
      if (v > Long.MaxValue) Long.MaxValue else v.toLong
    }
    if (body.startsWith("0x") || body.startsWith("0X"))
      "^[0-9a-fA-F]+".r.findFirstIn(body.drop(2))
        .map(h => clamped(h, 16))
        .map(v => if (neg) -v else v)
    else "^[0-9]+".r.findFirstIn(body).map(d => clamped(d, 10))
      .map(v => if (neg) -v else v)
  }

  def handle(engine: GraftEngine, req: QueryRequest)
      : Either[ApiError, Iterator[Resend.Frame]] = {
    def bad(msg: String) = Left(ApiError(400, msg))
    val q = req.query
    jsParseInt(req.partition) match {
      case None =>
        bad(s"""Path parameter "partition" not a number: ${req.partition}""")
      case Some(partitionL) =>
        // format/version validation runs BEFORE the oversized-partition
        // empty answer: the reference validates request parameters in the
        // HTTP handler and only then queries storage, so a bogus format
        // is a 400 even when the partition points at nothing
        val formatName = q.getOrElse("format", "object")
        if (!Formats.Names.contains(formatName))
          bad(s"""Query parameter "format" is invalid: ${q.getOrElse("format", "")}""")
        else {
          val versionRaw = q.get("version")
          val versionL = versionRaw.flatMap(jsParseInt)
          if (versionRaw.isDefined && versionL.isEmpty)
            bad(s"""Query parameter "version" not a number: ${versionRaw.get}""")
          else if (versionL.exists(v => v != v.toInt.toLong))
            // out-of-int32 versions must not wrap into a SUPPORTED one
            // (.toInt of 4294967327 is 31); the reference's serialize
            // throws UnsupportedVersionError for them
            bad(s"Unsupported protocol version ${versionL.get} (supported: 30, 31, 32)")
          else if (partitionL != partitionL.toInt.toLong)
            // a partition number outside int32 exists nowhere; the
            // reference passes the oversized number to storage and
            // streams an empty result — answer no_resend instead of
            // truncating to a partition that DOES exist
            Right(Iterator(Resend.NoResend()))
          else
            asBadRequest(dispatch(engine, req, partitionL.toInt, formatName,
              versionL.map(_.toInt)))
        }
    }
  }

  /** Unsupported wire version / unknown format: Formats throws the
    * dedicated [[BadRequestException]] at plan build — surface it as the
    * fail-fast 400. ONLY that type: a bare IllegalArgumentException from
    * an internal `require` on the read path is an engine bug and must
    * propagate to the caller as a server-side failure, not masquerade as
    * a client error. */
  private[graft] def asBadRequest[T](body: => Either[ApiError, T])
      : Either[ApiError, T] =
    try body
    catch { case e: BadRequestException =>
      Left(ApiError(400, String.valueOf(e.getMessage))) }

  private def dispatch(engine: GraftEngine, req: QueryRequest, partition: Int,
      format: String, version: Option[Int])
      : Either[ApiError, Iterator[Resend.Frame]] = {
    def bad(msg: String) = Left(ApiError(400, msg))
    val q = req.query
    // JS `parseIntIfExists(x) || DEFAULT`: NaN is falsy, so junk falls to
    // the default — and so does an explicit 0 (a quirk the upper bound
    // inherits: toSequenceNumber=0 means MAX there, mirrored faithfully).
    // Out-of-int32 values saturate instead of wrapping: sequence numbers
    // are int32 by protocol contract (MAX_SEQUENCE_NUMBER_VALUE), so a
    // saturated bound is exact unless a row carries seq == Int.MaxValue.
    def seqOr(name: String, default: Long): Int =
      q.get(name).flatMap(jsParseInt).filter(_ != 0L).getOrElse(default)
        .min(Int.MaxValue).max(Int.MinValue).toInt
    def nonEmpty(name: String): Option[String] = q.get(name).filter(_.nonEmpty)
    req.endpoint match {
      case "last" =>
        val countRaw = q.get("count")
        countRaw.map(jsParseInt) match {
          case Some(None) =>
            bad(s"""Query parameter "count" not a number: ${countRaw.get}""")
          case parsed =>
            val n = parsed.flatten.getOrElse(1L)
            Right(engine.last(req.streamId, partition,
              n.min(Int.MaxValue).max(0L).toInt, format, version))
        }
      case "from" =>
        q.get("fromTimestamp") match {
          case None => bad("""Query parameter "fromTimestamp" required.""")
          case Some(raw) => jsParseInt(raw) match {
            case None =>
              bad(s"""Query parameter "fromTimestamp" not a number: $raw""")
            case Some(fromTs) =>
              val fromSeq = seqOr("fromSequenceNumber", MinSequenceNumberValue)
              Right(engine.from(req.streamId, partition,
                MsgRef(fromTs, fromSeq), format, version,
                nonEmpty("publisherId")))
          }
        }
      case "range" =>
        val publisher = nonEmpty("publisherId")
        val msgChain = nonEmpty("msgChainId")
        if (q.contains("fromOffset") || q.contains("toOffset"))
          bad("Query parameters \"fromOffset\" and \"toOffset\" are no longer " +
            "supported. Please use \"fromTimestamp\" and \"toTimestamp\".")
        else (q.get("fromTimestamp"), q.get("toTimestamp")) match {
          case (None, _) => bad("""Query parameter "fromTimestamp" required.""")
          case (Some(fRaw), _) if jsParseInt(fRaw).isEmpty =>
            bad(s"""Query parameter "fromTimestamp" not a number: $fRaw""")
          case (_, None) =>
            bad("Query parameter \"toTimestamp\" required as well. To request " +
              "all messages since a timestamp, use the endpoint " +
              "/streams/:id/data/partitions/:partition/from")
          case (_, Some(tRaw)) if jsParseInt(tRaw).isEmpty =>
            bad(s"""Query parameter "toTimestamp" not a number: $tRaw""")
          case _ if publisher.isDefined != msgChain.isDefined =>
            bad("""Invalid combination of "publisherId" and "msgChainId"""")
          case (Some(fRaw), Some(tRaw)) =>
            Right(engine.range(req.streamId, partition,
              MsgRef(jsParseInt(fRaw).get,
                seqOr("fromSequenceNumber", MinSequenceNumberValue)),
              MsgRef(jsParseInt(tRaw).get,
                seqOr("toSequenceNumber", MaxSequenceNumberValue)),
              format, version, publisher, msgChain))
        }
      case other =>
        Left(ApiError(404, s"Unknown endpoint: $other"))
    }
  }
}
