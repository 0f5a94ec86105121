package graft

import java.nio.file.Files

import graft.serve.QueryApi
import graft.serve.QueryApi.{ApiError, QueryRequest}
import graft.serve.Resend

/** Port of the reference's endpoint error-contract cases
  * (`test/unit/http/DataQueryEndpoints.test.ts:39-150`) against the pure
  * params→frames layer (auth/transport cases are server concerns, out of
  * scope per SURVEY §2.1). */
class QueryApiSpec extends SparkSpec {

  private lazy val engine = {
    val e = new GraftEngine(spark,
      Files.createTempDirectory("graft-queryapi").toString)
    assert(e.publish(streamDataOf(
      msg("streamId", 0, 1000L, 0),
      msg("streamId", 0, 2000L, 0, "pub-a", "chain-a"),
      msg("streamId", 0, 3000L, 1)), nowMs = 10000L) == 3)
    e
  }

  private def get(endpoint: String, partition: String = "0",
      query: Map[String, String] = Map.empty) =
    QueryApi.handle(engine, QueryRequest(endpoint, "streamId", partition, query))

  private def errorOf(r: Either[ApiError, Iterator[Resend.Frame]]): ApiError =
    r.swap.getOrElse(fail("expected an ApiError"))

  private def unicasts(r: Either[ApiError, Iterator[Resend.Frame]]): Seq[String] =
    r.getOrElse(fail("expected frames")).collect {
      case Resend.Unicast(m) => m
    }.toSeq

  test("""400 if path parameter "partition" is not a number""") {
    assert(errorOf(get("last", partition = "zero")) ==
      ApiError(400, """Path parameter "partition" not a number: zero"""))
  }

  test("""400 if optional parameter "count" is not a number""") {
    assert(errorOf(get("last", query = Map("count" -> "sixsixsix"))) ==
      ApiError(400, """Query parameter "count" not a number: sixsixsix"""))
  }

  test("""400 if the format parameter is invalid""") {
    assert(errorOf(get("last", query = Map("format" -> "foobar"))) ==
      ApiError(400, """Query parameter "format" is invalid: foobar"""))
  }

  test("""400 for an invalid publisherId+msgChainId combination in range""") {
    val base = Map("fromTimestamp" -> "1000", "toTimestamp" -> "2000",
      "fromSequenceNumber" -> "1", "toSequenceNumber" -> "2")
    Seq("publisherId" -> "foo", "msgChainId" -> "bar").foreach { kv =>
      assert(errorOf(get("range", query = base + kv)) ==
        ApiError(400, """Invalid combination of "publisherId" and "msgChainId""""))
    }
  }

  test("""from: "fromTimestamp" is required and must be numeric""") {
    assert(errorOf(get("from")) ==
      ApiError(400, """Query parameter "fromTimestamp" required."""))
    assert(errorOf(get("from", query = Map("fromTimestamp" -> "endoftheworld"))) ==
      ApiError(400,
        """Query parameter "fromTimestamp" not a number: endoftheworld"""))
  }

  test("""range: legacy offset params rejected; both timestamps required""") {
    assert(errorOf(get("range", query = Map("fromOffset" -> "100"))) ==
      ApiError(400, "Query parameters \"fromOffset\" and \"toOffset\" are no " +
        "longer supported. Please use \"fromTimestamp\" and \"toTimestamp\"."))
    assert(errorOf(get("range")) ==
      ApiError(400, """Query parameter "fromTimestamp" required."""))
    assert(errorOf(get("range", query = Map("fromTimestamp" -> "1000"))) ==
      ApiError(400, "Query parameter \"toTimestamp\" required as well. To " +
        "request all messages since a timestamp, use the endpoint " +
        "/streams/:id/data/partitions/:partition/from"))
    assert(errorOf(get("range",
      query = Map("fromTimestamp" -> "1000", "toTimestamp" -> "later"))) ==
      ApiError(400, """Query parameter "toTimestamp" not a number: later"""))
  }

  test("unsupported or junk protocol version is a fail-fast 400") {
    assert(errorOf(get("last",
      query = Map("format" -> "protocol", "version" -> "x"))) ==
      ApiError(400, """Query parameter "version" not a number: x"""))
    val e = errorOf(get("last",
      query = Map("format" -> "protocol", "version" -> "29")))
    assert(e.status == 400 && e.error.contains("Unsupported protocol version 29"))
    // out-of-int32 versions must NOT wrap into a supported one
    // (4294967327.toInt == 31) — the reference's serialize throws
    val big = errorOf(get("last",
      query = Map("format" -> "protocol", "version" -> "4294967327")))
    assert(big.status == 400 &&
      big.error.contains("Unsupported protocol version 4294967327"), big)
  }

  test("unsupported version is a 400 even when no row would be served") {
    // absent partition and count=0 both answer from no store rows; the
    // version is still checked, before the store is touched
    Seq(get("last", partition = "7",
        query = Map("format" -> "protocol", "version" -> "29")),
      get("last", query = Map("count" -> "0", "format" -> "protocol",
        "version" -> "29"))).foreach { r =>
      val e = errorOf(r)
      assert(e.status == 400 && e.error.contains("Unsupported protocol version 29"), e)
    }
  }

  test("parameter validation precedes the oversized-partition empty answer") {
    // bogus format + oversized partition: the reference validates the
    // request before querying storage, so this is a 400, not no_resend
    val e = errorOf(get("last", partition = "99999999999999999999",
      query = Map("format" -> "bogus")))
    assert(e.status == 400 && e.error.contains("\"format\" is invalid"), e)
  }

  test("last: default count=1, JS parseInt tolerates junk tails") {
    assert(unicasts(get("last")).size == 1)
    assert(unicasts(get("last", query = Map("count" -> "2abc"))).size == 2)
  }

  test("JS parseInt hex semantics: 0x prefix is radix 16, bare 0x is NaN") {
    // the reference's partition middleware uses radix-less parseInt, so
    // path '0x1A' IS partition 26 — parsing it as 0 would silently serve
    // partition 0's data to a hex request
    import graft.serve.QueryApi.jsParseInt
    assert(jsParseInt("0x1A").contains(26L))
    assert(jsParseInt("0X1a").contains(26L))
    assert(jsParseInt("-0x10").contains(-16L))
    assert(jsParseInt("0x").isEmpty)   // parseInt('0x') is NaN, not 0
    assert(jsParseInt("0xZZ").isEmpty)
    assert(jsParseInt("0x1AZZ").contains(26L)) // junk tail still ignored
    // partition 0x1A holds no data → empty resend, NOT partition 0's rows
    val frames = get("last", partition = "0x1A").getOrElse(fail("frames"))
    assert(frames.collect { case Resend.Unicast(m) => m }.isEmpty)
    assert(unicasts(get("last", partition = "0x0")).size == 1)
    // beyond int64: JS parseInt still yields a (huge) number, so the
    // request must take the out-of-int32 empty path, not a 400
    assert(jsParseInt("0x10000000000000000").contains(Long.MaxValue))
    assert(jsParseInt("99999999999999999999").contains(Long.MaxValue))
    val huge = get("last", partition = "0x10000000000000000").getOrElse(fail("frames"))
    assert(huge.collect { case Resend.Unicast(m) => m }.isEmpty)
  }

  test("internal IllegalArgumentException is not masked as a client 400") {
    import graft.serve.BadRequestException
    // only the dedicated BadRequestException maps to 400 at the dispatch
    // conversion site; a bare IllegalArgumentException from an internal
    // require() on the read path is an engine bug and must propagate to
    // the caller as a server-side failure, not be reported as the
    // client's fault
    assert(QueryApi.asBadRequest[Unit](throw new BadRequestException("nope"))
      == Left(ApiError(400, "nope")))
    val err = intercept[IllegalArgumentException] {
      QueryApi.asBadRequest[Unit](
        throw new IllegalArgumentException("requirement failed: internal"))
    }
    assert(!err.isInstanceOf[BadRequestException]
      && err.getMessage.contains("internal"))
  }

  test("last serves the requested protocol version") {
    val v30 = unicasts(get("last",
      query = Map("count" -> "1", "format" -> "protocol", "version" -> "30")))
    assert(v30.size == 1 && v30.head.startsWith("[30,["))
  }

  test("from honors sequence bound and publisher filter") {
    // from ts=2000 seq=1: excludes (2000,0) and the earlier row
    assert(unicasts(get("from", query = Map(
      "fromTimestamp" -> "2000", "fromSequenceNumber" -> "1"))).size == 1)
    assert(unicasts(get("from", query = Map(
      "fromTimestamp" -> "0", "publisherId" -> "pub-a"))).size == 1)
  }

  test("range applies both bounds and the publisher/chain pair") {
    assert(unicasts(get("range", query = Map(
      "fromTimestamp" -> "1000", "toTimestamp" -> "2000"))).size == 2)
    assert(unicasts(get("range", query = Map(
      "fromTimestamp" -> "0", "toTimestamp" -> "9000",
      "publisherId" -> "pub-a", "msgChainId" -> "chain-a"))).size == 1)
    // toSequenceNumber=0 falls to MAX (the reference's `|| MAX` quirk)
    assert(unicasts(get("range", query = Map(
      "fromTimestamp" -> "0", "toTimestamp" -> "3000",
      "toSequenceNumber" -> "0"))).size == 3)
  }
}
