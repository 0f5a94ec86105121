package graft.serve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** The reference's HTTP result formats (S10 — `src/http/DataQueryFormat.ts:
  * 11-46`): `object` (JSON of `toObject()`), `protocol` (serialized message
  * array), `raw` (newline-delimited serialized). Here each format is a
  * narrow projection producing one string column, so formatting work runs
  * inside the read's own plan: `last` collects its clamped top-K already
  * formatted, `from`/`range` pull their rows incrementally with
  * `toLocalIterator` (the reference's header/delimiter/footer framing is a
  * serving-layer concern, not a plan concern).
  *
  * `content` is carried as the stored serialized string, exactly like the
  * reference's payload blob round-trip (`DataQueryFormat.ts:33-40` formats
  * re-serialize the stored message rather than re-encode content).
  */
object Formats {

  /** The format names every entry point accepts: the HTTP `format`
    * parameter, [[wire]], [[frame]] and live subscriptions. */
  val Names: Seq[String] = Seq("object", "protocol", "raw")

  /** The message for a name outside [[Names]]. */
  def unknown(name: String): String =
    s"Unknown format '$name' (supported: ${Names.mkString(", ")})"

  /** JSON.stringify's full escape table: backslash and quote first (so
    * later-inserted backslashes are never re-escaped), the five
    * short-form controls (\b \t \n \f \r), and \u00xx for every other
    * control char — RFC 8259 requires ALL of U+0000–U+001F escaped, and
    * the store's "only ever holds JSON" invariant rides on it. ONE Scala
    * source of truth: the DuckDB oracle's replace chain is generated
    * from this same list. */
  val JsonEscapes: Seq[(String, String)] =
    Seq("\\" -> "\\\\", "\"" -> "\\\"") ++
      (0x00 until 0x20).map { i =>
        val to = i match {
          case 0x08 => "\\b"
          case 0x09 => "\\t"
          case 0x0A => "\\n"
          case 0x0C => "\\f"
          case 0x0D => "\\r"
          case _ => f"\\u$i%04x"
        }
        i.toChar.toString -> to
      }

  /** [[JsonEscapes]] applied to a string column in one native pass
    * ([[JsonEscape]]). The table's replace chain, expressible identically
    * in any engine, is what the DuckDB oracle runs; the native pass gives
    * the same string, because each replacement inserts only characters the
    * later entries leave alone. One expression instead of a 34-deep
    * replace chain per field keeps planning a formatted read cheap. */
  def jsonEscape(c: Column): Column =
    Bridge.column(JsonEscape(Bridge.expression(c.cast("string"))))

  /** NTZ → epoch ms under the engine's NTZ-as-UTC convention. The cast
    * goes through the session timezone, which [[graft.GraftEngine]] and
    * every main pin to UTC — callers embedding Formats elsewhere must do
    * the same (a non-UTC session would shift every served timestamp). */
  private def epochMs(ts: Column): Column = unix_millis(ts.cast("timestamp"))

  /** Previous-message reference `[epochMs,seq]`, SQL-NULL for a chain-head
    * message (prevMsgRef is nullable in the reference contract,
    * `Storage.test.ts:24-44`). Built with `when` (no otherwise) so each
    * version picks its own absent-ref rendering; kept out of bare `concat`,
    * which would null the whole message string. */
  private def prevRefJsonNotNull: Column =
    when(col("prev_ts").isNotNull,
      concat(lit("["), epochMs(col("prev_ts")), lit(","),
        col("prev_sequence_no"), lit("]")))

  /** Absent prev-ref as the literal `null` (v31/v32 and object format). */
  private def prevRefJson: Column = coalesce(prevRefJsonNotNull, lit("null"))

  /** Nullable string field as a JSON fragment: quoted or literal `null`. */
  private def quotedOrNull(c: Column): Column =
    when(c.isNotNull, concat(lit("\""), jsonEscape(c), lit("\"")))
      .otherwise(lit("null"))

  /** Signature as a JSON fragment: quoted string or literal `null`. */
  private def signatureJson: Column = quotedOrNull(col("signature"))

  /** `object` format — the reference's `toObject()` JSON shape
    * (`DataQueryFormat.ts:33-36`), field order fixed. Serves the complete
    * stored envelope: prev-ref, encryption marker, and signature round-trip
    * verbatim (encrypted content is served as stored — the engine never
    * decrypts, `DataProduceEndpoints.ts:86-113`). */
  def objectJson: Column =
    concat(
      lit("{\"streamId\":\""), jsonEscape(col("stream_id")),
      lit("\",\"streamPartition\":"), col("stream_partition"),
      lit(",\"timestamp\":"), epochMs(col("ts")),
      lit(",\"sequenceNumber\":"), col("sequence_no"),
      lit(",\"publisherId\":\""), jsonEscape(col("publisher_id")),
      lit("\",\"msgChainId\":\""), jsonEscape(col("msg_chain_id")),
      lit("\",\"prevMsgRef\":"), prevRefJson,
      lit(",\"encryptionType\":"), col("encryption_type"),
      lit(",\"content\":\""), jsonEscape(col("payload")),
      lit("\",\"signatureType\":"), col("signature_type"),
      lit(",\"signature\":"), signatureJson,
      lit("}"))

  /** Message-id tuple shared by every protocol version:
    * `["streamId",partition,ts,seq,"publisherId","msgChainId"]`. */
  private def msgIdJson: Column =
    concat(
      lit("[\""), jsonEscape(col("stream_id")),
      lit("\","), col("stream_partition"),
      lit(","), epochMs(col("ts")),
      lit(","), col("sequence_no"),
      lit(",\""), jsonEscape(col("publisher_id")),
      lit("\",\""), jsonEscape(col("msg_chain_id")),
      lit("\"]"))

  /** `protocol`/`raw` format, version-parameterized like the reference's
    * `streamMessage.serialize(version)` (`DataQueryFormat.ts:11-46`, version
    * threaded from the query string in `DataQueryEndpoints.ts:72-95`).
    * Supported shapes follow the public streamr-client-protocol message
    * serializers:
    *  - 30: `[30,[msgId...],prevRefOr[null,null],contentType,content,
    *    sigType,signature]` — no encryption marker; an absent prev-ref
    *    serializes as `[null,null]`, not `null`;
    *  - 31 (default, `FIXTURES.md §3`): `[31,[msgId...],prevRefOrNull,
    *    contentType,encryptionType,content,sigType,signature]`;
    *  - 32: `[32,[msgId...],prevRefOrNull,messageType,contentType,
    *    encryptionType,groupKeyId,content,newGroupKey,sigType,signature]`
    *    — v32 renumbered: messageType 27 (stream message), contentType 0
    *    (JSON); `groupKeyId`/`newGroupKey` serve the stored envelope
    *    columns (null for unencrypted rows), so AES rows served in v32
    *    are key-resolvable by a protocol client.
    * Every envelope field comes from the stored row — nothing is
    * hardcoded, so signed and encrypted messages round-trip exactly as the
    * reference stores them. An unsupported version throws
    * `IllegalArgumentException`, mirroring the reference's
    * `UnsupportedVersionError` from `streamMessage.serialize(version)` —
    * only an *absent* version parameter defaults to 31 (see [[format]]). */
  def protocolJson(version: Int): Column = version match {
    case 30 =>
      concat(
        lit("[30,"), msgIdJson,
        lit(","), coalesce(prevRefJsonNotNull, lit("[null,null]")),
        lit(",27,\""), jsonEscape(col("payload")),
        lit("\","), col("signature_type"),
        lit(","), signatureJson,
        lit("]"))
    case 32 =>
      concat(
        lit("[32,"), msgIdJson,
        lit(","), prevRefJson,
        lit(",27,0,"), col("encryption_type"),
        lit(","), quotedOrNull(col("group_key_id")),
        lit(",\""), jsonEscape(col("payload")),
        lit("\","), quotedOrNull(col("new_group_key")),
        lit(","), col("signature_type"),
        lit(","), signatureJson,
        lit("]"))
    case 31 =>
      concat(
        lit("[31,"), msgIdJson,
        lit(","), prevRefJson,
        lit(",27,"), col("encryption_type"),
        lit(",\""), jsonEscape(col("payload")),
        lit("\","), col("signature_type"),
        lit(","), signatureJson,
        lit("]"))
    case v => throw new BadRequestException(
      s"Unsupported protocol version $v (supported: 30, 31, 32)")
  }

  /** Default-version (v31) protocol shape. */
  def protocolJson: Column = protocolJson(31)

  /** Apply a named format (`object` | `protocol` | `raw`) as the single
    * output column, mirroring `DataQueryFormat.getFormat`
    * (`DataQueryFormat.ts:43-46`) with the optional protocol `version`
    * (`DataQueryEndpoints.ts:79`; None = the protocol's current default).
    * An unknown name throws, matching the endpoint's 400 guard — like
    * [[protocolJson]], only the ABSENT parameter defaults (to `object`).
    * `raw` and `protocol` differ only in HTTP framing, which lives in the
    * serving layer. */
  def format(messages: DataFrame, name: String, version: Option[Int] = None): DataFrame =
    messages.select(wire(name, version).as("msg"))

  /** The string column [[format]] projects. Building it validates the
    * format name and version, so a caller can reject a bad request before
    * it touches the store. */
  def wire(name: String, version: Option[Int] = None): Column =
    name match {
      case "protocol" | "raw" => protocolJson(version.getOrElse(31))
      case "object" => objectJson
      case other => throw new BadRequestException(unknown(other))
    }

  /** HTTP body chunks for a formatted result — the reference's incremental
    * header/delimiter/footer framing (`DataQueryEndpoints.ts:20-52`):
    * `object`/`protocol` stream a JSON array (`[`, `,`-joined messages,
    * `]`; an empty result is `[]`), `raw` streams newline-delimited
    * messages with no wrapper. Pull-based over `toLocalIterator` like
    * [[Resend.envelope]] — one result partition in driver memory at a
    * time, chunks flushable as they are produced. */
  def frame(formatted: DataFrame, name: String): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    val rows = formatted.toLocalIterator().asScala.map(_.getString(0))
    name match {
      case "raw" => rows.map(_ + "\n")
      case "object" | "protocol" =>
        val joined = rows.zipWithIndex.map { case (m, i) => if (i == 0) m else "," + m }
        Iterator("[") ++ joined ++ Iterator("]")
      case other => throw new BadRequestException(unknown(other))
    }
  }
}

/** [[Formats.JsonEscapes]] as one Catalyst expression: a single pass over
  * the UTF-8 bytes (an ASCII byte never occurs inside a multi-byte
  * sequence), null in, null out; a string with nothing to escape is
  * returned as is. */
case class JsonEscape(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def prettyName: String = "json_escape"

  override def nullSafeEval(s: Any): Any = JsonEscape.escape(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.serve.JsonEscape.escape($s)")

  override protected def withNewChildInternal(newChild: Expression): JsonEscape =
    copy(child = newChild)
}

object JsonEscape {

  /** Replacement bytes per ASCII byte; null where the byte stays. */
  private val table: Array[Array[Byte]] = {
    val t = new Array[Array[Byte]](128)
    Formats.JsonEscapes.foreach { case (from, to) =>
      t(from.charAt(0).toInt) = to.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    t
  }

  private def escaped(b: Byte): Boolean = b >= 0 && table(b.toInt) != null

  /** Static entry point shared by interpreted eval and generated code. */
  def escape(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length && !escaped(bytes(i))) i += 1
    if (i == bytes.length) s
    else {
      val out = new java.io.ByteArrayOutputStream(bytes.length + 16)
      out.write(bytes, 0, i)
      while (i < bytes.length) {
        val b = bytes(i)
        if (escaped(b)) out.write(table(b.toInt)) else out.write(b.toInt)
        i += 1
      }
      UTF8String.fromBytes(out.toByteArray)
    }
  }
}

/** Client-input validation failure — the engine analog of the reference's
  * `UnsupportedVersionError` family: the request named a format or wire
  * version the protocol does not define. A dedicated type (not a bare
  * `IllegalArgumentException`) so the serving layer can map EXACTLY these
  * to HTTP 400 without also masking internal `require` failures from the
  * read path as client errors; subclasses IllegalArgumentException so
  * callers treating it as a plain argument error keep working. */
final class BadRequestException(msg: String) extends IllegalArgumentException(msg)
