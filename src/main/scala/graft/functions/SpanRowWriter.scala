package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.lexer.{ByteTokenizer, PatternBank, TokenType}

/** Token-span scratch: 4 ints per token (packed type/schema, start, end, line). */
private[graft] final class SpanBuf {
  var a: Array[Int] = new Array[Int](4 * 64)
  var n: Int = 0 // token count
  def reset(): Unit = n = 0
  def add(tt: Byte, sid: Int, start: Int, end: Int, line: Int): Unit = {
    if (4 * n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
    val o = 4 * n
    a(o) = (tt.toInt << 24) | (sid & 0xFFFFFF)
    a(o + 1) = start
    a(o + 2) = end
    a(o + 3) = line
    n += 1
  }
  @inline def tt(i: Int): Byte = (a(4 * i) >> 24).toByte
  @inline def sid(i: Int): Int = { val s = a(4 * i) & 0xFFFFFF; if (s == 0xFFFFFF) -1 else s }
  @inline def start(i: Int): Int = a(4 * i + 1)
  @inline def end(i: Int): Int = a(4 * i + 2)
  @inline def line(i: Int): Int = a(4 * i + 3)
}

/** How a run of token spans becomes a Tungsten row, for `parse_turn` (a
  * run is a turn) and the raw-log source (a run is one event). [[token]]
  * adds a span and keeps the run's bookkeeping; [[write]] writes the run as
  * a row of `fields`, ids of the companion, in order. The span buffer and
  * the three writers (sharing one growable buffer) are reused across runs,
  * so a row is valid until the next [[write]]. Strings are byte slices of
  * the input: they keep its bytes exactly, invalid UTF-8 included, and
  * decode as the whole input does (token boundaries follow ASCII bytes).
  */
private[graft] final class SpanRowWriter(fields: Array[Int]) extends ByteTokenizer.Sink {
  import SpanRowWriter._

  private val spans = new SpanBuf
  private val rw = new UnsafeRowWriter(fields.length, 256)
  private val aw = new UnsafeArrayWriter(rw, 8)
  private val tw = new UnsafeRowWriter(aw, 4)
  private var bank: PatternBank = _
  private var loglevelId = -1
  private var bracketId = -1
  private var bytes: Array[Byte] = _
  private var toolRole = false
  // the run's bookkeeping, kept span by span
  private var nEol = 0
  private var lastWasEol = false
  private var nTs = 0
  private var firstTsStart = -1
  private var firstTsEnd = -1
  private var tsSchemaId = -1
  private var nErrors = 0
  private var firstErrorLine = -1
  private var toolInvStart = -1
  private var toolInvEnd = -1

  /** Start a run over `bytes`; a `toolRole` run records its tool invocation. */
  def input(bank: PatternBank, bytes: Array[Byte], toolRole: Boolean): Unit = {
    if (bank ne this.bank) {
      this.bank = bank
      loglevelId = bank.loglevelVarId
      bracketId = bank.bracketVarId
    }
    this.bytes = bytes
    this.toolRole = toolRole
    reset()
  }

  /** Start the next run over the same input. */
  def reset(): Unit = {
    spans.reset()
    nEol = 0; lastWasEol = false
    nTs = 0; firstTsStart = -1; firstTsEnd = -1; tsSchemaId = -1
    nErrors = 0; firstErrorLine = -1
    toolInvStart = -1; toolInvEnd = -1
  }

  def isEmpty: Boolean = spans.n == 0

  override def token(tt: Byte, sid: Int, start: Int, end: Int, line: Int): Unit = {
    spans.add(tt, sid, start, end, line)
    lastWasEol = tt == TokenType.StaticTextWithEndLine
    if (lastWasEol) nEol += 1
    else if (tt == TokenType.Timestamp) {
      nTs += 1
      if (firstTsStart < 0) { firstTsStart = start; firstTsEnd = end; tsSchemaId = sid }
    } else if (tt == TokenType.Variable && sid == loglevelId) {
      if (end - start == 5 && matches5(bytes, start)) {
        nErrors += 1
        if (firstErrorLine < 0) firstErrorLine = line
      }
    } else if (tt == TokenType.Variable && sid == bracketId) {
      if (toolRole && toolInvStart < 0 && end - start >= 2) {
        toolInvStart = start + 1; toolInvEnd = end - 1
      }
    }
  }

  /** Write the run as a row of `fields`. The run's category is `errors`
    * when it holds an ERROR/FATAL, else `orElse`. `file` and `eventIdx`
    * are written as given; `lineOffset` shifts every line number.
    */
  def write(orElse: UTF8String, file: UTF8String, eventIdx: Int, lineOffset: Long): UnsafeRow = {
    val n = spans.n
    rw.reset()
    rw.zeroOutNullBytes()
    var i = 0
    while (i < fields.length) {
      (fields(i): @annotation.switch) match {
        case Tokens => writeTokens(i, n, lineOffset)
        case NTokens => rw.write(i, n)
        case HasTimestamp => rw.write(i, firstTsStart >= 0)
        case FirstTs =>
          if (firstTsStart < 0) rw.setNullAt(i)
          else rw.write(i, bytes, firstTsStart, firstTsEnd - firstTsStart)
        case TsExtracted =>
          val micros =
            if (firstTsStart < 0) null else ParseTurnExpression.parseTsMicros(bytes, firstTsStart, firstTsEnd)
          if (micros == null) rw.setNullAt(i) else rw.write(i, micros.longValue())
        case NErrors => rw.write(i, nErrors)
        case ErrorSignature =>
          if (firstErrorLine < 0) rw.setNullAt(i)
          else rw.write(i, UTF8String.fromString(signatureOf(bank, bytes, spans, firstErrorLine)))
        case Category => rw.write(i, if (nErrors > 0) ParseTurnExpression.CAT_ERRORS else orElse)
        case NLines => rw.write(i, 1 + nEol - (if (lastWasEol) 1 else 0))
        // events split before each Timestamp span except a leading one
        case NEvents =>
          rw.write(i, if (n == 0) 0 else 1 + nTs - (if (spans.tt(0) == TokenType.Timestamp) 1 else 0))
        case TsSchemaId => rw.write(i, tsSchemaId)
        case ToolInvocation =>
          if (toolInvStart < 0) rw.setNullAt(i)
          else rw.write(i, bytes, toolInvStart, toolInvEnd - toolInvStart)
        case File => rw.write(i, file)
        case EventIdx => rw.write(i, eventIdx)
        case LineStart => rw.write(i, (spans.line(0) + lineOffset).toInt)
        case LineEnd => rw.write(i, (spans.line(n - 1) + lineOffset).toInt)
        case Text => rw.write(i, bytes, spans.start(0), spans.end(n - 1) - spans.start(0))
      }
      i += 1
    }
    rw.getRow
  }

  /** The `tokens` array: (token_type, schema_id, value, line_num) rows. */
  private def writeTokens(ordinal: Int, n: Int, lineOffset: Long): Unit = {
    val arrCursor = rw.cursor()
    aw.initialize(n)
    var t = 0
    while (t < n) {
      val elemCursor = aw.cursor()
      tw.resetRowWriter()
      tw.zeroOutNullBytes()
      tw.write(0, spans.tt(t))
      tw.write(1, spans.sid(t))
      tw.write(2, bytes, spans.start(t), spans.end(t) - spans.start(t))
      tw.write(3, (spans.line(t) + lineOffset).toInt)
      aw.setOffsetAndSizeFromPreviousCursor(t, elemCursor)
      t += 1
    }
    rw.setOffsetAndSizeFromPreviousCursor(ordinal, arrCursor)
  }
}

/** The field ids of the `parse_turn` struct and the raw-log event row. */
private[graft] object SpanRowWriter {
  // both schemas
  final val Tokens = 0
  final val NTokens = 1
  final val HasTimestamp = 2
  final val FirstTs = 3
  final val TsExtracted = 4
  final val NErrors = 5
  final val ErrorSignature = 6
  final val Category = 7
  // parse_turn only
  final val NLines = 8
  final val NEvents = 9
  final val TsSchemaId = 10
  final val ToolInvocation = 11
  // raw-log events only
  final val File = 12
  final val EventIdx = 13
  final val LineStart = 14
  final val LineEnd = 15
  final val Text = 16

  /** Column names, by id. */
  private val names = Vector("tokens", "n_tokens", "has_timestamp", "first_ts", "ts_extracted",
    "n_errors", "error_signature", "category", "n_lines", "n_events", "ts_schema_id",
    "tool_invocation", "file", "event_idx", "line_start", "line_end", "text")

  /** The ids of `schema`'s columns, in order. */
  def fieldIds(schema: StructType): Array[Int] = schema.fieldNames.map { name =>
    require(names.contains(name), s"no span-row field $name")
    names.indexOf(name)
  }

  /** value is exactly "ERROR" or "FATAL" (both length 5). */
  @inline private def matches5(b: Array[Byte], s: Int): Boolean =
    (b(s) == 'E' && b(s + 1) == 'R' && b(s + 2) == 'R' && b(s + 3) == 'O' && b(s + 4) == 'R') ||
    (b(s) == 'F' && b(s + 1) == 'A' && b(s + 2) == 'T' && b(s + 3) == 'A' && b(s + 4) == 'L')

  /** Log template of one line: variables → `<name>`, timestamps → `<ts>`,
    * static text verbatim; trailing newline dropped (mirrors
    * graft.pipeline.Parse.signatureOfLine, the test oracle).
    */
  private def signatureOf(bank: PatternBank, bytes: Array[Byte], spans: SpanBuf, lineNum: Int): String = {
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < spans.n) {
      if (spans.line(i) == lineNum) {
        spans.tt(i) match {
          case TokenType.Timestamp => sb.append("<ts>")
          case TokenType.Variable  => sb.append('<').append(bank.varName(spans.sid(i))).append('>')
          case _ => sb.append(new String(bytes, spans.start(i), spans.end(i) - spans.start(i),
            java.nio.charset.StandardCharsets.UTF_8))
        }
      }
      i += 1
    }
    if (sb.length > 0 && sb.charAt(sb.length - 1) == '\n') sb.setLength(sb.length - 1)
    sb.toString
  }
}
