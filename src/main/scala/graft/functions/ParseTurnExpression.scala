package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.lexer.{ByteTokenizer, PatternBank, TokenType}
import graft.pipeline.Category

/** `parse_turn(text, role, tool)` — the whole parse stage (SURVEY.md §2.2 P2)
  * as ONE native Catalyst expression: tokenize the text's UTF-8 bytes with
  * the compiled pattern bank and emit the parsed struct
  * (tokens + extraction + routing fields) directly as an InternalRow.
  *
  * This replaces the typed Dataset mapPartitions path on the hot path.
  * Profiling the typed path (JFR, 32 threads) showed the work dominated by
  * object churn — String decode/encode per token, Vector building, encoder
  * SerializeFromObject, DateTimeFormatter, exception control flow — which
  * inflated per-turn CPU >10× under concurrency (allocator/GC pressure).
  * Here token values are zero-copy UTF8String slices of the input bytes,
  * rows are built directly, and timestamp extraction is fixed-offset digit
  * math (the 5 schema formats are positional), so per-row allocation is
  * bounded by the output itself.
  *
  * The expression participates in whole-stage codegen ([[doGenCode]]): the
  * generated code holds ONE [[ParseScratch]] per operator instance — span
  * buffer, row/array writers, cached routing ids — so steady-state the parse
  * allocates nothing but the output buffer growth. The parent consumes the
  * returned row by copying it into its own row writer before the next input
  * row is processed (the standard reuse contract of generated projections),
  * so buffer reuse is safe. The interpreted `eval` path instead returns a
  * defensive copy, since interpreted consumers may hold references.
  *
  * The typed path (graft.pipeline.Parse.apply) remains as the independent
  * oracle; equality between the two is asserted in tests.
  */
case class ParseTurnExpression(first: Expression, second: Expression, third: Expression,
                               bank: PatternBank,
                               /** When true (default), the generated code returns a defensive
                                 * copy of the scratch buffer — safe for ANY consumer, including
                                 * ones that retain the struct reference across rows (aggregate
                                 * buffers, collected lists). `Parse.expr` sets false because it
                                 * decomposes the struct into top-level columns in the same
                                 * Project (each field's bytes are copied into the output row
                                 * writer within the row iteration), making buffer reuse provably
                                 * safe there and keeping the hot path allocation-free.
                                 */
                               copyResult: Boolean = true)
    extends TernaryExpression {

  override def dataType: DataType = ParseTurnExpression.schema
  override def nullable: Boolean = false
  // text may be null/empty; role/tool may be null — handle ourselves
  override def eval(input: InternalRow): Any = {
    val textAny = first.eval(input)
    val roleAny = second.eval(input)
    val toolAny = third.eval(input)
    ParseTurnExpression.parse(
      bank,
      if (textAny == null) null else textAny.asInstanceOf[UTF8String],
      if (roleAny == null) null else roleAny.asInstanceOf[UTF8String],
      if (toolAny == null) null else toolAny.asInstanceOf[UTF8String])
  }
  override protected def nullSafeEval(t: Any, r: Any, o: Any): Any =
    throw new IllegalStateException("eval is overridden")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bankRef = ctx.addReferenceObj("parseBank", bank, classOf[PatternBank].getName)
    val cls = classOf[ParseScratch].getName
    val scratch = ctx.addMutableState(cls, "parseTurnScratch", v => s"$v = new $cls();")
    val t = first.genCode(ctx)
    val r = second.genCode(ctx)
    val o = third.genCode(ctx)
    val maybeCopy = if (copyResult) ".copy()" else ""
    ev.copy(
      code = code"""
        ${t.code}
        ${r.code}
        ${o.code}
        final InternalRow ${ev.value} = $scratch.parse(
          $bankRef,
          ${t.isNull} ? null : ${t.value},
          ${r.isNull} ? null : ${r.value},
          ${o.isNull} ? null : ${o.value})$maybeCopy;
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "parse_turn"
}

/** Task-scoped scratch state for [[ParseTurnExpression]]: the span buffer,
  * the Tungsten writers (top row, token array, token struct — all sharing
  * one growable buffer), and the bank's routing ids. One instance lives per
  * generated-operator instance (codegen mutable state), so per-row work
  * reuses every buffer; only output growth allocates.
  */
final class ParseScratch {
  import ParseTurnExpression._

  private val spans = new SpanBuf
  private val rw = new UnsafeRowWriter(12, 1024)
  private val aw = new UnsafeArrayWriter(rw, 8)
  private val sw = new UnsafeRowWriter(aw, 4)
  private var cachedBank: PatternBank = _
  private var loglevelId = -1
  private var bracketId = -1
  private val sink = new ByteTokenizer.Sink {
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
        if (isToolRole && toolInvStart < 0 && end - start >= 2) {
          toolInvStart = start + 1; toolInvEnd = end - 1
        }
      }
    }
  }
  // per-turn bookkeeping collected in one pass over the token stream
  private var bytes: Array[Byte] = _
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
  private var isToolRole = false

  /** Parse one turn into the reused Tungsten buffer. The returned row is
    * valid until the next call on this scratch — callers that retain it
    * must copy (the generated consumers copy immediately).
    */
  def parse(bank: PatternBank, text: UTF8String, role: UTF8String, tool: UTF8String): UnsafeRow = {
    if (bank ne cachedBank) {
      cachedBank = bank
      loglevelId = bank.loglevelVarId
      bracketId = bank.bracketVarId
    }
    bytes = if (text == null) Array.emptyByteArray else text.getBytes
    spans.reset()
    nEol = 0; lastWasEol = false
    nTs = 0; firstTsStart = -1; firstTsEnd = -1; tsSchemaId = -1
    nErrors = 0; firstErrorLine = -1
    toolInvStart = -1; toolInvEnd = -1
    isToolRole = role != null && role.equals(TOOL)

    ByteTokenizer.tokenize(bank, bytes, sink)

    val nTokens = spans.n
    val nLines = 1 + nEol - (if (lastWasEol) 1 else 0)
    // events split before each Timestamp token except a leading one
    val nEvents =
      if (nTokens == 0) 0
      else 1 + nTs - (if (spans.tt(0) == TokenType.Timestamp) 1 else 0)

    val category =
      if (nErrors > 0) CAT_ERRORS
      else if (isToolRole || tool != null) CAT_TOOL
      else if (role != null && role.equals(ASSISTANT)) CAT_ASSIST
      else CAT_UNMATCHED

    // Build the output struct directly in Tungsten format, reusing the
    // writers' shared buffer (reset() rewinds the cursor; the buffer keeps
    // its high-water size, so steady state allocates nothing per row).
    rw.reset()
    rw.zeroOutNullBytes()

    // field 0: tokens ARRAY<STRUCT<byte,int,string,int>>
    val arrCursor = rw.cursor()
    aw.initialize(nTokens)
    var i = 0
    while (i < nTokens) {
      val elemCursor = aw.cursor()
      sw.resetRowWriter()
      sw.zeroOutNullBytes()
      sw.write(0, spans.tt(i))
      sw.write(1, spans.sid(i))
      sw.write(2, bytes, spans.start(i), spans.end(i) - spans.start(i))
      sw.write(3, spans.line(i))
      aw.setOffsetAndSizeFromPreviousCursor(i, elemCursor)
      i += 1
    }
    rw.setOffsetAndSizeFromPreviousCursor(0, arrCursor)

    rw.write(1, nTokens)
    rw.write(2, nLines)
    rw.write(3, nEvents)
    rw.write(4, firstTsStart >= 0)
    if (firstTsStart < 0) rw.setNullAt(5)
    else rw.write(5, bytes, firstTsStart, firstTsEnd - firstTsStart)
    rw.write(6, tsSchemaId)
    val tsMicros = if (firstTsStart < 0) null else parseTsMicros(bytes, firstTsStart, firstTsEnd)
    if (tsMicros == null) rw.setNullAt(7) else rw.write(7, tsMicros.longValue())
    rw.write(8, nErrors)
    if (firstErrorLine < 0) rw.setNullAt(9)
    else rw.write(9, signature(bank, bytes, spans, firstErrorLine))
    if (isToolRole && toolInvStart >= 0) rw.write(10, bytes, toolInvStart, toolInvEnd - toolInvStart)
    else rw.setNullAt(10)
    rw.write(11, category)
    bytes = null
    rw.getRow
  }
}

object ParseTurnExpression {

  val tokenSchema: StructType = StructType(Seq(
    StructField("token_type", ByteType, nullable = false),
    StructField("schema_id", IntegerType, nullable = false),
    StructField("value", StringType, nullable = true),
    StructField("line_num", IntegerType, nullable = false)))

  val schema: StructType = StructType(Seq(
    StructField("tokens", ArrayType(tokenSchema, containsNull = true), nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_events", IntegerType, nullable = false),
    StructField("has_timestamp", BooleanType, nullable = false),
    StructField("first_ts", StringType, nullable = true),
    StructField("ts_schema_id", IntegerType, nullable = false),
    StructField("ts_extracted", TimestampType, nullable = true),
    StructField("n_errors", IntegerType, nullable = false),
    StructField("error_signature", StringType, nullable = true),
    StructField("tool_invocation", StringType, nullable = true),
    StructField("category", StringType, nullable = false)))

  private[functions] val TOOL = UTF8String.fromString("tool")
  private[functions] val ASSISTANT = UTF8String.fromString("assistant")
  private[functions] val CAT_ERRORS = UTF8String.fromString(Category.Errors)
  private[functions] val CAT_TOOL = UTF8String.fromString(Category.ToolCalls)
  private[functions] val CAT_ASSIST = UTF8String.fromString(Category.AssistantText)
  private[functions] val CAT_UNMATCHED = UTF8String.fromString(Category.Unmatched)
  private val TS_PLACEHOLDER = "<ts>"

  /** Token-span scratch (4 ints per token: packed type/schema, start, end,
    * line); lives inside a [[ParseScratch]], so steady-state it allocates
    * nothing. The raw-log source (graft.sources.LogFiles) keeps one per
    * parse region for the spans of the event being assembled.
    */
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

  /** Interpreted-mode scratch: per-thread because one expression instance
    * can be shared across tasks; [[parse]] copies the result out of it.
    */
  private val scratchTl: ThreadLocal[ParseScratch] =
    ThreadLocal.withInitial(() => new ParseScratch)

  /** Interpreted-path parse (eval, constant folding, tests): same kernel as
    * the codegen path but returns a defensive copy, since interpreted
    * consumers may retain the reference across rows.
    */
  def parse(bank: PatternBank, text: UTF8String, role: UTF8String, tool: UTF8String): InternalRow =
    scratchTl.get().parse(bank, text, role, tool).copy()

  /** value is exactly "ERROR" or "FATAL" (both length 5). */
  @inline private[graft] def matches5(b: Array[Byte], s: Int): Boolean =
    (b(s) == 'E' && b(s + 1) == 'R' && b(s + 2) == 'R' && b(s + 3) == 'O' && b(s + 4) == 'R') ||
    (b(s) == 'F' && b(s + 1) == 'A' && b(s + 2) == 'T' && b(s + 3) == 'A' && b(s + 4) == 'L')

  /** Log template of one line: variables → `<name>`, timestamps → `<ts>`,
    * static text verbatim; trailing newline dropped (mirrors
    * graft.pipeline.Parse.signatureOfLine, the test oracle).
    */
  private[functions] def signature(bank: PatternBank, bytes: Array[Byte], spans: SpanBuf, lineNum: Int): UTF8String =
    UTF8String.fromString(signatureOf(bank, bytes, spans, lineNum, 0, spans.n))

  /** [[signature]] over the tokens `[from, until)` only — the raw-log
    * source templates one event's line without scanning the whole file.
    */
  private[graft] def signatureOf(bank: PatternBank, bytes: Array[Byte], spans: SpanBuf, lineNum: Int,
                                 from: Int, until: Int): String = {
    val sb = new java.lang.StringBuilder(64)
    var i = from
    while (i < until) {
      if (spans.line(i) == lineNum) {
        spans.tt(i) match {
          case TokenType.Timestamp => sb.append(TS_PLACEHOLDER)
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

  /** Fixed-offset timestamp parse for the example schema's 5 formats:
    * yyyy-MM-dd{T| }HH:mm:ss[{.|,}SSS] — digit positions are constant, so
    * no formatter, no exceptions. Epoch-day via the civil-from-days
    * algorithm; SMART day-of-month clamping like java.time's default
    * resolver. Returns micros since epoch (UTC) or null.
    */
  def parseTsMicros(bytes: Array[Byte], start: Int, end: Int): java.lang.Long = {
    val len = end - start
    if (len != 19 && len != 23) return null
    // positional sanity so a non-example ts schema degrades to null rather
    // than garbage: separators at the yyyy-MM-dd HH:mm:ss positions
    if (bytes(start + 4) != '-' || bytes(start + 7) != '-' ||
        bytes(start + 13) != ':' || bytes(start + 16) != ':') return null
    @inline def d2(off: Int): Int =
      (bytes(start + off) - '0') * 10 + (bytes(start + off + 1) - '0')
    val year = d2(0) * 100 + d2(2)
    var month = d2(5)
    var day = d2(8)
    val hour = d2(11)
    val minute = d2(14)
    val second = d2(17)
    val millis = if (len == 23) (bytes(start + 20) - '0') * 100 + d2(21) else 0
    if (month < 1 || month > 12 || day < 1 || hour > 23 || minute > 59 || second > 59) return null
    val leap = (year % 4 == 0 && year % 100 != 0) || year % 400 == 0
    val monthLen = month match {
      case 2 => if (leap) 29 else 28
      case 4 | 6 | 9 | 11 => 30
      case _ => 31
    }
    if (day > monthLen) day = monthLen // SMART resolution
    // Howard Hinnant's days_from_civil
    val y = if (month <= 2) year - 1 else year
    val era = (if (y >= 0) y else y - 399) / 400
    val yoe = y - era * 400
    val doy = (153 * (month + (if (month > 2) -3 else 9)) + 2) / 5 + day - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    val epochDay = era * 146097L + doe - 719468L
    val secs = epochDay * 86400L + hour * 3600L + minute * 60L + second
    java.lang.Long.valueOf(secs * 1000000L + millis * 1000L)
  }

  import org.apache.spark.sql.GraftBridge.{column, expression}
  def parse_turn(text: Column, role: Column, tool: Column, bank: PatternBank,
                 copyResult: Boolean = true): Column =
    column(ParseTurnExpression(expression(text), expression(role), expression(tool), bank,
      copyResult))
}
