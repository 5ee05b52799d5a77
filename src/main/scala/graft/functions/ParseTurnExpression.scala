package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.lexer.{ByteTokenizer, PatternBank}
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

/** Task-scoped scratch state for [[ParseTurnExpression]]: the
  * [[SpanRowWriter]] a turn's spans are lexed into and its row written
  * from. One instance lives per generated-operator instance (codegen
  * mutable state), so per-row work reuses every buffer; only output growth
  * allocates.
  */
final class ParseScratch {
  import ParseTurnExpression._

  private val rows = new SpanRowWriter(Fields)

  /** Parse one turn into the reused Tungsten buffer. The returned row is
    * valid until the next call on this scratch — callers that retain it
    * must copy (the generated consumers copy immediately).
    */
  def parse(bank: PatternBank, text: UTF8String, role: UTF8String, tool: UTF8String): UnsafeRow = {
    val bytes = if (text == null) Array.emptyByteArray else text.getBytes
    val toolRole = role != null && role.equals(TOOL)
    rows.input(bank, bytes, toolRole)
    ByteTokenizer.tokenize(bank, bytes, rows)
    val orElse =
      if (toolRole || tool != null) CAT_TOOL
      else if (role != null && role.equals(ASSISTANT)) CAT_ASSIST
      else CAT_UNMATCHED
    rows.write(orElse, null, 0, 0L)
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

  /** [[schema]] as [[SpanRowWriter]] field ids: every field, always. */
  private[functions] val Fields: Array[Int] = SpanRowWriter.fieldIds(schema)

  private[functions] val TOOL = UTF8String.fromString("tool")
  private[functions] val ASSISTANT = UTF8String.fromString("assistant")
  private[functions] val CAT_ERRORS = UTF8String.fromString(Category.Errors)
  private[functions] val CAT_TOOL = UTF8String.fromString(Category.ToolCalls)
  private[functions] val CAT_ASSIST = UTF8String.fromString(Category.AssistantText)
  private[graft] val CAT_UNMATCHED = UTF8String.fromString(Category.Unmatched)

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

  /** Fixed-offset timestamp parse for the example schema's 5 formats:
    * yyyy-MM-dd{T| }HH:mm:ss[{.|,}SSS] — digit positions are constant, so
    * no formatter, no exceptions. Epoch-day via the civil-from-days
    * algorithm. Resolves like the formatter oracle `Parse.parseTsToken`
    * (SMART): a day of 29–31 clamps to the month's end, 32+ and year 0000
    * are null, `24:00:00` with zero millis is the next day's midnight.
    * Returns micros since epoch (UTC) or null.
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
    val month = d2(5)
    var day = d2(8)
    val hour = d2(11)
    val minute = d2(14)
    val second = d2(17)
    val millis = if (len == 23) (bytes(start + 20) - '0') * 100 + d2(21) else 0
    if (year == 0 || month < 1 || month > 12 || day < 1 || day > 31 || minute > 59 || second > 59 ||
        (hour > 23 && !(hour == 24 && minute == 0 && second == 0 && millis == 0))) return null
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
