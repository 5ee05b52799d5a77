package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.lexer.{PatternBank, Token, TokenType, Tokenizer}
import java.sql.Timestamp
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** P2 — the parse stage (SURVEY.md §2.2), in two independently coded
  * forms: [[expr]], the `parse_turn` expression every production path runs,
  * and [[apply]], a typed `mapPartitions` over Dataset[Turn] with the
  * broadcast compiled pattern bank, kept as the oracle. Everything either
  * emits is a pure function of (bank, row), so it is deterministic under
  * task retries and AQE re-planning. The bank's dense
  * DFA tables are compiled once on the driver and read-shared by all tasks
  * of an executor — at 1000 executors pattern compilation stays O(1).
  *
  * Scale notes: upstream column pruning still applies (the stage consumes
  * exactly the 6 input columns); output keeps tokens *nested* per turn so
  * downstream per-turn operations stay row-local, and routing fields are
  * extracted here in the same pass to avoid a second scan of the token
  * arrays.
  */
object Parse {

  /** Per-ts-pattern datetime formats of the example schema, for typed
    * timestamp extraction (pattern order = schema order).
    */
  private val TsFormats: Array[DateTimeFormatter] = Array(
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss,SSS",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss,SSS",
    "yyyy-MM-dd HH:mm:ss"
  ).map(DateTimeFormatter.ofPattern)

  def parseTsToken(value: String, schemaId: Int): Timestamp = {
    if (schemaId < 0 || schemaId >= TsFormats.length) return null
    try {
      val ldt = LocalDateTime.parse(value, TsFormats(schemaId))
      Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
    } catch { case _: Exception => null }
  }

  /** Single-pass timestamp/error extraction over a token sequence, shared
    * by the typed parse stage and the char-path oracles in tests.
    */
  final case class TokenScan(firstTs: String, tsSchemaId: Int, nErrors: Int, firstErrorLine: Int)

  def scanTokens(bank: PatternBank, toks: collection.IndexedSeq[Token]): TokenScan = {
    val loglevelId = bank.loglevelVarId
    var firstTs: String = null
    var tsSchemaId = -1
    var nErrors = 0
    var firstErrorLine = -1
    var i = 0
    while (i < toks.length) {
      val tok = toks(i)
      if (tok.tokenType == TokenType.Timestamp && firstTs == null) {
        firstTs = tok.value
        tsSchemaId = tok.schemaId
      }
      if (tok.tokenType == TokenType.Variable && tok.schemaId == loglevelId &&
          (tok.value == "ERROR" || tok.value == "FATAL")) {
        nErrors += 1
        if (firstErrorLine < 0) firstErrorLine = tok.lineNum
      }
      i += 1
    }
    TokenScan(firstTs, tsSchemaId, nErrors, firstErrorLine)
  }

  /** Pure per-turn parse: tokenize + extract routing fields. Shared by the
    * Spark stage and the test oracle (which is the point: the oracle in
    * tests re-implements this naively and must agree).
    */
  def parseTurn(bank: PatternBank, t: Turn): ParsedTurn = {
    val toks = Tokenizer.tokenize(bank, if (t.text == null) "" else t.text)
    val events = Tokenizer.assembleEvents(toks)
    val scan = scanTokens(bank, toks)
    import scan.{firstTs, tsSchemaId, nErrors, firstErrorLine}

    var nLines = 1
    var i = 0
    while (i < toks.length) {
      if (toks(i).tokenType == TokenType.StaticTextWithEndLine) nLines += 1
      i += 1
    }
    if (toks.nonEmpty && toks.last.tokenType == TokenType.StaticTextWithEndLine) nLines -= 1

    val errorSig = if (firstErrorLine < 0) null else signatureOfLine(bank, toks, firstErrorLine)
    val toolInvocation =
      if (t.role == "tool")
        toks.collectFirst {
          case tok if tok.tokenType == TokenType.Variable && tok.schemaId == bank.bracketVarId =>
            tok.value.substring(1, tok.value.length - 1)
        }.orNull
      else null

    val category =
      if (nErrors > 0) Category.Errors
      else if (t.role == "tool" || t.tool != null) Category.ToolCalls
      else if (t.role == "assistant") Category.AssistantText
      else Category.Unmatched

    ParsedTurn(
      conv_id = t.conv_id, turn_idx = t.turn_idx, role = t.role, tool = t.tool, ts = t.ts,
      text = t.text,
      tokens = toks.iterator.map(tok => TokenRow(tok.tokenType, tok.schemaId, tok.value, tok.lineNum)).toVector,
      n_tokens = toks.length,
      n_lines = nLines,
      n_events = events.length,
      has_timestamp = firstTs != null,
      first_ts = firstTs,
      ts_schema_id = tsSchemaId,
      ts_extracted = parseTsToken(firstTs, tsSchemaId),
      n_errors = nErrors,
      error_signature = errorSig,
      tool_invocation = toolInvocation,
      category = category
    )
  }

  /** Log template of one line: variables → `<name>`, timestamps → `<ts>`,
    * static text verbatim — the CLP-style signature that makes error lines
    * groupable regardless of their variable values.
    */
  def signatureOfLine(bank: PatternBank, toks: collection.IndexedSeq[Token], lineNum: Int): String = {
    val sb = new StringBuilder(64)
    toks.foreach { tok =>
      if (tok.lineNum == lineNum) {
        tok.tokenType match {
          case TokenType.Timestamp => sb.append("<ts>")
          case TokenType.Variable  => sb.append('<').append(bank.varName(tok.schemaId)).append('>')
          case _                   => sb.append(tok.value)
        }
      }
    }
    // drop the trailing newline the EndLine token carries
    if (sb.nonEmpty && sb.last == '\n') sb.deleteCharAt(sb.length - 1)
    sb.toString
  }

  /** The typed mapPartitions stage — retained as the independently-coded
    * ORACLE (perfbench's output check, `Verify.stageTypedParse` and the
    * specs call it); every production path — batch pipeline and streaming —
    * runs the expression-based [[expr]] below (same semantics, asserted
    * equal in PipelineSpec and StreamingSpec, ~10× less per-row allocation).
    */
  def apply(turns: Dataset[Turn], bank: Broadcast[PatternBank]): Dataset[ParsedTurn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.mapPartitions { iter =>
      val b = bank.value
      iter.map(t => parseTurn(b, t))
    }
  }

  /** Expression-based parse (canonical batch execution path): one native
    * Catalyst expression computes the full parsed struct per row; the plan
    * stays in Tungsten rows end-to-end (no encoder round trip).
    */
  def expr(turns: org.apache.spark.sql.DataFrame, bank: PatternBank): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    turns
      // copyResult=false: the struct is decomposed into top-level columns by
      // the p.* select below, so the reused scratch buffer never escapes a
      // row iteration — the zero-copy fast path is safe here
      .withColumn("p", graft.functions.ParseTurnExpression.parse_turn(
        col("text"), col("role"), col("tool"), bank, copyResult = false))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"), col("ts"),
        col("text"), col("p.*"))
  }

  def broadcastBank(spark: SparkSession, bank: PatternBank): Broadcast[PatternBank] =
    spark.sparkContext.broadcast(bank)
}
