package graft.lexer

import scala.collection.mutable.ArrayBuffer

/** One lexed token. `value` is the exact substring of the input — the
  * losslessness invariant `tokens.map(_.value).mkString == text` mirrors the
  * reference's round-trip tests (/root/reference/tests/lexer_test.rs:40-61).
  */
final case class Token(tokenType: Byte, schemaId: Int, value: String, lineNum: Int)

object TokenType {
  val Timestamp: Byte = 0
  val Variable: Byte = 1
  val StaticText: Byte = 2
  val StaticTextWithEndLine: Byte = 3
}

/** A multi-line log event inside one text: tokens `[tokenStart, tokenEnd)`
  * split *before* each Timestamp token (reference:
  * /root/reference/src/log_parser/log_parser.rs:44-63). The first event of a
  * text may lack a timestamp (log_parser.rs:88-91).
  */
final case class LogEventSpan(
    tokenStart: Int,
    tokenEnd: Int,
    hasTimestamp: Boolean,
    lineStart: Int,
    lineEnd: Int
)

/** The char-level reference tokenizer — a pure function
  * `(bank, text) => tokens` — kept as the ORACLE for [[ByteTokenizer]], the
  * one kernel every production path runs (parse_turn, LogFiles, streaming).
  * Its only production-tree caller is the typed oracle parse
  * `graft.pipeline.Parse.parseTurn`, which perfbench's output check and
  * `Verify.stageTypedParse` run; the specs compare the two lexers directly.
  *
  * Faithful re-expression of the reference lexer's observable semantics
  * (/root/reference/src/lexer/lexer.rs:153-415), restructured from its
  * 7-state pull FSM into a flat forward scanner (no behavioural change;
  * validated by the ported test matrices and round-trip property tests):
  *
  *  - Timestamps match only at line starts (start of input or after '\n'),
  *    longest match wins, ties to the first-defined pattern
  *    (lexer.rs:274-318, docs/Schema.md:7).
  *  - Variables must be exactly delimiter-enclosed; the whole word must land
  *    in an accepting state when the delimiter (or end of input) arrives;
  *    the accepted pattern with the minimum index wins (Schema.md:8,70-71).
  *    A word whose DFA dies mid-way — or that ends in a non-accepting state —
  *    downgrades to static text (lexer.rs:346-363).
  *  - Static text accumulates between variable/timestamp emissions and is
  *    flushed before a variable, at each '\n' (as StaticTextWithEndLine,
  *    including the newline), and at end of input (lexer.rs:168-186,
  *    214-262).
  *  - `lineNum` starts at 1 and increments after each '\n' token is emitted
  *    (lexer.rs:176-183).
  *
  * Every transition is one array read in the broadcast DenseDfa tables.
  */
object Tokenizer {

  // scanner modes
  private final val ModeTs = 0
  private final val ModeVar = 1
  private final val ModeSeek = 2

  def tokenize(bank: PatternBank, text: String): ArrayBuffer[Token] = {
    val out = new ArrayBuffer[Token](16)
    val n = text.length
    var last = 0 // last tokenized position
    var line = 1
    var pos = 0
    var mode = ModeTs

    @inline def emit(end: Int, tt: Byte, sid: Int): Unit = {
      out += Token(tt, sid, text.substring(last, end), line)
      last = end
    }

    @inline def handleDelimiter(c: Char): Unit = {
      // pos already points past the delimiter
      if (c == '\n') {
        emit(pos, TokenType.StaticTextWithEndLine, -1)
        line += 1
        mode = ModeTs
      } else mode = ModeVar
    }

    while (pos < n) {
      (mode: @annotation.switch) match {
        case ModeTs =>
          // pos == last here (we are at a line start with nothing pending)
          val m = bank.tsDfa.longestMatch(text, pos)
          if (m >= 0L) {
            val end = (m >>> 32).toInt
            val sid = (m & 0xFFFFFFFFL).toInt
            emit(end, TokenType.Timestamp, sid)
            pos = end
            mode = ModeSeek
          } else mode = ModeVar

        case ModeVar =>
          // Simulate the variable DFA over the word starting at pos.
          val mStart = pos
          var st = 0
          var i = pos
          var lastAcc = -1
          var lastSid = -1
          var alive = true
          while (alive && i < n) {
            val c = text.charAt(i)
            val nx = if (c < 128) bank.varDfa.next(st, c) else -1
            if (nx >= 0) {
              st = nx
              i += 1
              val p = bank.varDfa.acceptedPattern(nx)
              if (p >= 0) { lastAcc = i; lastSid = p }
            } else alive = false
          }
          if (i >= n) {
            // end of input while the DFA was still alive
            if (lastAcc == n && n > mStart) {
              if (mStart > last) emit(mStart, TokenType.StaticText, -1)
              emit(n, TokenType.Variable, lastSid)
            }
            pos = n
          } else {
            val c = text.charAt(i)
            val isDelim = bank.isDelimiter(c)
            if (lastAcc == i && isDelim) {
              // whole word accepted, delimiter-terminated → variable
              if (mStart > last) emit(mStart, TokenType.StaticText, -1)
              emit(i, TokenType.Variable, lastSid)
              pos = i + 1
              handleDelimiter(c)
            } else if (isDelim) {
              // word rejected at a delimiter → stays pending static text
              pos = i + 1
              handleDelimiter(c)
            } else {
              // DFA died mid-word → taint the word, seek next delimiter
              pos = i + 1
              mode = ModeSeek
            }
          }

        case ModeSeek =>
          var i = pos
          while (i < n && !bank.isDelimiter(text.charAt(i))) i += 1
          if (i >= n) pos = n
          else {
            val c = text.charAt(i)
            pos = i + 1
            handleDelimiter(c)
          }
      }
    }
    // end-of-stream flush (lexer.rs:249-262)
    if (n > last) emit(n, TokenType.StaticText, -1)
    out
  }

  /** Group a text's token list into log events: a new event starts at each
    * Timestamp token (log_parser.rs:44-63); line range = first/last token's
    * line number (log_parser.rs:92-95).
    */
  def assembleEvents(tokens: collection.IndexedSeq[Token]): ArrayBuffer[LogEventSpan] = {
    val out = new ArrayBuffer[LogEventSpan](4)
    if (tokens.isEmpty) return out
    var start = 0
    var i = 1
    while (i <= tokens.length) {
      if (i == tokens.length || tokens(i).tokenType == TokenType.Timestamp) {
        out += LogEventSpan(
          start, i,
          hasTimestamp = tokens(start).tokenType == TokenType.Timestamp,
          lineStart = tokens(start).lineNum,
          lineEnd = tokens(i - 1).lineNum
        )
        start = i
      }
      i += 1
    }
    out
  }
}
