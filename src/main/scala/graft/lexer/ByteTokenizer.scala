package graft.lexer

import scala.collection.mutable.ArrayBuffer

/** Byte-level tokenizer — the production lexer kernel (the char
  * [[Tokenizer]] is its oracle), matching
  * the reference's byte-stream model exactly (it lexes `u8`, not chars:
  * /root/reference/src/lexer/lexer.rs:320-336). Semantics are identical for
  * any UTF-8 input: delimiters and patterns are ASCII-only, multi-byte
  * sequences (bytes ≥ 0x80) fall through as static text in both versions.
  *
  * Emits token SPANS through a callback — no per-token objects, no string
  * materialization. The caller decides the representation (the ParseTurn
  * Catalyst expression builds UTF8String slices straight into InternalRows).
  * Equality with the char-based tokenizer is property-tested.
  */
object ByteTokenizer {

  trait Sink {
    /** token bytes are input[start, end); line is 1-based. */
    def token(tokenType: Byte, schemaId: Int, start: Int, end: Int, line: Int): Unit
  }

  private final val ModeTs = 0
  private final val ModeVar = 1
  private final val ModeSeek = 2

  def tokenize(bank: PatternBank, bytes: Array[Byte], sink: Sink): Unit = {
    val n = bytes.length
    val tsDfa = bank.tsDfa
    val varDfa = bank.varDfa
    val delims = bank.delimiters
    var last = 0
    var line = 1
    var pos = 0
    var mode = ModeTs

    @inline def isDelim(b: Int): Boolean = b < 128 && delims(b)

    @inline def emit(end: Int, tt: Byte, sid: Int): Unit = {
      sink.token(tt, sid, last, end, line)
      last = end
    }

    @inline def handleDelimiter(b: Int): Unit = {
      if (b == '\n') {
        emit(pos, TokenType.StaticTextWithEndLine, -1)
        line += 1
        mode = ModeTs
      } else mode = ModeVar
    }

    while (pos < n) {
      (mode: @annotation.switch) match {
        case ModeTs =>
          // longest timestamp match from pos (pos == last at line starts)
          var st = 0
          var i = pos
          var bestEnd = -1
          var bestSid = -1
          var alive = true
          while (alive && i < n) {
            val b = bytes(i) & 0xFF
            val nx = if (b < 128) tsDfa.next(st, b) else -1
            if (nx >= 0) {
              st = nx
              i += 1
              val p = tsDfa.acceptedPattern(nx)
              if (p >= 0) { bestEnd = i; bestSid = p }
            } else alive = false
          }
          if (bestEnd > pos) {
            emit(bestEnd, TokenType.Timestamp, bestSid)
            pos = bestEnd
            mode = ModeSeek
          } else mode = ModeVar

        case ModeVar =>
          val mStart = pos
          var st = 0
          var i = pos
          var lastAcc = -1
          var lastSid = -1
          var alive = true
          while (alive && i < n) {
            val b = bytes(i) & 0xFF
            val nx = if (b < 128) varDfa.next(st, b) else -1
            if (nx >= 0) {
              st = nx
              i += 1
              val p = varDfa.acceptedPattern(nx)
              if (p >= 0) { lastAcc = i; lastSid = p }
            } else alive = false
          }
          if (i >= n) {
            if (lastAcc == n && n > mStart) {
              if (mStart > last) emit(mStart, TokenType.StaticText, -1)
              emit(n, TokenType.Variable, lastSid)
            }
            pos = n
          } else {
            val b = bytes(i) & 0xFF
            val d = isDelim(b)
            if (lastAcc == i && d) {
              if (mStart > last) emit(mStart, TokenType.StaticText, -1)
              emit(i, TokenType.Variable, lastSid)
              pos = i + 1
              handleDelimiter(b)
            } else if (d) {
              pos = i + 1
              handleDelimiter(b)
            } else {
              pos = i + 1
              mode = ModeSeek
            }
          }

        case ModeSeek =>
          var i = pos
          while (i < n && !isDelim(bytes(i) & 0xFF)) i += 1
          if (i >= n) pos = n
          else {
            val b = bytes(i) & 0xFF
            pos = i + 1
            handleDelimiter(b)
          }
      }
    }
    if (n > last) emit(n, TokenType.StaticText, -1)
  }
}
