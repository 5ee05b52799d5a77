package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.lexer.{PatternBank, Tokenizer}
import graft.pipeline.{Category, Parse, TokenRow}
import graft.schema.SchemaConfig
import LogFiles.LogEvent

/** The raw-log lexer kernel (`LogFiles.lexEvents`: byte spans, events
  * assembled on Timestamp spans, slices decoded once) against the char
  * path kept here as the oracle: `Tokenizer.tokenize` → `assembleEvents` →
  * `Parse.scanTokens` / `signatureOfLine` over each event's tokens. Every
  * batch, split and streaming entry point runs the kernel, so their mutual
  * equality cannot catch a lexing bug — this spec does. Inputs are random
  * byte strings (non-ASCII, invalid UTF-8, `\r\n`, delimiters, log-like
  * words) plus fixed edge cases, under two schemas.
  */
class LogFilesKernelSpec extends AnyFunSuite {

  private val example = PatternBank.example
  /** the reference's own schema (field_identifier, not thread_identifier) */
  private lazy val reference: PatternBank = {
    val in = getClass.getResourceAsStream("/schema.yaml")
    try PatternBank.compile(SchemaConfig.parseYaml(new String(in.readAllBytes(), UTF_8)))
    finally in.close()
  }

  private def oracle(file: String, content: String, bank: PatternBank): Vector[(LogEvent, Vector[TokenRow])] = {
    val toks = Tokenizer.tokenize(bank, content)
    Tokenizer.assembleEvents(toks).iterator.zipWithIndex.map { case (span, idx) =>
      val eventToks = toks.slice(span.tokenStart, span.tokenEnd)
      val scan = Parse.scanTokens(bank, eventToks)
      (LogEvent(
        file = file,
        event_idx = idx,
        line_start = span.lineStart,
        line_end = span.lineEnd,
        has_timestamp = span.hasTimestamp,
        first_ts = scan.firstTs,
        ts_extracted = Parse.parseTsToken(scan.firstTs, scan.tsSchemaId),
        n_tokens = eventToks.length,
        n_errors = scan.nErrors,
        error_signature =
          if (scan.firstErrorLine < 0) null
          else Parse.signatureOfLine(bank, eventToks, scan.firstErrorLine),
        category = if (scan.nErrors > 0) Category.Errors else Category.Unmatched,
        text = eventToks.map(_.value).mkString
      ), eventToks.iterator.map(t => TokenRow(t.tokenType, t.schemaId, t.value, t.lineNum)).toVector)
    }.toVector
  }

  /** first index where two sequences differ, or -1 (keeps failure output
    * small when an event is megabytes long)
    */
  private def firstDiff[A](a: Seq[A], b: Seq[A]): Int =
    if (a.length != b.length) math.min(a.length, b.length)
    else a.indices.find(i => a(i) != b(i)).getOrElse(-1)

  private def check(bytes: Array[Byte], label: String): Unit =
    Seq("example" -> example, "reference" -> reference).foreach { case (name, bank) =>
      val content = new String(bytes, UTF_8)
      val want = oracle("f.log", content, bank)
      val got = LogFiles.lexEvents("f.log", bytes, bank).toVector
      val ev = firstDiff(got.map(_.event), want.map(_._1))
      assert(ev < 0, s"$label/$name: event $ev differs (got ${got.length}, want ${want.length})")
      val tok = firstDiff(got.map(_.tokens), want.map(_._2))
      assert(tok < 0, s"$label/$name: tokens of event $tok differ")
      assert(got.map(_.event.text).mkString == content, s"$label/$name: concat(text) != content")
      val viaString = LogFiles.eventsOf("f.log", content, bank).toVector
      assert(firstDiff(viaString, want.map(_._1)) < 0, s"$label/$name: eventsOf diverged")
    }

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  test("edge cases: empty, delimiter-only, no trailing newline, preamble, ERROR/FATAL, CRLF") {
    val cases = Seq(
      "empty" -> "",
      "delimiters only" -> " \t\r\n:,!;%\n\n  \r\n",
      "no trailing newline" -> "2015-03-23 08:09:17,637 INFO [main] done",
      "timestamp-less preamble" ->
        ("preamble without a timestamp\n  continued 42\n" +
          "2015-03-23 08:09:17,637 INFO [main] first event\n"),
      "ERROR and FATAL" ->
        ("2015-03-23 08:09:17,637 INFO [main] fine\n" +
          "2015-03-23 08:09:18.000 ERROR [worker] failed after 3 retries at /var/log/x\n" +
          "  caused by 0xdeadbeef\n" +
          "2015-03-23T08:09:19,5 FATAL [w-2] FATAL again ERROR\n" +
          "2015-03-23 08:09:20 ERRORS are not ERROR: ERROR\n"),
      "CRLF lines" ->
        "2015-03-23 08:09:17,637 ERROR [main] a\r\n2015-03-23 08:09:18,001 INFO b\r\nc\r\n",
      "day clamping and bad fields" ->
        ("2015-02-30 08:09:17,637 INFO clamped\n2016-02-30T23:59:59.999 x\n" +
          "2015-13-01 08:09:17 bad month\n2015-03-23 25:09:17 bad hour\n")
    )
    cases.foreach { case (label, text) => check(utf8(text), label) }
  }

  test("non-ASCII and invalid UTF-8 bytes lex like their decoded string") {
    val cases = Seq(
      "valid multi-byte" -> utf8("2015-03-23 08:09:17,637 INFO [main] café 中文 😀 ERROR\nnaïve\n"),
      "lone continuation bytes" -> Array[Byte](0x80.toByte, 'a'.toByte, ' '.toByte, 0xbf.toByte, '\n'.toByte, '1'.toByte),
      "truncated sequences" -> (utf8("2015-03-23 08:09:17 ERROR ") ++
        Array[Byte](0xe2.toByte, 0x82.toByte, ' '.toByte, 0xf0.toByte, 0x9f.toByte, '\n'.toByte, 0xc3.toByte)),
      "overlong and surrogate" -> (Array[Byte](0xc0.toByte, 0xaf.toByte, ' '.toByte, 0xed.toByte,
        0xa0.toByte, 0x80.toByte, '\n'.toByte) ++ utf8("2015-03-23 08:09:17 INFO x\n") :+ 0xff.toByte)
    )
    cases.foreach { case (label, bytes) => check(bytes, label) }
  }

  test("a single line over 1 MB") {
    val word = "word 12 0x1f /a/b ERROR é "
    val line = word * ((1 << 20) / word.length + 1)
    check(utf8(s"2015-03-23 08:09:17,637 INFO [main] $line\nnext line\n" +
      s"2015-03-23 08:09:18,000 ERROR [w] tail\n$line"), "1 MB lines")
  }

  test("random byte strings: the byte kernel equals the char oracle") {
    val pieces: Vector[Array[Byte]] = (Vector(
      "2015-03-23T08:09:17.637", "2015-03-23T08:09:17,637", "2015-03-23 08:09:17.637",
      "2015-03-23 08:09:17,637", "2015-03-23 08:09:17", "2015-03-23 08:09", "2015-02-29 00:00:00",
      "INFO", "DEBUG", "WARN", "ERROR", "FATAL", "TRACE", "ERRORS", "FATALx",
      "[main]", "[worker-1]", "[", "]", "0xabc", "0x1A2B", "0xgg", "12", "-7", "3.25", "1b",
      "/a/b/c", "/tmp/x.y/", "path/no/lead", "word", "x", "é", "中文", "😀",
      " ", " ", " ", "\t", "\n", "\n", "\r\n", ":", ",", "!", ";", "%"
    ).map(utf8) ++ Vector(
      Array(0x80.toByte), Array(0xbf.toByte), Array(0xc3.toByte), Array(0xe2.toByte, 0x82.toByte),
      Array(0xf0.toByte, 0x9f.toByte), Array(0xff.toByte), Array(0xc0.toByte, 0xaf.toByte)))
    (1 to 400).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val out = new java.io.ByteArrayOutputStream()
      (0 until rnd.nextInt(120)).foreach { _ =>
        // bias towards line starts that carry a timestamp, so events form
        if (rnd.nextInt(6) == 0) out.write(utf8("\n2015-03-23 08:09:17,637 "))
        out.write(pieces(rnd.nextInt(pieces.length)))
      }
      check(out.toByteArray, s"seed $seed")
    }
  }
}
