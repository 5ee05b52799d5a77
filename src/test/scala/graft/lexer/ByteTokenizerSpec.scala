package graft.lexer

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import scala.collection.mutable.ArrayBuffer

/** The byte-level tokenizer (execution path) must agree with the char-based
  * tokenizer (test oracle) on every input — including multi-byte UTF-8,
  * where both treat non-ASCII as static text and stay byte/char-lossless.
  */
class ByteTokenizerSpec extends AnyFunSuite {
  private val bank = PatternBank.example

  private def byteTokens(text: String): Vector[Token] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = ArrayBuffer.empty[Token]
    ByteTokenizer.tokenize(bank, bytes, new ByteTokenizer.Sink {
      override def token(tt: Byte, sid: Int, start: Int, end: Int, line: Int): Unit =
        out += Token(tt, sid, new String(bytes, start, end - start,
          java.nio.charset.StandardCharsets.UTF_8), line)
    })
    out.toVector
  }

  private val gen: Gen[String] = {
    val word = Gen.oneOf(
      Gen.choose(-999, 9999).map(_.toString),
      Gen.oneOf("INFO", "ERROR", "0xab12", "[main]", "/a/b.c", "plain", "2015-03-23 08:09:17,637",
        "héllo", "日本語ログ", "naïve-42", "emoji🙂end"),
      Gen.alphaNumStr.map(_.take(6)))
    val delim = Gen.oneOf(" ", "\n", ":", ",", "\t", ";")
    for {
      n <- Gen.choose(0, 30)
      parts <- Gen.listOfN(n, Gen.frequency(3 -> word, 2 -> delim))
    } yield parts.mkString
  }

  test("byte tokenizer ≡ char tokenizer on log-like and multi-byte UTF-8 inputs") {
    val prop = Prop.forAll(gen) { t =>
      // char tokenizer boundaries are char offsets; compare the full token
      // streams (type, schema, value, line)
      val chars = Tokenizer.tokenize(bank, t).toVector
        .map(tk => (tk.tokenType, tk.schemaId, tk.value, tk.lineNum))
      val bytes = byteTokens(t)
        .map(tk => (tk.tokenType, tk.schemaId, tk.value, tk.lineNum))
      chars == bytes
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("byte tokenizer handles the hive fixture identically") {
    val in = getClass.getResourceAsStream("/hive-24h.log")
    val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
    assert(byteTokens(text) == Tokenizer.tokenize(bank, text).toVector)
  }

  test("fixed-offset timestamp parse agrees with the formatter oracle") {
    import graft.functions.ParseTurnExpression.parseTsMicros
    import graft.pipeline.Parse.parseTsToken
    def micros(s: String): java.lang.Long = {
      val bytes = s.getBytes
      parseTsMicros(bytes, 0, bytes.length)
    }
    // the example schema's 5 formats, in schema order (= parseTsToken's sid)
    val formats: Seq[(String, Option[String])] =
      Seq("T" -> Some("."), "T" -> Some(","), " " -> Some("."), " " -> Some(","), " " -> None)
    // every month × days 1–31 takes in the SMART clamps (Feb 29–31 in leap
    // and non-leap years, Apr/Jun/Sep/Nov 31)
    var points = 0
    for {
      (sid, (sep, frac)) <- formats.indices.zip(formats)
      year <- Seq(1900, 1999, 2000, 2015, 2024, 2100)
      month <- 1 to 12
      day <- 1 to 31
      time <- Seq("00:00:00", "23:59:59")
      millis <- frac.fold(Seq(""))(f => Seq("000", "001", "999").map(f + _))
    } {
      val s = f"$year%04d-$month%02d-$day%02d$sep$time$millis"
      val got = micros(s)
      val oracle = parseTsToken(s, sid)
      assert(got != null && oracle != null, s)
      assert(got == oracle.getTime * 1000 + (oracle.getNanos / 1000 % 1000), s)
      points += 1
    }
    assert(points == 6 * 12 * 31 * 2 * (4 * 3 + 1))
    // Values the example timestamp DFA accepts (two digits a field) that
    // the formatter rejects or reads otherwise: a day of 32–99 (null, past
    // the SMART clamp), 24:00:00 (the next day's midnight with zero millis,
    // else null) and year 0000 (null: year-of-era starts at 1). The
    // fixed-offset parse agrees with the oracle on each, null included.
    def utc(t: java.time.LocalDateTime): Long =
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
    def render(sid: Int, date: String, time: String, ms: Int): String = {
      val (sep, frac) = formats(sid)
      date + sep + time + frac.fold("")(f => f"$f$ms%03d")
    }
    def agrees(s: String, sid: Int): Unit = {
      val oracle = parseTsToken(s, sid)
      val want = if (oracle == null) null
        else java.lang.Long.valueOf(oracle.getTime * 1000 + (oracle.getNanos / 1000 % 1000))
      assert(micros(s) == want, s)
    }
    var parted = 0
    for {
      sid <- formats.indices
      year <- Seq(2015, 2024)
      month <- 1 to 12
      day <- 32 to 99
      ms <- formats(sid)._2.fold(Seq(0))(_ => Seq(0, 999))
    } {
      val s = render(sid, f"$year%04d-$month%02d-$day%02d", "08:09:17", ms)
      assert(parseTsToken(s, sid) == null, s)
      agrees(s, sid)
      parted += 1
    }
    assert(parted == 2 * 12 * 68 * (4 * 2 + 1))
    for {
      sid <- formats.indices
      date <- Seq("2015-03-23", "2015-12-31", "2024-02-28", "2024-02-29", "2100-02-28")
      ms <- formats(sid)._2.fold(Seq(0))(_ => Seq(0, 1))
    } {
      val s = render(sid, date, "24:00:00", ms)
      val oracle = parseTsToken(s, sid)
      if (ms == 0) {
        val midnight = java.time.LocalDate.parse(date).plusDays(1).atStartOfDay
        assert(oracle != null && oracle.getTime * 1000 == utc(midnight), s)
      } else assert(oracle == null, s)
      agrees(s, sid)
    }
    for {
      sid <- formats.indices
      (date, time) <- Seq(("0000-01-01", "00:00:00"), ("0000-02-29", "23:59:59"),
        ("0000-12-31", "12:34:56"))
    } {
      val s = render(sid, date, time, 0)
      assert(parseTsToken(s, sid) == null, s)
      agrees(s, sid)
    }
    // malformed values stay null on both parsers instead of throwing
    Seq("9915-99-99 99:99:99", "2015-13-01 08:09:17", "2015-00-10 08:09:17",
      "2015-03-00 08:09:17", "2015-03-23 25:09:17", "2015-03-23 08:60:17",
      "2015-03-23 08:09:60", "2015-03-23 08:09:60.000").foreach { s =>
      assert(micros(s) == null, s)
      assert(parseTsToken(s, if (s.length == 19) 4 else 2) == null, s)
    }
    // and so do values of another shape
    Seq("2015x03-23 08:09:17", "2015-03-23 08:09", "2015-03-23 08:09:17.6",
      "2015-03-23 08.09.17").foreach(s => assert(micros(s) == null, s))
  }
}
