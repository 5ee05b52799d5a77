package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ParseTurnExpression
import graft.lexer.PatternBank
import graft.schema.SchemaConfig

/** A raw-log event is `parse_turn` over the event's own text with `role`
  * and `tool` null: every row of `LogFiles.lexEvents` must agree with
  * `ParseTurnExpression.parse` of its text on the extraction fields and on
  * every token, the token lines shifted by the event's `line_start - 1`.
  * The two paths share one span-row writer, so this pins the invariant it
  * relies on. Inputs: the hive fixture and the random byte strings of
  * LogFilesKernelSpec, under the example and the reference schema.
  */
class EventTurnSpec extends AnyFunSuite {

  private val banks: Seq[(String, PatternBank)] = Seq(
    "example" -> PatternBank.example,
    "reference" -> {
      val in = getClass.getResourceAsStream("/schema.yaml")
      try PatternBank.compile(SchemaConfig.parseYaml(new String(in.readAllBytes(), UTF_8)))
      finally in.close()
    })

  private def check(bytes: Array[Byte], label: String): Unit = banks.foreach { case (name, bank) =>
    LogFiles.lexEvents("f.log", bytes, bank).zipWithIndex.foreach { case (ev, i) =>
      val e = ev.event
      val where = s"$label/$name: event $i"
      val t = ParseTurnExpression.parse(bank, UTF8String.fromString(e.text), null, null)
      // parse_turn ordinals: 1 n_tokens, 4 has_timestamp, 5 first_ts,
      // 7 ts_extracted, 8 n_errors, 9 error_signature, 11 category
      def str(o: Int): String = if (t.isNullAt(o)) null else t.getUTF8String(o).toString
      assert(t.getInt(1) == e.n_tokens, where)
      assert(t.getBoolean(4) == e.has_timestamp, where)
      assert(str(5) == e.first_ts, where)
      val micros = if (t.isNullAt(7)) None else Some(t.getLong(7))
      assert(micros == Option(e.ts_extracted).map(DateTimeUtils.fromJavaTimestamp), where)
      assert(t.getInt(8) == e.n_errors, where)
      assert(str(9) == e.error_signature, where)
      assert(str(11) == e.category, where)
      val toks = t.getArray(0)
      assert(toks.numElements() == ev.tokens.length, where)
      ev.tokens.zipWithIndex.foreach { case (want, k) =>
        val got = toks.getStruct(k, 4)
        assert(got.getByte(0) == want.token_type && got.getInt(1) == want.schema_id &&
          got.getUTF8String(2).toString == want.value &&
          got.getInt(3) + e.line_start - 1 == want.line_num, s"$where token $k")
      }
    }
  }

  test("hive fixture: every event equals parse_turn of its text") {
    val in = getClass.getResourceAsStream("/hive-24h.log")
    val bytes = try in.readAllBytes() finally in.close()
    check(bytes, "hive-24h.log")
  }

  test("random byte strings: every event equals parse_turn of its text") {
    // the pieces and seeds of LogFilesKernelSpec's random test
    def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)
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
        if (rnd.nextInt(6) == 0) out.write(utf8("\n2015-03-23 08:09:17,637 "))
        out.write(pieces(rnd.nextInt(pieces.length)))
      }
      check(out.toByteArray, s"seed $seed")
    }
  }
}
