package graft.lexer

import org.scalatest.funsuite.AnyFunSuite
import graft.schema.SchemaConfig

/** Tokenizer semantics tests: reproduces the reference lexer's observable
  * behaviour on the hive-24h.log fixture (reference integration tests:
  * /root/reference/tests/lexer_test.rs:9-65, log_parser_test.rs:8-52) plus
  * the subtle FSM cases called out in SURVEY.md §7.3.
  */
class TokenizerSpec extends AnyFunSuite {
  private val bank = PatternBank.example
  private def toks(text: String) = Tokenizer.tokenize(bank, text).toVector

  private val VarInt = 0
  private val VarFloat = 1
  private val VarHex = 2
  private val VarLoglevel = 3
  private val VarThread = 4
  private val VarPath = 5

  private lazy val hiveLog: String = {
    val in = getClass.getResourceAsStream("/hive-24h.log")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  test("schema fixture loads: 5 ts schemas, 6 var schemas in order, delimiters") {
    val cfg = SchemaConfig.example
    assert(cfg.tsPatterns.size == 5)
    assert(cfg.varNames == Vector("int", "float", "hex", "loglevel", "thread_identifier", "path"))
    for (c <- " \t\r\n:,!;%") assert(cfg.hasDelimiter(c), c.toInt)
    assert(!cfg.hasDelimiter('.'))
    assert(!cfg.hasDelimiter('['))
  }

  test("hive line 1: full expected token stream") {
    val line = "2015-03-23 08:09:17,637 INFO [main] org.apache.hadoop.metrics2.impl.MetricsSystemImpl: Scheduled snapshot period at 10 second(s).\n"
    val ts = toks(line)
    val expected = Vector(
      (TokenType.Timestamp, 3, "2015-03-23 08:09:17,637", 1),
      (TokenType.StaticText, -1, " ", 1),
      (TokenType.Variable, VarLoglevel, "INFO", 1),
      (TokenType.StaticText, -1, " ", 1),
      (TokenType.Variable, VarThread, "[main]", 1),
      (TokenType.StaticText, -1, " org.apache.hadoop.metrics2.impl.MetricsSystemImpl: Scheduled snapshot period at ", 1),
      (TokenType.Variable, VarInt, "10", 1),
      (TokenType.StaticTextWithEndLine, -1, " second(s).\n", 1)
    )
    assert(ts.map(t => (t.tokenType, t.schemaId, t.value, t.lineNum)) == expected)
  }

  test("continuation line with hex UUID variable") {
    val line = " - UUID:0xddba9b95eeb3cfb9ccb3d8401d1610d42f0e3aad\n"
    val ts = toks(line)
    assert(ts.map(t => (t.tokenType, t.schemaId, t.value)) == Vector(
      (TokenType.StaticText, -1, " - UUID:"),
      (TokenType.Variable, VarHex, "0xddba9b95eeb3cfb9ccb3d8401d1610d42f0e3aad"),
      (TokenType.StaticTextWithEndLine, -1, "\n")
    ))
  }

  test("path variable is delimiter-enclosed and maximal") {
    val line = "Processing split:/HiBench/Hive/Input-comp/uservisits/part-00037\n"
    val ts = toks(line)
    assert(ts.exists(t => t.tokenType == TokenType.Variable && t.schemaId == VarPath &&
      t.value == "/HiBench/Hive/Input-comp/uservisits/part-00037"))
  }

  test("timestamp longest-match picks the millis form; first-defined wins ties") {
    // pattern 3 (space + comma-millis) beats pattern 4 (no millis) by length
    val ts = toks("2015-03-23 08:09:17,637 x\n")
    assert(ts.head.tokenType == TokenType.Timestamp && ts.head.schemaId == 3)
    // without millis only pattern 4 matches
    val ts2 = toks("2015-03-23 08:09:17 x\n")
    assert(ts2.head.tokenType == TokenType.Timestamp && ts2.head.schemaId == 4)
    assert(ts2.head.value == "2015-03-23 08:09:17")
  }

  test("timestamp rollback: partial timestamp downgrades to static/variable text (lexer.rs:313-316)") {
    val ts = toks("2015-03-23 bad\n")
    assert(!ts.exists(_.tokenType == TokenType.Timestamp))
    // "2015-03-23" is not int/float/hex (hex can't contain '-') → it stays
    // pending static; ' ' splits words; "bad" is a valid hex word (a,b,d in [a-f])
    assert(ts.map(_.value).mkString == "2015-03-23 bad\n")
  }

  test("timestamps only match at line starts (docs/Schema.md:7)") {
    val ts = toks("prefix 2015-03-23 08:09:17,637 INFO\n")
    assert(!ts.exists(_.tokenType == TokenType.Timestamp))
  }

  test("variable downgrade on mid-word DFA death (lexer.rs:356-361)") {
    // "123abc" starts as int then dies at 'a' (not a delimiter) → static
    val ts = toks("x 123abc y\n")
    assert(!ts.exists(_.tokenType == TokenType.Variable))
    assert(ts.map(_.value).mkString == "x 123abc y\n")
  }

  test("variable not emitted if word ends in non-accepting state") {
    // int DFA alive-but-not-accepting at end: '-' alone
    val ts = toks("- \n")
    assert(!ts.exists(_.tokenType == TokenType.Variable))
  }

  test("variable at end of input without trailing delimiter") {
    val ts = toks("value 42")
    assert(ts.last.tokenType == TokenType.Variable)
    assert(ts.last.schemaId == VarInt)
    assert(ts.last.value == "42")
  }

  test("priority: first-defined variable wins (int vs hex on '10')") {
    val t10 = toks("a 10 b\n").find(_.tokenType == TokenType.Variable).get
    assert(t10.schemaId == VarInt && t10.value == "10")
    val thex = toks("a 0xab b\n").filter(_.tokenType == TokenType.Variable)
    assert(thex.exists(t => t.schemaId == VarHex && t.value == "0xab"))
  }

  test("line numbers increment after newline tokens (lexer.rs:176-183)") {
    val ts = toks("INFO\nWARN\nERROR")
    val vars = ts.filter(_.tokenType == TokenType.Variable)
    assert(vars.map(_.lineNum) == Vector(1, 2, 3))
    val eols = ts.filter(_.tokenType == TokenType.StaticTextWithEndLine)
    assert(eols.map(_.lineNum) == Vector(1, 2))
  }

  test("losslessness on the full hive-24h fixture (lexer_test.rs:40-61)") {
    val ts = toks(hiveLog)
    assert(ts.nonEmpty)
    assert(ts.map(_.value).mkString == hiveLog)
    // every Timestamp token is at a line start
    val text = hiveLog
    var off = 0
    ts.foreach { t =>
      if (t.tokenType == TokenType.Timestamp) assert(off == 0 || text.charAt(off - 1) == '\n')
      off += t.value.length
    }
  }

  test("multi-line log events: boundaries before each timestamp (log_parser_test.rs:29-48)") {
    val ts = Tokenizer.tokenize(bank, hiveLog)
    val events = Tokenizer.assembleEvents(ts)
    // hive-24h.log has 4 timestamp-led lines → 4 events, all with timestamps
    assert(events.length == 4)
    assert(events.forall(_.hasTimestamp))
    // line ranges are contiguous: next event starts on the last line of the
    // previous one +1? No — the EndLine token of the boundary line belongs to
    // the previous event, so next.lineStart == prev.lineEnd (+1 after EOL).
    events.sliding(2).foreach { case collection.mutable.ArrayBuffer(a, b) =>
      assert(b.lineStart == a.lineEnd + 1)
    case _ => ()
    }
    // event reconstruction is lossless
    val rebuilt = events.map(e => ts.slice(e.tokenStart, e.tokenEnd).map(_.value).mkString).mkString
    assert(rebuilt == hiveLog)
  }

  test("first event may lack a timestamp (log_parser.rs:88-91)") {
    val text = "no ts here\n2015-03-23 08:09:17,637 INFO ok\n"
    val ts = Tokenizer.tokenize(bank, text)
    val events = Tokenizer.assembleEvents(ts)
    assert(events.length == 2)
    assert(!events(0).hasTimestamp)
    assert(events(1).hasTimestamp)
  }

  test("multi-line boundary case from FIXTURES.md §4") {
    val text = "2015-03-23 08:09:26,910 INFO start\n - cont1\n - cont2\n2015-03-23 08:09:29,093 DEBUG next\n"
    val ts = Tokenizer.tokenize(bank, text)
    val events = Tokenizer.assembleEvents(ts)
    assert(events.length == 2)
    assert(events(0).lineStart == 1 && events(0).lineEnd == 3)
    assert(events(1).lineStart == 4 && events(1).lineEnd == 4)
  }

  test("empty and delimiter-only inputs") {
    assert(toks("").isEmpty)
    assert(toks("\n").map(t => (t.tokenType, t.value)) == Vector((TokenType.StaticTextWithEndLine, "\n")))
    assert(toks("   ").map(_.value).mkString == "   ")
  }

  test("consecutive delimiters and empty words") {
    val ts = toks("a::b,,c\n")
    assert(ts.map(_.value).mkString == "a::b,,c\n")
  }

  private lazy val hiveLargeLog: String = {
    val in = getClass.getResourceAsStream("/hive-24h_large.log")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  test("losslessness + event assembly on the 103-line hive-24h_large fixture (lexer_test.rs:9-65)") {
    val ts = Tokenizer.tokenize(bank, hiveLargeLog)
    assert(ts.nonEmpty)
    assert(ts.map(_.value).mkString == hiveLargeLog)
    val events = Tokenizer.assembleEvents(ts)
    assert(events.nonEmpty)
    val rebuilt = events.map(e => ts.slice(e.tokenStart, e.tokenEnd).map(_.value).mkString).mkString
    assert(rebuilt == hiveLargeLog)
    // the fixture is timestamp-led: every line either starts an event or
    // continues one; line coverage is contiguous from line 1
    assert(events.head.lineStart == 1)
    events.sliding(2).foreach {
      case collection.mutable.ArrayBuffer(a, b) => assert(b.lineStart == a.lineEnd + 1)
      case _ => ()
    }
  }

  test("the reference's real schema.yaml loads byte-for-byte; field_identifier drives tool routing") {
    // src/test/resources/schema.yaml is a verbatim copy of the reference's
    // examples/schema.yaml (FIXTURES.md §1)
    val yaml = {
      val in = getClass.getResourceAsStream("/schema.yaml")
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val cfg = SchemaConfig.parseYaml(yaml)
    assert(cfg.varNames == Vector("int", "float", "hex", "loglevel", "field_identifier", "path"))
    val refBank = PatternBank.compile(cfg)
    // routing resolves the bracket variable under its real-YAML name
    assert(refBank.loglevelVarId == 3)
    assert(refBank.bracketVarId == 4)
    // both fixtures tokenize losslessly under the reference's own config
    assert(Tokenizer.tokenize(refBank, hiveLog).map(_.value).mkString == hiveLog)
    assert(Tokenizer.tokenize(refBank, hiveLargeLog).map(_.value).mkString == hiveLargeLog)
    // tool_invocation extraction works under field_identifier (typed path)
    val parsed = graft.pipeline.Parse.parseTurn(refBank,
      graft.pipeline.Turn("c1", 0, "tool", "[grep] 2 files matched\n", "grep", null))
    assert(parsed.tool_invocation == "grep")
    assert(parsed.category == graft.pipeline.Category.ToolCalls)
    // and on the expression path
    import org.apache.spark.unsafe.types.UTF8String
    val row = graft.functions.ParseTurnExpression.parse(refBank,
      UTF8String.fromString("[grep] 2 files matched\n"),
      UTF8String.fromString("tool"), UTF8String.fromString("grep"))
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(row.getUTF8String(10).toString == "grep")
  }

  test("routing: overrides pick the routing variables explicitly") {
    val cfg = SchemaConfig.parseYaml(
      """timestamp: []
        |delimiters: " \n"
        |variables:
        |  sev: '(GOOD)|(BAD)'
        |  box: '\[(\w)+\]'
        |routing:
        |  loglevel: sev
        |  tool_field: box
        |""".stripMargin)
    val b = PatternBank.compile(cfg)
    assert(b.loglevelVarId == 0)
    assert(b.bracketVarId == 1)
  }
}
