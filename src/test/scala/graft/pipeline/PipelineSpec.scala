package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.datagen.SyntheticTranscripts
import graft.lexer.{PatternBank, TokenType, Tokenizer}

/** DataFrame equality tests (SURVEY.md §5.2-3): run the pipeline on the
  * deterministic synthetic transcripts and compare against an independent
  * naive oracle (collect + pure-Scala recompute): per-sink routed counts,
  * routed-row set equality both ways (`exceptAll` empty), per-turn text
  * equality under stable (conv_id, turn_idx) ordering, plus checkpoint
  * resume without duplicates.
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val nConvs = 120L
  private lazy val bank = PatternBank.example
  private lazy val turns = SyntheticTranscripts.generate(spark, nConvs)
  private lazy val collected: Seq[Turn] = turns.collect().toSeq

  /** The independent oracle: same per-turn logic, but driven by plain Scala
    * collections on the driver (no Spark execution paths shared with the
    * pipeline except the pure tokenizer, which has its own test matrix).
    */
  private lazy val oracleParsed: Seq[ParsedTurn] = collected.map(t => Parse.parseTurn(bank, t))

  test("generator is deterministic and independent of partitioning") {
    val a = SyntheticTranscripts.generate(spark, 30L).repartition(13).collect().sortBy(t => (t.conv_id, t.turn_idx)).toSeq
    val b = SyntheticTranscripts.generate(spark, 30L).repartition(2).collect().sortBy(t => (t.conv_id, t.turn_idx)).toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("conversation sizes are skewed (hot conversations exist)") {
    val sizes = collected.groupBy(_.conv_id).map(_._2.size)
    assert(sizes.max >= 60)
    assert(sizes.min >= 3)
  }

  test("expression-based parse equals the typed path on every column") {
    import spark.implicits._
    val typed = Parse(turns, spark.sparkContext.broadcast(bank)).toDF()
    val viaExpr = Parse.expr(turns.toDF(), bank)
    assert(viaExpr.schema.map(f => (f.name, f.dataType)) ==
      typed.schema.map(f => (f.name, f.dataType)))
    val a = viaExpr.orderBy("conv_id", "turn_idx").collect()
    val b = typed.orderBy("conv_id", "turn_idx").collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"\nexpr : $x\ntyped: $y") }
  }

  test("parse stage equals the naive oracle row-for-row") {
    import spark.implicits._
    val parsed = Parse(turns, spark.sparkContext.broadcast(bank))
    val got = parsed.collect().sortBy(t => (t.conv_id, t.turn_idx)).toSeq
    val want = oracleParsed.sortBy(t => (t.conv_id, t.turn_idx))
    assert(got.size == want.size)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering") {
    import spark.implicits._
    val parsed = Parse(turns, spark.sparkContext.broadcast(bank))
    val fromTokens = parsed
      .map(p => (p.conv_id, p.turn_idx, p.tokens.map(_.value).mkString))
      .toDF("conv_id", "turn_idx", "rebuilt")
    val orig = turns.toDF().select($"conv_id", $"turn_idx", $"text")
    val joined = orig.join(fromTokens, Seq("conv_id", "turn_idx"))
    assert(joined.filter($"text" =!= $"rebuilt").count() == 0)
    assert(joined.count() == collected.size)
  }

  test("routed counts match the oracle per sink; exceptAll empty both ways") {
    import spark.implicits._
    val parsed = Parse(turns, spark.sparkContext.broadcast(bank))
    val enriched = Enrich(parsed.toDF(),
      SyntheticTranscripts.dimTool(spark), SyntheticTranscripts.dimRole(spark))

    val gotCounts = enriched.groupBy("category").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantCounts = oracleParsed.groupBy(_.category).map { case (k, v) => k -> v.size.toLong }
    assert(gotCounts == wantCounts)
    assert(Category.All.forall(c => gotCounts.getOrElse(c, 0L) > 0), s"all categories populated: $gotCounts")

    // routed-row equality per sink (keys + category), both directions
    val gotRows = enriched.select($"conv_id", $"turn_idx", $"category")
    val wantRows = oracleParsed.map(p => (p.conv_id, p.turn_idx, p.category))
      .toDF("conv_id", "turn_idx", "category")
    assert(gotRows.exceptAll(wantRows).isEmpty)
    assert(wantRows.exceptAll(gotRows).isEmpty)
  }

  test("enrich stage uses broadcast hash joins (no shuffle joins in plan)") {
    import spark.implicits._
    val parsed = Parse(turns, spark.sparkContext.broadcast(bank))
    val enriched = Enrich(parsed.toDF(),
      SyntheticTranscripts.dimTool(spark), SyntheticTranscripts.dimRole(spark))
    val plan = enriched.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
    // dim attributes actually arrive
    val tools = enriched.filter($"tool".isNotNull).select("tool_category").distinct().collect()
    assert(tools.nonEmpty && tools.forall(!_.isNullAt(0)))
  }

  test("aggregates: per-tool and per-conversation stats match the oracle") {
    import spark.implicits._
    val parsed = Parse(turns, spark.sparkContext.broadcast(bank))
    val enriched = Enrich(parsed.toDF(),
      SyntheticTranscripts.dimTool(spark), SyntheticTranscripts.dimRole(spark))

    val gotTool = Aggregate.perTool(enriched).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val wantTool = oracleParsed.filter(_.tool != null).groupBy(_.tool).map { case (k, v) =>
      k -> (v.size.toLong, v.count(_.category == Category.Errors).toLong)
    }
    assert(gotTool == wantTool)

    val gotConv = Aggregate.perConversation(enriched).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    val wantConv = oracleParsed.groupBy(_.conv_id).map { case (k, v) =>
      k -> (v.size.toLong, v.map(_.turn_idx).max)
    }
    assert(gotConv == wantConv)
  }

  test("extraction fields: first timestamp parses; error signature templated") {
    val withTs = oracleParsed.filter(_.has_timestamp)
    assert(withTs.nonEmpty)
    assert(withTs.forall(_.ts_extracted != null))
    val errs = oracleParsed.filter(_.category == Category.Errors)
    assert(errs.nonEmpty)
    assert(errs.forall(_.error_signature != null))
    assert(errs.forall(p => p.error_signature.contains("<ts>") || p.error_signature.contains("<")))
    // templated signatures collapse variable values → far fewer distinct
    assert(errs.map(_.error_signature).distinct.size < errs.size)
  }

  test("full run writes 4 sinks and resume skips committed work (no duplicates)") {
    val out = Staging.tempDirDeletedOnExit("graft-route")
    val res1 = RunPipeline.run(spark, turns, out, fingerprint = "t1")
    assert(res1.routedCounts.keySet == Category.All.toSet)
    val wantCounts = oracleParsed.groupBy(_.category).map { case (k, v) => k -> v.size.toLong }
    assert(res1.routedCounts == wantCounts)
    Category.All.foreach { c =>
      val n = spark.read.parquet(s"$out/category=$c").count()
      assert(n == wantCounts(c), s"sink $c")
    }
    // resume: second run with same fingerprint must not rewrite or duplicate
    val res2 = RunPipeline.run(spark, turns, out, fingerprint = "t1")
    assert(res2.routedCounts == wantCounts)
    Category.All.foreach { c =>
      assert(spark.read.parquet(s"$out/category=$c").count() == wantCounts(c), s"sink $c after resume")
    }
  }

  test("tokenizer token type mix is sane on synthetic data") {
    val all = collected.flatMap(t => Tokenizer.tokenize(bank, t.text))
    val byType = all.groupBy(_.tokenType).map { case (k, v) => k -> v.size }
    assert(byType.getOrElse(TokenType.Timestamp, 0) > 0)
    assert(byType.getOrElse(TokenType.Variable, 0) > 0)
    assert(byType.getOrElse(TokenType.StaticText, 0) > 0)
    assert(byType.getOrElse(TokenType.StaticTextWithEndLine, 0) > 0)
  }
}
