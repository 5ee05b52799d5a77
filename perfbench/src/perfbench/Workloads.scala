package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import graft.{SparkEntry, Verify}
import graft.datagen.SyntheticTranscripts
import graft.lexer.PatternBank
import graft.pipeline.{Aggregate, Category, Checkpoint, Enrich, Parse, Route, RunPipeline, Staging, Turn}
import graft.schema.SchemaConfig
import graft.sources.LogFiles

final class Ctx(val spark: SparkSession, val conf: Conf, val inputs: Inputs, val outcome: Outcome) {
  def out(name: String): String = s"${conf.work}/out/$name"
}

/** A workload: seeded input staging, one timed iteration, the output checks
  * made outside the timed section, and the traced per-layer probes.
  */
trait Workload {
  /** Stage the seeded input (cached across runs) and anything derived once. */
  def stage(): Unit
  /** One timed iteration; checks its own results after timing them. */
  def iterate(): Sample
  /** Output checks that need more than an iteration's results. */
  def check(): Unit
  /** Per-layer metrics of the layers this workload runs, from spans. */
  def layers(t: Tracer): Map[String, Double]
  def lexerTexts(): Seq[Array[Byte]]
  /** Query outputs for the DuckDB oracle, when the workload has one. */
  def dumps: Option[String] = None
}

object Workloads {
  import Main.{ThreadCpu, median, timed}

  val Queries: Seq[String] = Seq("d3_minhash_pairs", "d8_dedup_clusters", "d11_dedup_pipeline",
    "s3_knn_ivf", "s5_ivf_recall", "s6_knn_ivfpq", "s12_knn_filtered")

  /** Input sizes, fixed per workload; Docs and Vectors size the dedup/ANN
    * probes of the raw_logs traced run.
    */
  val TranscriptConvs = 12000L
  val LogSmallFiles = 96
  val LogSmallBytes = 64 << 10
  val LogLargeFiles = 3
  val LogLargeBytes = 3 << 20
  val LogChunkBytes = 1L << 20
  val Docs = 1000
  val Vectors = 1000

  /** Layers a workload does not run read 0 in its traced run. */
  val zeroLayers: Map[String, Double] = (Seq(
    "scan.s", "scan.cpu_s", "scan.input_mb",
    "shuffle.s", "shuffle.cpu_s", "shuffle.write_mb", "shuffle.read_mb",
    "parse.s", "parse.cpu_s", "parse.tokens", "parse.unmatched_frac",
    "enrich.s", "enrich.cpu_s", "sink.noop_s", "sink.noop_cpu_s", "ladder.route_s",
    "route.s", "route.cpu_s", "route.write_mb", "route.core_util",
    "checkpoint.resume_s", "checkpoint.sinks_skipped",
    "aggregate.per_tool_s", "aggregate.per_conv_s", "aggregate.cpu_s", "aggregate.shuffle_mb",
    "aggregate.readback_s",
    "logfiles.kernel_mb_per_s", "logfiles.chunk_index_s", "logfiles.chunk_index_cpu_s",
    "logfiles.regions_s", "logfiles.regions_cpu_s", "logfiles.wholetext_s",
    "logfiles.events", "logfiles.chunks",
    "turns_per_s", "agg_s", "log_mb_per_s", "log_whole_mb_per_s", "queries_s") ++
    Queries.flatMap(q => Seq(s"query.$q.s", s"query.$q.warm_s", s"query.$q.cpu_s",
      s"query.$q.shuffle_mb"))).map(_ -> 0.0).toMap

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "transcripts_noop" => new Transcripts(ctx)
    case "raw_logs" => new RawLogs(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Probes repeated in `n` interleaved rounds: each probe's spans. */
  def rounds(n: Int)(probes: Seq[(String, () => Span)]): Map[String, Seq[Span]] = {
    val got = (1 to n).flatMap(_ => probes.map { case (name, p) => name -> p() })
    got.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
  def med(spans: Seq[Span])(f: Span => Double): Double = median(spans.map(f))

  // ------------------------------------------------------------------ //

  /** The transcript pipeline: `RunPipeline.run` with noop sinks over the
    * staged table. The traced run adds the parquet-sink leg (partitioned
    * write, checkpoint commits, read-back aggregates) and its resume.
    */
  final class Transcripts(ctx: Ctx) extends Workload {
    import ctx.{conf, outcome, spark}
    private var turns: Dataset[Turn] = _
    private var fingerprint: String = _
    private var oracle: Map[String, Long] = _
    private var nTurns = 0L
    private var inputMb = 0.0

    def stage(): Unit = {
      import spark.implicits._
      val dir = ctx.inputs.transcripts(spark, conf.seed, TranscriptConvs)
      turns = spark.read.parquet(s"$dir/turns").as[Turn]
      inputMb = {
        val s = Files.list(Paths.get(dir, "turns"))
        try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum / 1e6
        finally s.close()
      }
      fingerprint = Paths.get(dir).getFileName.toString
      // typed-path oracle (Parse.apply), cached beside the staged input
      val cache = Paths.get(s"$dir.oracle")
      if (!Files.exists(cache)) {
        val counts = Parse(turns, Parse.broadcastBank(spark, PatternBank.example))
          .groupBy("category").count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString("\n")
        Files.write(cache, counts.getBytes(StandardCharsets.UTF_8))
      }
      val parsed = Files.readAllLines(cache).asScala.map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
      oracle = Category.All.map(c => c -> parsed.getOrElse(c, 0L)).toMap
      nTurns = oracle.values.sum
    }

    /** `resumed`: every sink was already committed, so no turn is read. */
    private def checkRun(leg: String, r: RunPipeline.Result, resumed: Boolean = false): Unit = {
      outcome.check(s"$leg: per-sink counts = typed oracle", r.routedCounts == oracle,
        s"got ${r.routedCounts}, oracle $oracle")
      outcome.check(s"$leg: routed = turns in",
        r.routedCounts.values.sum == (if (resumed) nTurns else r.turnsIn) && (!resumed || r.turnsIn == 0),
        s"routed ${r.routedCounts.values.sum}, in ${r.turnsIn}")
      outcome.check(s"$leg: aggregate cardinalities",
        r.nTools == SyntheticTranscripts.ToolNames.size && r.nConversations == TranscriptConvs,
        s"tools ${r.nTools}, conversations ${r.nConversations}")
    }

    /** (file, size, mtime) of every sink part file under `dir`. */
    private def partFiles(dir: String): Set[(String, Long, Long)] = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator.asScala.filter(p => p.getFileName.toString.startsWith("part-"))
        .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet
      finally s.close()
    }

    def iterate(): Sample = {
      val cpu = new ThreadCpu
      val (r, wall) = timed(RunPipeline.run(spark, turns, ctx.out("noop"),
        fingerprint = fingerprint, sinkMode = "noop"))
      val cpuS = cpu.seconds()
      checkRun("noop", r)
      Sample(wall - r.aggSecs, r.aggSecs, cpuS)
    }

    /** The parquet-sink leg and its resume (every noop iteration checks
      * its own counts).
      */
    def check(): Unit = {
      val out = ctx.out("check-sinks")
      val r1 = RunPipeline.run(spark, turns, out, fingerprint = fingerprint)
      val before = partFiles(out)
      val r2 = RunPipeline.run(spark, turns, out, fingerprint = fingerprint)
      checkRun("parquet", r1)
      checkRun("resume", r2, resumed = true)
      outcome.check("resume: counts identical to the parquet leg",
        r2.routedCounts == r1.routedCounts, s"${r2.routedCounts} vs ${r1.routedCounts}")
      outcome.check("resume: sink part files untouched",
        before.nonEmpty && partFiles(out) == before, s"${before.size} files before")
      Staging.deleteRecursively(out)
    }

    def lexerTexts(): Seq[Array[Byte]] =
      turns.select("text").limit(20000).collect().toSeq
        .map(r => Option(r.getString(0)).getOrElse("").getBytes(StandardCharsets.UTF_8))

    def layers(t: Tracer): Map[String, Double] = {
      import spark.implicits._
      val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val bank = PatternBank.compile(SchemaConfig.example)
      val dimTool = SyntheticTranscripts.dimTool(spark)
      val dimRole = SyntheticTranscripts.dimRole(spark)
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      def salted = Route.salted(turns.toDF(), partitions)
      def parsed = Parse.expr(salted, bank)
      def enriched = Enrich(parsed, dimTool, dimRole)
      var aggSecs = Vector.empty[Double]
      var resumeSecs = Vector.empty[Double]
      var skipped = 0.0
      var n = 0
      val sinksOut = ctx.out("ladder-sinks")

      /** The route pass of one full `run`: the span cut where run's own
        * aggregate timer starts, keeping only the jobs started before it.
        */
      def runRung(sinkMode: String): () => Span = () => {
        n += 1
        val out = if (sinkMode == "noop") ctx.out("ladder-noop") else s"$sinksOut-$n"
        val (r, s) = t.span(s"run.$sinkMode") {
          RunPipeline.run(spark, turns, out, fingerprint = fingerprint, sinkMode = sinkMode)
        }
        val (route, _) = s.split(s.startMs + ((s.wallS - r.aggSecs) * 1000).toLong)
        if (sinkMode == "noop") aggSecs :+= r.aggSecs
        else {
          skipped = Category.All.count(new Checkpoint(out, fingerprint).isCommitted).toDouble
          resumeSecs :+= t.span("checkpoint.resume")(
            RunPipeline.run(spark, turns, out, fingerprint = fingerprint))._2.wallS
          Staging.deleteRecursively(out)
        }
        s.copy(wallS = s.wallS - r.aggSecs, jobs = Seq(s.startMs -> route))
      }
      val ladder = rounds(3)(Seq(
        "scan" -> (() => t.span("scan")(noop(turns.toDF()))._2),
        "shuffle" -> (() => t.span("shuffle")(noop(salted))._2),
        "parse" -> (() => t.span("parse")(noop(parsed))._2),
        "enrich" -> (() => t.span("enrich")(noop(enriched))._2),
        "run" -> runRung("noop"),
        "write" -> runRung("parquet")))
      def wall(k: String) = med(ladder(k))(_.wallS)
      def cpu(k: String) = med(ladder(k))(_.cpuS)
      // self time = rung minus the rung below it; the noop run's route pass
      // is the top of the ladder, the parquet write is measured on enrich
      val below = Map("shuffle" -> "scan", "parse" -> "shuffle", "enrich" -> "parse",
        "run" -> "enrich", "write" -> "enrich")
      def selfWall(k: String) = wall(k) - below.get(k).map(wall).getOrElse(0.0)
      def selfCpu(k: String) = cpu(k) - below.get(k).map(cpu).getOrElse(0.0)

      val readBack = ctx.out("agg-source")
      RunPipeline.run(spark, turns, readBack, fingerprint = fingerprint)
      def aggs(src: () => DataFrame, label: String) = rounds(3)(Seq(
        "per_tool" -> (() => t.span(s"aggregate.per_tool.$label")(Aggregate.perTool(src()).count())._2),
        "per_conv" -> (() => t.span(s"aggregate.per_conv.$label")(Aggregate.perConversation(src()).count())._2)))
      val agg = aggs(() => enriched, "reparse")
      val aggRead = aggs(() => spark.read.parquet(readBack), "readback")
      Staging.deleteRecursively(readBack)
      val tokens = Parse.expr(turns.toDF(), bank).agg(sum(col("n_tokens"))).as[Long].head()

      Map(
        "scan.s" -> selfWall("scan"), "scan.cpu_s" -> selfCpu("scan"),
        // Spark's input metrics miss most local parquet reads (they count
        // about 0.1 MB here), so the scan's work is the files' size
        "scan.input_mb" -> inputMb,
        "shuffle.s" -> selfWall("shuffle"), "shuffle.cpu_s" -> selfCpu("shuffle"),
        "shuffle.write_mb" -> med(ladder("shuffle"))(s => s.mb(s.t.shuffleWrite)),
        "shuffle.read_mb" -> med(ladder("shuffle"))(s => s.mb(s.t.shuffleRead)),
        "parse.s" -> selfWall("parse"), "parse.cpu_s" -> selfCpu("parse"),
        "parse.tokens" -> tokens.toDouble,
        "parse.unmatched_frac" -> oracle(Category.Unmatched).toDouble / nTurns,
        "enrich.s" -> selfWall("enrich"), "enrich.cpu_s" -> selfCpu("enrich"),
        "sink.noop_s" -> selfWall("run"), "sink.noop_cpu_s" -> selfCpu("run"),
        "ladder.route_s" -> wall("run"),
        "route.s" -> selfWall("write"), "route.cpu_s" -> selfCpu("write"),
        "route.write_mb" -> med(ladder("write"))(s => s.mb(s.t.outputBytes)),
        "route.core_util" -> cpu("write") / (wall("write") * conf.cores),
        "checkpoint.resume_s" -> median(resumeSecs),
        "checkpoint.sinks_skipped" -> skipped,
        "aggregate.per_tool_s" -> med(agg("per_tool"))(_.wallS),
        "aggregate.per_conv_s" -> med(agg("per_conv"))(_.wallS),
        "aggregate.cpu_s" -> (med(agg("per_tool"))(_.cpuS) + med(agg("per_conv"))(_.cpuS)),
        "aggregate.shuffle_mb" -> (med(agg("per_tool"))(s => s.mb(s.t.shuffleWrite)) +
          med(agg("per_conv"))(s => s.mb(s.t.shuffleWrite))),
        "aggregate.readback_s" -> (med(aggRead("per_tool"))(_.wallS) + med(aggRead("per_conv"))(_.wallS)),
        "turns_per_s" -> nTurns / wall("run"),
        "agg_s" -> median(aggSecs))
    }
  }

  // ------------------------------------------------------------------ //

  /** Raw `.log` ingest: the within-file split path (chunk index → repaired
    * regions) and the file-parallel wholetext path, each to `eventStats`.
    */
  final class RawLogs(ctx: Ctx) extends Workload {
    import ctx.{conf, outcome, spark}
    private var dir: String = _
    private def glob = s"$dir/*.log"
    private var bank: Broadcast[PatternBank] = _
    private var inputMb = 0.0
    private var events = -1L

    def stage(): Unit = {
      dir = ctx.inputs.rawLogs(conf.seed, LogSmallFiles, LogSmallBytes, LogLargeFiles, LogLargeBytes)
      bank = Parse.broadcastBank(spark, PatternBank.example)
      val s = Files.list(Paths.get(dir))
      inputMb = try s.iterator.asScala.filter(_.toString.endsWith(".log")).map(Files.size(_)).sum / 1e6
        finally s.close()
    }

    private def split = LogFiles.eventStats(LogFiles.eventsSplit(spark, glob, bank, LogChunkBytes))
    private def whole = LogFiles.eventStats(LogFiles.events(spark, glob, bank))

    def iterate(): Sample = {
      val cpu = new ThreadCpu
      val (nSplit, wSplit) = timed(split.count())
      val (nWhole, wWhole) = timed(whole.count())
      val cpuS = cpu.seconds()
      outcome.check("split and wholetext event counts agree", nSplit == nWhole, s"$nSplit vs $nWhole")
      if (events < 0) events = nWhole
      outcome.check("event count stable across iterations", nWhole == events, s"$nWhole vs $events")
      Sample(wSplit, wWhole, cpuS)
    }

    def check(): Unit = {
      val a = split.cache()
      val b = whole.cache()
      outcome.check("split exceptAll wholetext is empty", a.exceptAll(b).count() == 0)
      outcome.check("wholetext exceptAll split is empty", b.exceptAll(a).count() == 0)
      a.unpersist(); b.unpersist()
    }

    private def largeFile = Paths.get(dir, "large-000.log")

    def lexerTexts(): Seq[Array[Byte]] = Seq(Files.readAllBytes(largeFile))

    def layers(t: Tracer): Map[String, Double] = {
      import spark.implicits._
      // single-thread LogFiles kernel over one large file
      val content = new String(Files.readAllBytes(largeFile), StandardCharsets.UTF_8)
      LogFiles.eventsOf(largeFile.toString, content, bank.value).size
      val k0 = System.nanoTime()
      var kernelBytes = 0L
      while (System.nanoTime() - k0 < 1500000000L) {
        LogFiles.eventsOf(largeFile.toString, content, bank.value).size
        kernelBytes += Files.size(largeFile)
      }
      val kernelMbPerS = kernelBytes / 1e6 / ((System.nanoTime() - k0) / 1e9)

      var metas = Array.empty[LogFiles.ChunkMeta]
      var nEvents = 0L
      val r = rounds(3)(Seq(
        "chunk_index" -> (() => {
          val (m, s) = t.span("logfiles.chunk_index")(LogFiles.chunkIndex(spark, glob, bank, LogChunkBytes).collect())
          metas = m
          s
        }),
        "regions" -> (() => {
          val (n, s) = t.span("logfiles.regions") {
            LogFiles.eventStats(LogFiles.eventsFromIndex(spark, spark.createDataset(metas.toSeq), bank)).count()
          }
          nEvents = n
          s
        }),
        "split" -> (() => t.span("logfiles.split")(split.count())._2),
        "wholetext" -> (() => t.span("logfiles.wholetext")(whole.count())._2)))
      Map(
        "logfiles.kernel_mb_per_s" -> kernelMbPerS,
        "logfiles.chunk_index_s" -> med(r("chunk_index"))(_.wallS),
        "logfiles.chunk_index_cpu_s" -> med(r("chunk_index"))(_.cpuS),
        "logfiles.regions_s" -> med(r("regions"))(_.wallS),
        "logfiles.regions_cpu_s" -> med(r("regions"))(_.cpuS),
        "logfiles.wholetext_s" -> med(r("wholetext"))(_.wallS),
        "logfiles.events" -> nEvents.toDouble,
        "logfiles.chunks" -> metas.length.toDouble,
        "log_mb_per_s" -> inputMb / med(r("split"))(_.wallS),
        "log_whole_mb_per_s" -> inputMb / med(r("wholetext"))(_.wallS)) ++
        operators.layers(t)
    }

    private val operators = new Operators(ctx)
    override def dumps: Option[String] = operators.dumps
  }

  // ------------------------------------------------------------------ //

  /** The fixed, ordered dedup/ANN query list through `SparkEntry.queries`,
    * each forced with `count()` under its own span: first in a fresh
    * session (so `SparkEntry`'s per-session staging is paid by the query
    * that first touches it), then once more warm in the same session.
    *
    * Not a workload of its own: one fresh-session pass costs 20–40 s on four
    * cores, nearly all of it per-job overhead and codegen rather than data,
    * and a single cold sample per run does not hold still on a shared host.
    * The raw_logs traced run measures it instead, over seeded documents and
    * embeddings, and checks every output against the DuckDB oracle.
    */
  final class Operators(ctx: Ctx) {
    import ctx.{conf, outcome, spark}
    private val dumpDir = s"${conf.work}/dumps"

    def layers(t: Tracer): Map[String, Double] = {
      val dir = ctx.inputs.documentsAndEmbeddings(spark, conf.seed, Docs, Vectors)
      val s = spark.newSession()
      def pass(suffix: String) = Queries.map { q =>
        val (n, sp) = t.span(s"query.$q$suffix")(SparkEntry.queries(q)(s, dir).count())
        (q, n, sp)
      }
      val first = pass("")
      val warm = pass(".warm")
      outcome.check("warm row counts equal first-touch", warm.map(_._2) == first.map(_._2))
      dump(s, dir, first.map(x => x._1 -> x._2).toMap)
      first.zip(warm).flatMap { case ((q, _, a), (_, _, b)) =>
        Seq(s"query.$q.s" -> a.wallS, s"query.$q.warm_s" -> b.wallS, s"query.$q.cpu_s" -> a.cpuS,
          s"query.$q.shuffle_mb" -> a.mb(a.t.shuffleWrite))
      }.toMap + ("queries_s" -> first.map(_._3.wallS).sum)
    }

    /** Query outputs and the sequential replays for `run.py`'s DuckDB
      * oracle, written from the measured session (its staged artifacts are
      * the ones the measured queries used).
      */
    private def dump(s: SparkSession, dir: String, counts: Map[String, Long]): Unit = {
      Staging.deleteRecursively(dumpDir)
      Queries.foreach { q =>
        SparkEntry.queries(q)(s, dir).coalesce(1).write.parquet(s"$dumpDir/$q")
        val n = s.read.parquet(s"$dumpDir/$q").count()
        outcome.check(s"$q: dumped rows = measured rows", n == counts(q), s"$n vs ${counts(q)}")
      }
      val staged = s"$dumpDir/_staged"
      Verify.stageReplays(s, dir, staged)
      val oracle = Queries.map { q =>
        q -> (if (q == "s5_ivf_recall") S5RecallOracle else SparkEntry.oracleSql(q))
          .replace("{STAGED}", staged)
      }
      Files.write(Paths.get(dumpDir, "oracle_sql.json"),
        Json.obj(oracle).getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(dumpDir, "tables.json"),
        Json.obj(Seq("documents" -> s"$dir/documents.parquet/*.parquet",
          "embeddings" -> s"$dir/embeddings.parquet/*.parquet")).getBytes(StandardCharsets.UTF_8))
    }

    def dumps: Option[String] = Some(dumpDir).filter(d => Files.exists(Paths.get(d)))

    /** `SparkEntry.oracleSql` pins s5's `recall_pass` to true, which holds on
      * the sf tables. On seeded near-random corpora the recall of probing 6
      * of 16 cells is 0.6–0.8 and falls under the 0.6 gate for a few
      * percent of seeds, so the flag is recomputed here: DuckDB's
      * brute-force top-5 (the s1 oracle) against the sequential replay of
      * s3's IVF top-5, the result s5 grades.
      */
    private val S5RecallOracle =
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.embedding, CAST(e.embedding AS DOUBLE[])) AS s
        |  FROM q, embeddings e WHERE e.vec_id <> q.vec_id),
        |truth AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5),
        |hits AS (SELECT count(*) AS n FROM truth
        |  JOIN read_parquet('{STAGED}/replay_s3/*.parquet') a USING (query_id, neighbor_id))
        |SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
        |  (SELECT n FROM hits) * 1.0 / count(*) >= 0.6 AS recall_pass
        |FROM truth""".stripMargin
  }
}
