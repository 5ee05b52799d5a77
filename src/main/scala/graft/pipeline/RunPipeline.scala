package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.datagen.SyntheticTranscripts
import graft.lexer.PatternBank
import graft.schema.SchemaConfig

/** End-to-end job: scan → parse → enrich → route (4 sinks) → aggregates,
  * with checkpoint/resume and per-sink counts observed on the route pass.
  * `main` is the spark-submit entry used by the scaling benchmark:
  *
  *   RunPipeline <nConvs> <outDir> [cores] [schemaYamlPath]
  */
object RunPipeline {

  final case class Result(
      routedCounts: Map[String, Long],
      perTool: DataFrame,
      perConversation: DataFrame,
      nTools: Long,
      nConversations: Long,
      turnsIn: Long,
      routeSecs: Double,
      aggSecs: Double
  )

  def sparkSession(cores: Int, appName: String = "graft-pipeline"): SparkSession = {
    var b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // sizing confs defer to spark-submit --conf; the local default is
    // 4 waves per core (smooths stragglers at every core count, AQE still
    // coalesces tiny partitions). Hardcoding it would scale shuffle width
    // to the DRIVER's cores on a 200-executor cluster.
    if (!sys.props.contains("spark.sql.shuffle.partitions"))
      b = b.config("spark.sql.shuffle.partitions", math.max(16, cores * 4).toString)
    // honor spark-submit's --master on a real cluster; local[cores] is only
    // the standalone default (setting .master() unconditionally would
    // silently turn a 1000-executor submit into a single-JVM run)
    if (sys.props.contains("spark.master")) b.getOrCreate()
    else b.master(s"local[$cores]").getOrCreate()
  }

  /** Run the full pipeline over an input Dataset[Turn]. Sinks land in
    * `outDir/category=<category>`; committed sinks are skipped on resume.
    *
    * @param sinkMode "parquet" (real partitioned sinks) or "noop" (full
    *   computation — shuffle, parse, enrich, row materialization — into
    *   Spark's noop writer; exact per-sink counts still come from the same
    *   pass via `observe`). noop is the disk-independent configuration the
    *   scaling protocol gates on: on this sandbox's single virtual disk,
    *   parquet-sink runs measure the disk, not the engine (a real cluster
    *   spreads sink writes over many nodes' stores).
    */
  def run(spark: SparkSession, turns: Dataset[Turn], outDir: String,
          schema: SchemaConfig = SchemaConfig.example,
          fingerprint: String = "",
          sinkMode: String = "parquet"): Result = {
    // The compiled bank rides inside ParseTurnExpression in the plan; Spark
    // broadcasts the serialized task binary once per stage, so the dense DFA
    // tables still ship O(stages), not O(tasks) — no separate
    // sparkContext.broadcast needed on the expression path (the typed oracle
    // path in Parse.apply keeps one).
    val bank = PatternBank.compile(schema)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // salted repartition of the RAW turns (cheap representation through the
    // shuffle), expression-based parse after placement is fixed (the heavy
    // token arrays never move and rows never leave Tungsten form),
    // broadcast-enrich. Lazy: a fully resumed parquet run never plans it.
    lazy val enriched = Enrich(Parse.expr(Route.salted(turns.toDF(), partitions), bank),
      SyntheticTranscripts.dimTool(spark), SyntheticTranscripts.dimRole(spark))

    val ckpt = new Checkpoint(outDir, fingerprint)
    // noop sinks write nothing durable, so they must neither consult nor
    // advance the checkpoint — otherwise a noop run would mark sinks
    // committed and a later parquet run (or repeated noop run) would skip
    // real work / return empty counts.
    val pending = if (sinkMode == "noop") Category.All else Category.All.filterNot(ckpt.isCommitted)

    val t0 = System.nanoTime()
    var observedCounts = Map.empty[String, Long]
    var turnsIn = 0L
    if (pending.nonEmpty) {
      // ONE pass: the enriched rows go straight to the partitioned write;
      // per-sink counts and the rows-in metric ride the same pass via
      // observe().
      import org.apache.spark.sql.functions.{col, count, lit, sum, when}
      val obs = org.apache.spark.sql.Observation()
      val countAggs = count(lit(1)).as("_turns_in") +: Category.All.map(c =>
        sum(when(col("category") === c, 1L).otherwise(0L)).as(c))
      val observed = enriched.observe(obs, countAggs.head, countAggs.tail: _*)

      if (sinkMode == "noop")
        observed.write.format("noop").mode("overwrite").save()
      else
        Route.writePartitioned(observed, outDir, pending)

      val metrics = obs.get
      turnsIn = metrics.get("_turns_in").map(_.asInstanceOf[Long]).getOrElse(0L)
      observedCounts = Category.All.map(c =>
        c -> metrics.get(c).map(_.asInstanceOf[Long]).getOrElse(0L)).toMap
      if (sinkMode != "noop") pending.foreach(c => ckpt.commitSink(c, observedCounts(c)))
    }
    val routeSecs = (System.nanoTime() - t0) / 1e9
    val routedCounts =
      if (sinkMode == "noop") observedCounts
      else Category.All.map(c => c -> ckpt.committedRows(c).getOrElse(0L)).toMap

    // aggregates: parquet mode reads the durable sinks back (column pruning
    // reads a handful of scalar columns, not the token arrays); noop mode
    // recomputes from the same logical pipeline
    val ta = System.nanoTime()
    val aggSource = if (sinkMode == "noop") enriched else spark.read.parquet(outDir)
    val perTool = Aggregate.perTool(aggSource)
    val perConv = Aggregate.perConversation(aggSource)
    val nt = perTool.count()
    val nc = perConv.count()
    val aggSecs = (System.nanoTime() - ta) / 1e9
    Result(routedCounts, perTool, perConv, nt, nc, turnsIn, routeSecs, aggSecs)
  }

  /** Stage the synthetic transcript table as parquet (the "Iceberg table"
    * of the north rule) so measured runs start from a table scan like the
    * real deployment would — datagen CPU is not pipeline throughput.
    * Reuses an existing staging dir for the same nConvs.
    */
  def stageInput(spark: SparkSession, nConvs: Long, dir: String): Dataset[Turn] = {
    import spark.implicits._
    val marker = java.nio.file.Paths.get(dir, "_SUCCESS")
    if (!java.nio.file.Files.exists(marker)) {
      // fixed 64-file layout regardless of staging parallelism: the scan
      // stage must have enough splits to keep any core count busy
      SyntheticTranscripts.generate(spark, nConvs)
        .repartition(64)
        .write.mode("overwrite").parquet(dir)
    }
    spark.read.parquet(dir).as[Turn]
  }

  def main(args: Array[String]): Unit = {
    val nConvs = if (args.length > 0) args(0).toLong else 1000L
    val outDir = if (args.length > 1) args(1) else "target/pipeline-out"
    val cores = if (args.length > 2) args(2).toInt else Runtime.getRuntime.availableProcessors()
    val schema = if (args.length > 3) SchemaConfig.fromFile(args(3)) else SchemaConfig.example

    val sinkMode = sys.env.getOrElse("GRAFT_SINK_MODE", "parquet")

    val spark = sparkSession(cores)
    spark.sparkContext.setLogLevel("WARN")
    try {
      // input staged once (untimed), shared across scaling runs
      val inDir = s"/tmp/graft-input-$nConvs"
      val turns = stageInput(spark, nConvs, inDir)

      // JIT/codegen warmup on a small slice so the measured run reflects
      // steady-state throughput (the scaling-protocol runs compare N vs 4N
      // cores, not cold-JVM effects)
      val warmDir = java.nio.file.Files.createTempDirectory("graft-warm").toString
      run(spark, stageInput(spark, math.max(100L, nConvs / 20), s"/tmp/graft-input-warm-$nConvs"),
        warmDir, schema, fingerprint = "warmup", sinkMode = sinkMode)

      val t0 = System.nanoTime()
      val res = run(spark, turns, outDir, schema, fingerprint = s"synthetic-$nConvs",
        sinkMode = sinkMode)
      val secs = (System.nanoTime() - t0) / 1e9
      val turnsTotal = res.routedCounts.values.sum
      println(f"[pipeline] convs=$nConvs turns=$turnsTotal sinks=${res.routedCounts} " +
        f"tools=${res.nTools} convStats=${res.nConversations} mode=$sinkMode " +
        f"route=${res.routeSecs}%.2fs agg=${res.aggSecs}%.2fs wall=$secs%.2fs " +
        f"thru=${turnsTotal / math.max(res.routeSecs, 0.001)}%.0f turns/s")
    } finally spark.stop()
  }
}
