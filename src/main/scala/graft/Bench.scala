package graft

import org.apache.spark.sql.SparkSession
import graft.datagen.SyntheticTranscripts
import graft.pipeline.{Route, RunPipeline, Staging}

/** Driver-run benchmark: headline = end-to-end parse→enrich→route throughput
  * on the synthetic transcript table (the BASELINE.json metric, turns/sec),
  * plus wall-clock for a representative slice of the query surface.
  * Prints exactly ONE JSON line.
  */
object Bench {

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Headline pipeline run: returns (turns, seconds, turns/sec). Runs with
    * noop sinks by default — the reference's own benchmark parses and counts
    * without writing output (examples/benchmark), and this sandbox's single
    * virtual disk throttles unpredictably (BENCH/BASELINE.md §3); override
    * with GRAFT_SINK_MODE=parquet for the durable-sink variant.
    */
  def pipelineThroughput(spark: SparkSession, nConvs: Long, outDir: String): (Long, Double, Double) = {
    val sinkMode = sys.env.getOrElse("GRAFT_SINK_MODE", "noop")
    // input staged as parquet (untimed) — the measured job starts from a
    // table scan like the real deployment; small warmup run for JIT
    val turns = RunPipeline.stageInput(spark, nConvs)
    val warm = RunPipeline.stageInput(spark, math.max(100L, nConvs / 20))
    RunPipeline.run(spark, warm,
      Staging.tempDirDeletedOnExit("graft-bench-warm"),
      fingerprint = "warmup", sinkMode = sinkMode)
    val res = RunPipeline.run(spark, turns, outDir,
      fingerprint = s"bench-$nConvs-$outDir", sinkMode = sinkMode)
    val total = res.routedCounts.values.sum
    (total, res.routeSecs, total / res.routeSecs)
  }

  // EVERY registered query is timed per-round: an unbenched operator is
  // regression-invisible (round 3's s2 regression was caught only because
  // s2 was benched; 16 rows were still blind through round 4). The list is
  // ordered explicitly — NOT derived from the queries map — so that each
  // shared SparkEntry artifact (the d3/d4/d5 pair sets, the d9-d11 truth
  // set, the trained ANN models, indexes and top-k sets, the l1 chunk
  // index) is built by the same first-touching row across rounds and
  // per-row deltas stay comparable; new rows append at the end. BenchSpec asserts
  // this list covers SparkEntry.queries exactly, so the blind spot cannot
  // silently reopen.
  val HeadlineQueries: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q5_window", "q10_events_hourly", "q11_sessionize",
    "q13_rollup", "q18_count_distinct", "q19_approx_distinct",
    "d1_exact_dedup", "d3_minhash_pairs", "d4_simhash_pairs", "d6_embedding_neardup",
    "d8_dedup_clusters", "d9_minhash_recall", "d10_simhash_recall", "d11_dedup_pipeline",
    "s1_knn_brute", "s2_knn_lsh", "s3_knn_ivf", "s5_ivf_recall", "s6_knn_ivfpq", "s7_ivfpq_recall",
    "t1_quality", "t3_langid", "t4_fingerprint", "t5_char_entropy", "t6_redact",
    "m1_multimodal_features", "l1_log_events",
    "p1_route_counts", "p2_token_stats", "p4_conv_stats", "p5_error_signatures",
    // appended round 5 (formerly unbenched + the round's new surface)
    "q2_sort_limit", "q4_multijoin", "q6_filter_agg", "q7_semi", "q8_anti",
    "q9_setop", "q12_json_extract", "q14_percentile", "q15_corr_subquery",
    "q16_except", "q17_union_distinct", "q20_approx_percentile", "q21_heavy_hitters",
    "d2_norm_dedup", "d5_ngram_jaccard", "d7_embedding_lsh_recall",
    "s4_lsh_recall", "s8_ivf_dist_recall", "s9_ivf_twolevel_recall",
    "s10_ivfpq_twolevel_recall", "t2_tokencounts",
    "m2_multimodal_verify", "p3_per_tool",
    // appended round 6 (append lifecycle + filtered ANN, raw + compressed)
    "s11_ivf_append_recall", "s12_knn_filtered", "s13_ivfpq_filtered_recall")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", math.max(8, cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    try {
      // headline: parse→enrich→route throughput (with sink writes)
      val benchOut = Staging.tempDirDeletedOnExit("graft-bench")
      val nConvs = SyntheticTranscripts.convsForSfDir(sfDir)
      val (turns, pipeSecs, turnsPerSec) = pipelineThroughput(spark, nConvs, benchOut)

      val qTimes = HeadlineQueries.flatMap { name =>
        SparkEntry.queries.get(name).map { fn =>
          val (_, secs) = timed { fn(spark, sfDir).count() }
          name -> secs
        }
      }

      val allTimes = ("pipeline_parse_route" -> pipeSecs) +: qTimes
      val total = allTimes.map(_._2).sum
      val qs = allTimes.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      val json =
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","pipeline":{"turns":$turns,"seconds":$pipeSecs%.3f,"turns_per_sec":$turnsPerSec%.1f,"cores":$cpus}}"""
      println(json)
      // durable copy so the bench signal survives even if a wrapper process
      // decorates stdout (round 1's BENCH json came back unparseable); best
      // effort — the printed line is the contract, a file error must not
      // fail a completed bench run
      try {
        val p = java.nio.file.Paths.get("BENCH/bench_latest.json")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, json + "\n")
      } catch { case e: Exception =>
        System.err.println(s"[bench] could not write BENCH/bench_latest.json: ${e.getMessage}")
      }
    } finally spark.stop()
  }
}
