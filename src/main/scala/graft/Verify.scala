package graft
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.datagen.SyntheticTranscripts
import graft.lexer.PatternBank
import graft.pipeline.Parse
import graft.sources.LogFiles

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Also stages the
  * TYPED-path parse output (the independently-coded oracle implementation)
  * as parquet so the p* oracle SQL can re-aggregate it in DuckDB — the
  * queries themselves run the native-expression path.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // staged parquet lives NEXT TO outDir, not inside it — the driver
    // iterates outDir subdirs as query results
    val stagedDir = Paths.get(outDir + "_staged").toAbsolutePath.normalize().toString
    try stageTypedParse(spark, sfDir, stagedDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] staging failed (p* oracles will miss): ${e.getMessage}")
    }
    try stageLogEvents(spark, sfDir, stagedDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] log staging failed (l1 oracle will miss): ${e.getMessage}")
    }
    stageReplays(spark, sfDir, stagedDir)
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // m1 oracle: expected per-type stats re-derived WITHOUT Spark — a
    // sequential driver loop over the same deterministic asset ids, so the
    // DuckDB row pins Spark's distributed generate→decode→aggregate against
    // a single-threaded replay ({M1_VALUES} substituted at dump time).
    val m1Vals =
      try m1ExpectedValues(sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] m1 replay failed (m1 oracle will miss): ${e.getMessage}")
        "{M1_VALUES}" // leave placeholder → DuckDB reports an error for m1 only
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("{STAGED}", stagedDir).replace("{M1_VALUES}", m1Vals))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Sequential (no-Spark) replay of m1's generate→decode→featureStats:
    * VALUES rows `('type', n_assets, avg_norm, avg_width, total_frames)`
    * with the same rounding the query applies. Must mirror SparkEntry's m1
    * sizing and Multimodal's default nDim/framesPerVideo. Per-type norms
    * are summed in ASCENDING order — the exact order featureStats's
    * sort_array aggregation uses — so avg_norm is bit-identical to the
    * distributed side regardless of Spark's partition count (double
    * addition is not associative; an order-free sum could flip the
    * 4-decimal rounding at a boundary).
    */
  def m1ExpectedValues(sfDir: String): String = {
    val n = SparkEntry.multimodalAssetCount(sfDir)
    val acc = scala.collection.mutable.Map[
      String, (scala.collection.mutable.ArrayBuffer[Double], Double, Long)]()
    var id = 0L
    while (id < n) {
      val (_, mt, declW, declH, bytes) = graft.operators.Multimodal.generateOne(id)
      val (w, _, frames, emb) =
        graft.operators.Multimodal.decodeOne(mt, declW, declH, bytes, nDim = 32, framesPerVideo = 4)
      var ss = 0.0
      var i = 0
      while (i < emb.length) { ss += emb(i).toDouble * emb(i).toDouble; i += 1 }
      val (norms, sw, sf) = acc.getOrElseUpdate(mt,
        (scala.collection.mutable.ArrayBuffer.empty[Double], 0.0, 0L))
      norms += math.sqrt(ss)
      acc(mt) = (norms, sw + w, sf + frames)
      id += 1
    }
    def r(v: Double, scale: Int): String =
      java.math.BigDecimal.valueOf(v).setScale(scale, java.math.RoundingMode.HALF_UP).toPlainString
    acc.toSeq.sortBy(_._1).map { case (mt, (norms, sw, sf)) =>
      val c = norms.length
      val sn = norms.sorted.foldLeft(0.0)(_ + _)
      s"('$mt', CAST($c AS BIGINT), CAST(${r(sn / c, 4)} AS DOUBLE), " +
        s"CAST(${r(sw / c, 2)} AS DOUBLE), CAST($sf AS BIGINT))"
    }.mkString(", ")
  }

  /** Stage the sequential no-Spark replays of the five non-SQL-expressible
    * queries (d3/d4 LSH pair sets, s2/s3/s6 ANN top-k sets) as parquet the
    * DuckDB oracle reads back — the m1 pattern applied to the remaining
    * rows-only checks, putting every driver query on the hash signal. Each
    * replay is staged independently: one divergence (which IS the failure
    * signal) must not hide the other four.
    */
  def stageReplays(spark: SparkSession, sfDir: String, stagedDir: String): Unit = {
    import spark.implicits._
    def stage(name: String)(build: => org.apache.spark.sql.DataFrame): Unit =
      try build.coalesce(1).write.mode("overwrite").parquet(s"$stagedDir/replay_$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name replay failed (its oracle will miss): ${e.getMessage}")
      }
    lazy val docs = VerifyReplay.withDups(VerifyReplay.readDocs(spark, sfDir))
    lazy val emb = VerifyReplay.readEmbeddings(spark, sfDir)
    stage("d3")(VerifyReplay.d3Pairs(docs).toDF("id_a", "id_b", "jaccard"))
    stage("d4")(VerifyReplay.d4Pairs(docs).toDF("id_a", "id_b", "hamming"))
    stage("s2")(VerifyReplay.s2Knn(emb).toDF("query_id", "rank", "neighbor_id", "score"))
    stage("s3")(VerifyReplay.s3Knn(emb, SparkEntry.ivfModel(spark, sfDir))
      .toDF("query_id", "rank", "neighbor_id", "score"))
    stage("s6") {
      val (cs, pq) = SparkEntry.ivfPqModel(spark, sfDir)
      VerifyReplay.s6Knn(emb, cs, pq).toDF("query_id", "rank", "neighbor_id", "score")
    }
    stage("s12") {
      val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      VerifyReplay.s12Knn(emb, SparkEntry.ivfTwoLevelModel(spark, sfDir),
          id => labels(id) < 5)
        .toDF("query_id", "rank", "neighbor_id", "score")
    }
  }

  /** Stage the event stats of the deterministic l1 log file, parsed whole
    * on the driver: the independent twin of the l1 query's split path, re-read
    * by the l1 oracle SQL in DuckDB. It runs the row kernel
    * ([[graft.sources.LogFiles.eventsOf]]) over the file's bytes — no scan,
    * no regions, no chunk index, no boundary repair — so it stays independent
    * of region planning at every scale factor; the kernel itself is checked
    * against the char oracle in LogFilesKernelSpec. It avoids
    * `LogFiles.events`, whose planner splits a file larger than its chunk
    * size: the sf0.1 l1 file is 16 MiB plus one line.
    */
  def stageLogEvents(spark: SparkSession, sfDir: String, stagedDir: String): Unit = {
    val file = SparkEntry.l1LogPath(sfDir)
    val events = LogFiles.eventsOf(file, Files.readString(Paths.get(file)), PatternBank.example).toVector
    LogFiles.eventStats(spark.createDataset(events)(Encoders.product[LogFiles.LogEvent]))
      .coalesce(1).write.mode("overwrite").parquet(s"$stagedDir/logevents")
  }

  /** Materialize the typed (mapPartitions) parse of the same synthetic
    * transcripts the p* queries use — slim scalar columns for the p1/p3/p4
    * oracles and the exploded token stream for p2.
    */
  def stageTypedParse(spark: SparkSession, sfDir: String, stagedDir: String): Unit = {
    val turns = SyntheticTranscripts.generate(spark, SyntheticTranscripts.convsForSfDir(sfDir))
    val bank = Parse.broadcastBank(spark, PatternBank.example)
    val parsed = Parse(turns, bank).toDF()
    parsed.select("conv_id", "turn_idx", "role", "tool", "ts", "category",
        "n_tokens", "n_errors", "error_signature")
      .coalesce(1).write.mode("overwrite").parquet(s"$stagedDir/parsed")
    parsed.select(explode(col("tokens")).as("tok"))
      .select(col("tok.token_type").as("token_type"), col("tok.schema_id").as("schema_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$stagedDir/tokens")
  }
}
