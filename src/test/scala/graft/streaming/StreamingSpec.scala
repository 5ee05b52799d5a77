package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.datagen.SyntheticTranscripts
import graft.lexer.PatternBank
import graft.pipeline.Parse

/** Streaming ≡ batch: drive the streaming parse + windowed aggregation over
  * a staged parquet directory with the memory sink and assert the results
  * equal the batch computation on the same data.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streaming windowed category counts equal the batch computation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
    SyntheticTranscripts.generate(spark, 80L).repartition(6).write.mode("overwrite").parquet(dir)
    val bank = spark.sparkContext.broadcast(PatternBank.example)

    val stream = StreamingParse.windowedCategoryCounts(StreamingParse.parsedStream(
      StreamingParse.turnsStream(spark, dir, maxFilesPerTrigger = 2).toDF(), PatternBank.example))
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory").queryName("cat_counts")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT window.start AS ws, category, n_turns, n_errors FROM cat_counts")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

      val batchTurns = spark.read.parquet(dir).as[graft.pipeline.Turn]
      val want = Parse(batchTurns, bank).toDF()
        .groupBy(window(col("ts"), "1 hour"), col("category"))
        .agg(count(lit(1)).as("n_turns"), sum("n_errors").as("n_errors"))
        .select(col("window.start").as("ws"), col("category"), col("n_turns"), col("n_errors"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming route writes per-category partitioned sinks equal to batch counts") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-stream-route-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-stream-route-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-route-ckpt").toString
    SyntheticTranscripts.generate(spark, 60L).repartition(4).write.mode("overwrite").parquet(in)

    val parsed = StreamingParse.parsedStream(
      StreamingParse.turnsStream(spark, in, maxFilesPerTrigger = 2).toDF(), PatternBank.example)
      .select("conv_id", "turn_idx", "category", "n_tokens")
    val q = StreamingParse.routeStream(parsed, out, ckpt)
    try q.processAllAvailable() finally q.stop()

    // category=X partition dirs exist and counts equal the batch computation
    val gotDirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("category=")).toSet
    val want = Parse.expr(spark.read.parquet(in), PatternBank.example)
      .groupBy("category").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotDirs == want.keySet.map("category=" + _))
    val got = spark.read.parquet(out).groupBy("category").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("streaming parse equals the typed batch oracle Parse.apply") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-expr").toString
    SyntheticTranscripts.generate(spark, 40L).repartition(4).write.mode("overwrite").parquet(dir)

    val exprStream = StreamingParse.parsedStream(
      StreamingParse.turnsStream(spark, dir, maxFilesPerTrigger = 2).toDF(), PatternBank.example)
      .select("conv_id", "turn_idx", "n_tokens", "n_errors", "category")
    val q = exprStream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("expr_parsed")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM expr_parsed").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
      val bank = spark.sparkContext.broadcast(PatternBank.example)
      val want = Parse(spark.read.parquet(dir).as[graft.pipeline.Turn], bank).toDF()
        .select("conv_id", "turn_idx", "n_tokens", "n_errors", "category").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming exact dedup drops duplicate texts across triggers, keeps uniques") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-dedup").toString
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // 40 docs, every other one a duplicate text of the previous, all inside
    // one watermark window; spread over files so triggers split them
    (0 until 40).map { i =>
      (i.toLong, s"document body number ${i / 2}",
        new java.sql.Timestamp(base.getTime + i * 1000L))
    }.toDF("doc_id", "text", "ts").repartition(4).write.mode("overwrite").parquet(dir)

    val in = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = StreamingParse.dedupedStream(in, watermark = "1 hour").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("deduped_docs")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT text FROM deduped_docs").collect().map(_.getString(0))
      assert(got.length == got.distinct.length, "duplicates leaked through")
      assert(got.toSet == (0 until 20).map(i => s"document body number $i").toSet)
    } finally q.stop()
  }

  test("stateful per-conversation progress accumulates across triggers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-in2").toString
    SyntheticTranscripts.generate(spark, 30L).repartition(5).write.mode("overwrite").parquet(dir)
    val bank = spark.sparkContext.broadcast(PatternBank.example)

    val progress = StreamingParse.conversationProgress(StreamingParse.parsedStream(
      StreamingParse.turnsStream(spark, dir, maxFilesPerTrigger = 1).toDF(), PatternBank.example))
    val q = progress.toDF().writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("conv_progress")
      .start()
    try {
      q.processAllAvailable()
      // latest state per conversation must equal the batch totals
      val got = spark.sql(
        """SELECT conv_id, max(turns_seen) AS turns_seen, max(errors_seen) AS errors_seen
          |FROM conv_progress GROUP BY conv_id""".stripMargin)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

      val batch = Parse(spark.read.parquet(dir).as[graft.pipeline.Turn], bank)
        .toDF().groupBy("conv_id")
        .agg(count(lit(1)).as("n"), sum("n_errors").as("e"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming .log source parses a growing directory identically to the batch wholetext path") {
    import spark.implicits._
    def resource(name: String): String = {
      val in = getClass.getResourceAsStream(s"/$name")
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-logstream").toString
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    def writeLog(name: String, content: String): Unit = {
      // file-source contract: write complete elsewhere, then move in
      val tmp = java.nio.file.Paths.get(dir, s".$name.tmp")
      java.nio.file.Files.writeString(tmp, content)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    type EventRow = (String, Int, Int, Int, Boolean, String, Int, Int, String)
    def key(e: graft.sources.LogFiles.LogEvent): EventRow =
      (e.file.substring(e.file.lastIndexOf('/') + 1), e.event_idx, e.line_start, e.line_end,
        e.has_timestamp, e.first_ts, e.n_tokens, e.n_errors, e.text)

    writeLog("a.log", resource("hive-24h.log"))
    val stream = graft.sources.LogFiles.eventsStream(spark, dir, bank, maxFilesPerTrigger = 1)
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("log_events")
      .start()
    try {
      q.processAllAvailable()
      // a second file arrives AFTER the stream started: only the new file's
      // events may be appended (exactly-once per file, no re-parse of a.log)
      writeLog("b.log", resource("hive-24h_large.log"))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM log_events")
        .as[graft.sources.LogFiles.LogEvent].collect().map(key).sorted.toSeq
      val want = graft.sources.LogFiles.events(spark, s"$dir/*.log", bank)
        .collect().map(key).sorted.toSeq
      assert(got == want, s"stream rows=${got.length} batch rows=${want.length}")
      assert(got.count(_._1 == "a.log") > 0 && got.count(_._1 == "b.log") > 0)
      // lossless across the stream too: concat(texts) per file == file bytes
      val aText = got.filter(_._1 == "a.log").sortBy(_._2).map(_._9).mkString
      assert(aText == resource("hive-24h.log"))
    } finally q.stop()
  }

  test("streaming ANN serve: per-trigger query batches equal the batch kNN on their union") {
    import spark.implicits._
    import graft.operators.Similarity
    val n = 2000L
    val corr = spark.range(n).map(id => (id, graft.SyntheticVectors.vecCorrelated(id, n, 16, 8)))
      .toDF("vec_id", "embedding")
    val m = Similarity.ivfTrainTwoLevel(corr, nCells = 16, nSuper = 4)
    val stage = graft.pipeline.Staging.tempDir("graft-serve-test")
    try {
      Similarity.ivfIndexTwoLevel(corr, m).write.partitionBy("super").parquet(s"$stage/ivf")
      val index = spark.read.parquet(s"$stage/ivf")
      // two query batches arrive as separate files
      val qDir = s"$stage/queries"
      corr.filter(col("vec_id") % 500 === 0).coalesce(1).write.parquet(qDir)
      corr.filter(col("vec_id") % 500 === 250).coalesce(1)
        .write.mode("append").parquet(qDir)
      val qStream = spark.readStream
        .schema(corr.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qDir)
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long, Double)]()
      val q = Similarity.ivfKnnTwoLevelServe(index, m, qStream,
        (res, _) => res.collect().foreach(r =>
          got.add((r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))),
        k = 5, nProbe = 4, nProbeSuper = 2)
      try q.processAllAvailable() finally q.stop()
      val want = Similarity.ivfKnnTwoLevelIndexed(index, m,
          corr.filter(col("vec_id") % 250 === 0), k = 5, nProbe = 4, nProbeSuper = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got.size == want.size && got.iterator().hasNext)
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == want, "streamed per-batch kNN diverged from the batch union")
    } finally graft.pipeline.Staging.deleteRecursively(stage)
  }

  test("streaming .log within-file split: an oversized file parses in bounded regions, identical to batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-logstream-split").toString
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    // ~8 MB synthetic multi-line log with chunkBytes=256 KB → the stream
    // must route it through the chunk-index kernel (32 phase-1 ranges,
    // parallel region parse), never one whole-file task
    val chunkBytes = 256L << 10
    val tmp = java.nio.file.Paths.get(dir, ".big.log.tmp")
    graft.datagen.SyntheticLogs.writeLog(tmp, 8)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, "big.log"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // preconditions gate: chunkIndex REQUIRES the newline-safe schema — its
    // success proves the stream's splittable branch (same checks) is taken
    // for this bank, so big.log (≫ chunkBytes) streams through the split
    val nChunks = graft.sources.LogFiles
      .chunkIndex(spark, s"$dir/*.log", bank, chunkBytes).count()
    assert(nChunks >= 32, s"fixture spans only $nChunks chunks")
    val stream = graft.sources.LogFiles.eventsStream(spark, dir, bank,
      maxFilesPerTrigger = 1, chunkBytes = chunkBytes, regionParallelism = 4)
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("log_events_split")
      .start()
    try {
      q.processAllAvailable()
      def crc(s: String): Long = {
        val c = new java.util.zip.CRC32()
        c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        c.getValue
      }
      type Key = (Int, Int, Int, Boolean, String, Int, Int, Long)
      def key(e: graft.sources.LogFiles.LogEvent): Key =
        (e.event_idx, e.line_start, e.line_end, e.has_timestamp, e.first_ts,
          e.n_tokens, e.n_errors, crc(e.text))
      val got = spark.sql("SELECT * FROM log_events_split")
        .as[graft.sources.LogFiles.LogEvent].collect().map(key).sorted.toSeq
      // batch whole-file twin: same events, same GLOBAL indices/line numbers
      val want = graft.sources.LogFiles.events(spark, s"$dir/*.log", bank)
        .collect().map(key).sorted.toSeq
      assert(got.nonEmpty && got == want,
        s"stream-split rows=${got.length} batch rows=${want.length}")
    } finally q.stop()
  }
}
