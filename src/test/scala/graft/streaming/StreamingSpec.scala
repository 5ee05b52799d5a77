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
    val dir = graft.pipeline.Staging.tempDirDeletedOnExit("graft-stream-in")
    SyntheticTranscripts.generate(spark, 80L).repartition(6).write.mode("overwrite").parquet(dir)
    val bank = spark.sparkContext.broadcast(PatternBank.example)

    val stream = StreamingParse.windowedCategoryCounts(Parse.expr(
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
    val in = graft.pipeline.Staging.tempDirDeletedOnExit("graft-stream-route-in")
    val out = graft.pipeline.Staging.tempDirDeletedOnExit("graft-stream-route-out")
    val ckpt = graft.pipeline.Staging.tempDirDeletedOnExit("graft-stream-route-ckpt")
    SyntheticTranscripts.generate(spark, 60L).repartition(4).write.mode("overwrite").parquet(in)

    val parsed = Parse.expr(
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
    val dir = graft.pipeline.Staging.tempDirDeletedOnExit("graft-stream-expr")
    SyntheticTranscripts.generate(spark, 40L).repartition(4).write.mode("overwrite").parquet(dir)

    val exprStream = Parse.expr(
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
    val dir = graft.pipeline.Staging.tempDirDeletedOnExit("graft-stream-dedup")
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
    val dir = graft.pipeline.Staging.tempDirDeletedOnExit("graft-stream-in2")
    SyntheticTranscripts.generate(spark, 30L).repartition(5).write.mode("overwrite").parquet(dir)
    val bank = spark.sparkContext.broadcast(PatternBank.example)

    val progress = StreamingParse.conversationProgress(Parse.expr(
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
    val dir = graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream")
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
      Similarity.ivfIndex(corr, m).write.partitionBy(Similarity.IndexPart).parquet(s"$stage/ivf")
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
      val q = Similarity.ivfKnnServe(index, m, qStream,
        (res, _) => res.collect().foreach(r =>
          got.add((r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))),
        k = 5, nProbe = 4, nProbeSuper = 2)
      try q.processAllAvailable() finally q.stop()
      val want = Similarity.ivfKnnIndexed(index, m,
          corr.filter(col("vec_id") % 250 === 0), k = 5, nProbe = 4, nProbeSuper = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got.size == want.size && got.iterator().hasNext)
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == want, "streamed per-batch kNN diverged from the batch union")
    } finally graft.pipeline.Staging.deleteRecursively(stage)
  }

  test("streaming .log within-file split: an oversized file parses in bounded regions, identical to batch") {
    import spark.implicits._
    val dir = graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream-split")
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
      maxFilesPerTrigger = 1, chunkBytes = chunkBytes)
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

  /** Moves `content` into `dir` as `name` the way the file-source contract
    * asks: written complete elsewhere, then moved in.
    */
  private def moveLogIn(dir: String, name: String, content: Array[Byte]): Unit = {
    val tmp = java.nio.file.Paths.get(dir, s".$name.tmp")
    java.nio.file.Files.write(tmp, content)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/$name")
    try in.readAllBytes() finally in.close()
  }

  /** Runs the `.log` stream over `dir` into a parquet sink until it is idle, then stops it. */
  private def drainLogStream(dir: String, out: String, ckpt: String): Unit = {
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val q = graft.sources.LogFiles.eventsStream(spark, dir, bank, maxFilesPerTrigger = 1)
      .writeStream.format("parquet").option("checkpointLocation", ckpt).start(out)
    try q.processAllAvailable() finally q.stop()
  }

  /** The sink's events, each once, equal the batch events over `dir`'s files. */
  private def assertSinkEqualsBatch(dir: String, out: String, nFiles: Int): Unit = {
    import spark.implicits._
    import graft.sources.LogFiles.LogEvent
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val got = spark.read.parquet(out).as[LogEvent].collect().toSeq.sortBy(e => (e.file, e.event_idx))
    val want = graft.sources.LogFiles.events(spark, s"$dir/*.log", bank).collect().toSeq
      .sortBy(e => (e.file, e.event_idx))
    assert(got.map(e => (e.file, e.event_idx)).distinct.length == got.length, "an event landed twice")
    assert(got == want, s"sink rows=${got.length} batch rows=${want.length}")
    assert(got.map(_.file).distinct.length == nFiles)
  }

  // a `_`-prefixed stream directory is read like any other: only entries
  // below it are hidden, as Spark's file stream hides them
  for (dirPrefix <- Seq("graft-logstream-restart", "_graft-logstream-restart"))
    test(s"the .log stream restarts from its checkpoint: each file is read exactly once ($dirPrefix)") {
      val dir = graft.pipeline.Staging.tempDirDeletedOnExit(dirPrefix)
      val out = graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream-restart-out")
      val ckpt = graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream-restart-ckpt")
      moveLogIn(dir, "a.log", fixture("hive-24h.log"))
      drainLogStream(dir, out, ckpt)
      // a new query on the same checkpoint: a.log was admitted, only b.log is new
      moveLogIn(dir, "b.log", fixture("hive-24h_large.log"))
      drainLogStream(dir, out, ckpt)
      assertSinkEqualsBatch(dir, out, nFiles = 2)
    }

  test("the .log stream rejects a non-positive maxFilesPerTrigger and a checkpoint it did not write") {
    val dir = graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream-reject")
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    for (n <- Seq(0, -1))
      intercept[IllegalArgumentException](graft.sources.LogFiles.eventsStream(spark, dir, bank, n))

    // the file log the earlier stream, read through Spark's binary-file
    // source, kept under sources/0
    // (Spark's FileStreamSourceLog, format v1)
    val ckpt = graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream-reject-ckpt")
    val sourceLog = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckpt, "sources", "0"))
    java.nio.file.Files.write(sourceLog.resolve("0"),
      s"""v1\n{"path":"file://$dir/a.log","timestamp":1,"batchId":0}""".getBytes("UTF-8"))
    moveLogIn(dir, "a.log", fixture("hive-24h.log"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drainLogStream(dir, graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream-reject-out"), ckpt))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(messages.exists(m => m != null && m.contains("binary-file source")), messages.mkString("\n"))
  }

  test("the .log stream replays a batch its own log holds beyond the query's last offset") {
    val dir = graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream-replay")
    val out = graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream-replay-out")
    val ckpt = graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream-replay-ckpt")
    moveLogIn(dir, "a.log", fixture("hive-24h.log"))
    moveLogIn(dir, "b.log", fixture("hive-24h_large.log"))
    drainLogStream(dir, out, ckpt)
    // as if the query died after the source admitted batch 1 but before the
    // query logged its offsets: batch 1 must admit b.log again, not c.log
    for (d <- Seq("offsets", "commits"); f <- Seq("1", ".1.crc"))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, d, f))
    moveLogIn(dir, "c.log", fixture("hive-24h.log"))
    drainLogStream(dir, out, ckpt)
    assertSinkEqualsBatch(dir, out, nFiles = 3)
  }

  test("the .log stream plans a big file like the batch split: parallel regions, no shuffle, no tokens") {
    import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream-plan")
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val tmp = java.nio.file.Paths.get(dir, ".big.log.tmp")
    graft.datagen.SyntheticLogs.writeLog(tmp, 8)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, "big.log"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    // building the stream's Dataset runs no job, and its one micro-batch runs
    // two: the chunk-index job and the write. Listener events arrive in
    // order, so once a marker job is seen every earlier job has been seen.
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def jobsBefore(marker: String): Seq[String] = {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains(marker))
      val before = started.toArray(Array.empty[String]).toSeq.takeWhile(_ != marker)
      started.clear()
      before
    }
    sc.addSparkListener(listener)
    try {
      val stream = graft.sources.LogFiles.eventsStream(spark, dir, bank,
        maxFilesPerTrigger = 1, chunkBytes = 256L << 10)
      assert(jobsBefore("built").isEmpty, "jobs ran while the stream was built")
      assert(!stream.schema.fieldNames.contains("tokens"))

      val q = stream.writeStream.format("memory").queryName("log_events_plan").start()
      try {
        q.processAllAvailable()
        val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan
        val scans = plan.collect { case s: MicroBatchScanExec => s }
        assert(scans.length == 1, plan.toString)
        assert(scans.head.scan.description().startsWith("LogFiles"), plan.toString)
        assert(scans.head.inputPartitions.length >= 2, plan.toString)
        assert(!scans.head.output.map(_.name).contains("tokens"), plan.toString)
        assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
      } finally q.stop()
      val batchJobs = jobsBefore("drained")
      assert(batchJobs.length == 2, s"the micro-batch ran ${batchJobs.length} jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("the .log stream fails when it is built over a missing directory, and runs no job") {
    val sc = spark.sparkContext
    val bank = sc.broadcast(PatternBank.example)
    val missing = java.nio.file.Paths.get(
      graft.pipeline.Staging.tempDirDeletedOnExit("graft-logstream-missing"), "absent").toString
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val e = intercept[java.io.FileNotFoundException](graft.sources.LogFiles.eventsStream(spark, missing, bank))
      assert(e.getMessage.contains(missing), e.getMessage)
      // listener events arrive in order: once the marker job is seen, every earlier job has been seen
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains("marker") && started.peek() == "marker", s"jobs ran: $started")
    } finally sc.removeSparkListener(listener)
  }
}
