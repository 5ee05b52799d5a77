package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.lexer.PatternBank

/** Raw .log file source: events over the reference's own fixtures, read
  * through real Spark jobs on the shared region path (driver-side file
  * resolution, one byte region per file or per repaired chunk, byte lexer
  * in the task), asserted lossless and identical across the whole-file,
  * split and streaming entry points. The kernel itself is checked against
  * the char-tokenizer oracle in [[LogFilesKernelSpec]].
  */
class LogFilesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("logfiles-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Paths.get(graft.pipeline.Staging.tempDirDeletedOnExit(prefix))

  private def resource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/$name")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  test("hive fixtures parse to events through the Spark source, losslessly") {
    val dir = tempDir("graft-logs")
    val small = resource("hive-24h.log")
    val large = resource("hive-24h_large.log")
    java.nio.file.Files.writeString(dir.resolve("hive-24h.log"), small)
    java.nio.file.Files.writeString(dir.resolve("hive-24h_large.log"), large)

    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val events = LogFiles.events(spark, s"$dir/*.log", bank).collect()

    val byFile = events.groupBy(e => e.file.split('/').last)
    // hive-24h.log: 4 timestamp-led events (log_parser_test.rs:29-48)
    assert(byFile("hive-24h.log").length == 4)
    assert(byFile("hive-24h.log").forall(_.has_timestamp))
    // per-file reconstruction: ordered event texts concatenate to the bytes
    assert(byFile("hive-24h.log").sortBy(_.event_idx).map(_.text).mkString == small)
    assert(byFile("hive-24h_large.log").sortBy(_.event_idx).map(_.text).mkString == large)
    // line coverage is contiguous from line 1 in both files
    byFile.values.foreach { evs =>
      val s = evs.sortBy(_.event_idx)
      assert(s.head.line_start == 1)
      s.sliding(2).foreach {
        case Array(a, b) => assert(b.line_start == a.line_end + 1)
        case _ => ()
      }
    }
    // timestamps extracted: first event of the small fixture
    val first = byFile("hive-24h.log").minBy(_.event_idx)
    assert(first.first_ts != null && first.ts_extracted != null)
  }

  test("eventsWithTokens: per-event token arrays round-trip to the event text on both fixtures") {
    val dir = tempDir("graft-logs-tok")
    java.nio.file.Files.writeString(dir.resolve("hive-24h.log"), resource("hive-24h.log"))
    java.nio.file.Files.writeString(dir.resolve("hive-24h_large.log"), resource("hive-24h_large.log"))
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val evts = LogFiles.eventsWithTokens(spark, s"$dir/*.log", bank).collect()
    assert(evts.nonEmpty)
    evts.foreach { e =>
      // losslessness per event: the exposed tokens ARE the event's bytes
      assert(e.tokens.map(_.value).mkString == e.event.text)
      assert(e.tokens.length == e.event.n_tokens)
      // a timestamped event leads with its Timestamp token (the reference's
      // get_timestamp_token accessor contract, log_parser.rs:106-134)
      if (e.event.has_timestamp)
        assert(e.tokens.head.token_type == graft.lexer.TokenType.Timestamp)
    }
    // the attached-events view is byte-identical to the plain events() view
    val plain = LogFiles.events(spark, s"$dir/*.log", bank).collect()
      .map(_.toString).sorted.toSeq
    assert(evts.map(_.event.toString).sorted.toSeq == plain)
  }

  test("building the event plans runs no Spark job; the scan names its files; results are pinned") {
    import spark.implicits._
    val dir = tempDir("graft-logs-plan")
    val names = Seq("hive-24h.log", "hive-24h_large.log")
    names.foreach(n => java.nio.file.Files.writeString(dir.resolve(n), resource(n)))
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val idxDir = s"$dir/chunk-index"
    LogFiles.chunkIndex(spark, s"$dir/*.log", bank, chunkBytes = 4096).write.parquet(idxDir)
    val index = spark.read.parquet(idxDir).as[LogFiles.ChunkMeta]
    index.schema // resolve the parquet source before counting

    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val plans = try {
      val built = Seq(
        "events" -> LogFiles.events(spark, s"$dir/*.log", bank),
        "eventsSplit" -> LogFiles.eventsSplit(spark, s"$dir/*.log", bank, chunkBytes = 4096),
        "eventsFromIndex" -> LogFiles.eventsFromIndex(spark, index, bank))
      // listener events arrive in order: once the marker job is seen, every
      // job started while the plans were built has been recorded
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      val before = started.toArray.takeWhile(_ != "marker")
      assert(started.contains("marker") && before.isEmpty,
        s"${before.length} job(s) ran while building the event plans")
      built
    } finally sc.removeSparkListener(listener)

    val files = names.map(n => new org.apache.hadoop.fs.Path(dir.resolve(n).toUri).toString)
    // per fixture: (events, crc32 over the eventStats rows in event_idx order)
    // as the object-building kernel before the row kernel produced them
    val pinned = Map(names(0) -> (4L, 3919348650L), names(1) -> (101L, 1098075722L))
    plans.foreach { case (name, ds) =>
      val plan = ds.queryExecution.executedPlan.toString
      files.foreach(f => assert(plan.contains(f), s"$name: scan does not name $f in\n$plan"))
      names.zip(files).foreach { case (n, f) =>
        val one = ds.filter($"file" === f)
        val crc = new java.util.zip.CRC32()
        LogFiles.eventStats(one).orderBy("event_idx").collect()
          .foreach(r => crc.update(r.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        assert((one.count(), crc.getValue) == pinned(n), s"$name: $n")
      }
    }
  }

  test("within-file split: chunked parse equals the single-task parse on a multi-MB log") {
    val dir = tempDir("graft-split")
    val large = resource("hive-24h_large.log")
    val sb = new java.lang.StringBuilder(4 << 20)
    // leading timestamp-less event + multi-line filler events between copies
    sb.append("no timestamp preamble line\ncontinued preamble\n")
    (0 until 300).foreach { i =>
      sb.append(large)
      sb.append(f"2015-03-23 09:00:00,$i%03d INFO [main] filler event $i%d\n")
      sb.append("with a continuation line\nand another one\n")
    }
    val content = sb.toString
    java.nio.file.Files.writeString(dir.resolve("big.log"), content)
    assert(content.length > (2 << 20)) // genuinely multi-MB → many chunks

    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val whole = LogFiles.events(spark, s"$dir/big.log", bank).collect()
    val split = LogFiles.eventsSplit(spark, s"$dir/big.log", bank, chunkBytes = 64 * 1024).collect()

    def key(e: LogFiles.LogEvent) =
      (e.event_idx, e.line_start, e.line_end, e.has_timestamp, e.first_ts, e.ts_extracted,
        e.n_tokens, e.n_errors, e.error_signature, e.category, e.text)
    assert(split.length == whole.length)
    assert(split.map(key).sortBy(_._1).toSeq == whole.map(key).sortBy(_._1).toSeq)
    assert(split.length > 300) // real event volume, spread over ~50 chunks

    // single-chunk degenerate case (file smaller than chunkBytes): identical too
    java.nio.file.Files.writeString(dir.resolve("small.log"), resource("hive-24h.log"))
    val wholeSmall = LogFiles.events(spark, s"$dir/small.log", bank).collect().map(key).sortBy(_._1)
    val splitSmall = LogFiles.eventsSplit(spark, s"$dir/small.log", bank).collect().map(key).sortBy(_._1)
    assert(splitSmall.toSeq == wholeSmall.toSeq)

    // the chunk index is a persistable artifact: parquet round trip, then
    // parse from the STAGED index — identical events, no re-indexing pass
    import spark.implicits._
    val idxDir = s"$dir/chunk-index"
    LogFiles.chunkIndex(spark, s"$dir/big.log", bank, chunkBytes = 64 * 1024)
      .write.parquet(idxDir)
    val fromStaged = LogFiles.eventsFromIndex(spark,
        spark.read.parquet(idxDir).as[LogFiles.ChunkMeta], bank)
      .collect().map(key).sortBy(_._1)
    assert(fromStaged.toSeq == whole.map(key).sortBy(_._1).toSeq)
  }

  test("repaired regions are bounded: no region materially exceeds chunkBytes on a dense-event log") {
    // the bounded-task-memory contract both split paths (batch
    // eventsFromIndex, streaming eventsStream) rely on: a region runs from
    // one chunk's first event start to the next owning chunk's first event
    // start, so on any log whose events are smaller than a chunk, regions
    // stay within ~2·chunkBytes (an event straddling the boundary extends
    // the region by less than one chunk). Only a single event larger than
    // chunkBytes can grow a region beyond that — the documented contract.
    val dir = tempDir("graft-region-bound")
    graft.datagen.SyntheticLogs.writeLog(dir.resolve("big.log"), 4)
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val chunkBytes = 128L << 10
    val metas = LogFiles.chunkIndex(spark, s"$dir/big.log", bank, chunkBytes).collect().toSeq
    val regions = LogFiles.regionsOf(metas)
    assert(regions.length >= 16, s"only ${regions.length} regions")
    val maxLen = regions.map(r => r.end - r.start).max
    assert(maxLen <= 2 * chunkBytes,
      s"region of $maxLen bytes exceeds 2×chunkBytes=$chunkBytes")
  }

  test("synthetic l1 log content is pinned: the /tmp copy is cached by name across processes") {
    // SparkEntry.l1LogPath reuses /tmp/graft-l1-<mb>.log if it exists, so a
    // content change to the generator would be served stale; rename the
    // cache file together with this value
    val p = java.nio.file.Files.createTempFile("graft-l1-pin", ".log")
    try {
      graft.datagen.SyntheticLogs.writeLog(p, 1)
      val crc = new java.util.zip.CRC32()
      crc.update(java.nio.file.Files.readAllBytes(p))
      assert((crc.getValue, java.nio.file.Files.size(p)) == (378856923L, 1048579L))
    } finally java.nio.file.Files.delete(p)
  }

  test("within-file split property: random logs × minimal chunks equal the single-task parse") {
    // deterministic pseudo-random log shapes chosen to stress the boundary
    // math: lines longer than a whole chunk (chunks with NO line start),
    // events starting exactly at chunk boundaries, empty lines, missing
    // trailing newline, timestamp-less preambles
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val dir = tempDir("graft-split-prop")
    def key(e: LogFiles.LogEvent) =
      (e.event_idx, e.line_start, e.line_end, e.has_timestamp, e.first_ts,
        e.n_tokens, e.n_errors, e.error_signature, e.category, e.text)
    (1 to 8).foreach { seed =>
      var h = graft.pipeline.Rng.mix(seed.toLong)
      def next(bound: Int): Int = { h = graft.pipeline.Rng.mix(h); graft.pipeline.Rng.bounded(h, bound) }
      val sb = new java.lang.StringBuilder(64 << 10)
      val nLines = 200 + next(300)
      (0 until nLines).foreach { i =>
        next(10) match {
          case 0 => sb.append("\n") // empty line
          case 1 | 2 => // continuation / preamble line, sometimes huge
            val len = if (next(8) == 0) 5000 + next(8000) else next(80)
            sb.append("x").append("word ".repeat(len / 5)).append("\n")
          case _ => // timestamp-led line
            sb.append(f"2015-03-23 ${next(24)}%02d:${next(60)}%02d:${next(60)}%02d,${next(1000)}%03d ")
            sb.append(if (next(5) == 0) "ERROR" else "INFO")
            sb.append(s" [t-${next(9)}] event $i value ${next(100000)}\n")
        }
      }
      if (next(2) == 0) sb.setLength(sb.length - 1) // sometimes no trailing \n
      val f = dir.resolve(s"prop-$seed.log")
      java.nio.file.Files.writeString(f, sb.toString)
      val whole = LogFiles.events(spark, f.toString, bank).collect().map(key).sortBy(_._1).toSeq
      val split = LogFiles.eventsSplit(spark, f.toString, bank, chunkBytes = 4096)
        .collect().map(key).sortBy(_._1).toSeq
      assert(split == whole, s"seed $seed diverged (whole=${whole.length}, split=${split.length})")
    }

    // and all files under ONE glob: per-file offsets must not bleed across files
    def byFile(evs: Array[LogFiles.LogEvent]) =
      evs.groupBy(_.file.split('/').last).view.mapValues(_.map(key).sortBy(_._1).toSeq).toMap
    val wholeAll = byFile(LogFiles.events(spark, s"$dir/prop-*.log", bank).collect())
    val splitAll = byFile(LogFiles.eventsSplit(spark, s"$dir/prop-*.log", bank,
      chunkBytes = 4096).collect())
    assert(splitAll.keySet == wholeAll.keySet && splitAll.keySet.size == 8)
    splitAll.keySet.foreach(f => assert(splitAll(f) == wholeAll(f), s"glob diverged in $f"))

    // lossless bytes on every entry point, over inputs written as raw bytes:
    // non-ASCII and invalid UTF-8, \r\n line ends, delimiter-only lines, and
    // in seed 12 a line longer than 1 MB
    (9 to 12).foreach { seed =>
      var h = graft.pipeline.Rng.mix(seed.toLong)
      def next(bound: Int): Int = { h = graft.pipeline.Rng.mix(h); graft.pipeline.Rng.bounded(h, bound) }
      val out = new java.io.ByteArrayOutputStream()
      def put(s: String): Unit = out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (0 until 200 + next(300)).foreach { i =>
        val eol = if (next(3) == 0) "\r\n" else "\n"
        next(8) match {
          case 0 => put(" \t:,!;%".substring(next(7)) + eol) // delimiter-only line
          case 1 => // non-ASCII text, then bytes that are not UTF-8
            put(s"caf\u00e9 \u65e5\u672c \u00fc $i ")
            out.write(Array(0xc3, 0xff, 0x80, 0xe6, 0x97).map(_.toByte))
            put(eol)
          case 2 => put("x" + "word ".repeat(next(40)) + eol)
          case _ =>
            put(f"2015-03-23 ${next(24)}%02d:${next(60)}%02d:${next(60)}%02d,${next(1000)}%03d ")
            put((if (next(5) == 0) "ERROR" else "INFO") + s" [t-${next(9)}] \u00e9v\u00e9nement $i" + eol)
        }
      }
      if (seed == 12) put("x" * ((1 << 20) + 100) + "\n")
      java.nio.file.Files.write(dir.resolve(s"bytes-$seed.log"), out.toByteArray)
    }
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{array_join, col, hex, lit, transform}
    def name(f: String) = f.substring(f.lastIndexOf('/') + 1)
    val fileBytes = java.nio.file.Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(f => f.getFileName.toString -> java.nio.file.Files.readAllBytes(f)).toMap
    val whole = LogFiles.events(spark, s"$dir/*.log", bank).toDF()
    // the memory sink keeps rows as decoded Strings, so the stream hands it the text's bytes
    val q = LogFiles.eventsStream(spark, dir.toString, bank, chunkBytes = 4096)
      .withColumn("text", col("text").cast("binary"))
      .writeStream.format("memory").queryName("log_events_lossless").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("log_events_lossless")
    Seq("events" -> whole, "eventsStream" -> streamed,
        "eventsSplit" -> LogFiles.eventsSplit(spark, s"$dir/*.log", bank, chunkBytes = 4096).toDF())
      .foreach { case (entry, df) =>
        val got = df.select(col("file"), col("event_idx"), col("text").cast("binary")).collect()
          .groupBy(r => name(r.getString(0)))
          .map { case (f, rs) => f -> rs.sortBy(_.getInt(1)).flatMap(_.getAs[Array[Byte]](2)) }
        assert(got.keySet == fileBytes.keySet && got.size == 12, s"$entry: ${got.keySet}")
        got.foreach { case (f, b) => assert(java.util.Arrays.equals(b, fileBytes(f)), s"$entry: $f") }
      }
    def rows(df: DataFrame) = df.withColumn("text", hex(col("text").cast("binary"))).collect()
      .map(_.toSeq).sortBy(r => (r(0).toString, r(1).toString.toInt)).toSeq
    assert(rows(streamed) == rows(whole))
    // parse_turn over the same texts as strings: its token values are the text's bytes
    val parsed = whole.select(col("text").cast("binary").as("bin"))
      .select(col("bin"), graft.functions.ParseTurnExpression.parse_turn(col("bin").cast("string"),
        lit(null).cast("string"), lit(null).cast("string"), bank.value).as("p"))
    assert(parsed.filter(array_join(transform(col("p.tokens"), t => t("value")), "").cast("binary")
      =!= col("bin")).count() == 0)
  }

  test("ERROR events are categorized and templated") {
    val bank = PatternBank.example
    val content =
      "2015-03-23 08:09:17,637 INFO [main] all good\n" +
      "2015-03-23 08:09:18,000 ERROR [worker] failed after 3 retries\n"
    val evs = LogFiles.eventsOf("f", content, bank).toVector
    assert(evs.length == 2)
    assert(evs(0).category == graft.pipeline.Category.Unmatched && evs(0).n_errors == 0)
    assert(evs(1).category == graft.pipeline.Category.Errors && evs(1).n_errors == 1)
    assert(evs(1).error_signature == "<ts> <loglevel> <thread_identifier> failed after <int> retries")
  }

  test("every entry point names a file by the same Hadoop path string, spaces included") {
    val dir = tempDir("graft logs ")
    java.nio.file.Files.writeString(dir.resolve("a b.log"), resource("hive-24h.log"))
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val glob = s"$dir/*.log"
    val want = Set(new org.apache.hadoop.fs.Path(dir.resolve("a b.log").toUri).toString)
    assert(want.head.contains(" ") && !want.head.contains("%20"))

    assert(LogFiles.events(spark, glob, bank).collect().map(_.file).toSet == want)
    assert(LogFiles.eventsWithTokens(spark, glob, bank).collect().map(_.event.file).toSet == want)
    assert(LogFiles.eventsSplit(spark, glob, bank, chunkBytes = 4096).collect().map(_.file).toSet == want)
    val q = LogFiles.eventsStream(spark, dir.toString, bank).writeStream
      .format("memory").queryName("log_event_files").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT file FROM log_event_files").collect().map(_.getString(0)).toSet == want)
    } finally q.stop()
  }

  test("a directory stands for the files below it; hidden files are skipped; no match fails") {
    val dir = tempDir("graft-logs-dir")
    val small = resource("hive-24h.log")
    java.nio.file.Files.writeString(dir.resolve("a.log"), small)
    java.nio.file.Files.createDirectory(dir.resolve("sub"))
    java.nio.file.Files.writeString(dir.resolve("sub").resolve("b.log"), small)
    java.nio.file.Files.writeString(dir.resolve(".a.log.tmp"), small)
    java.nio.file.Files.writeString(dir.resolve("_SUCCESS"), small)
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val files = LogFiles.events(spark, dir.toString, bank).collect()
      .map(e => e.file.substring(e.file.indexOf("graft-logs-dir"))).toSet
    assert(files.map(_.split('/').drop(1).mkString("/")) == Set("a.log", "sub/b.log"))
    intercept[java.io.FileNotFoundException](LogFiles.events(spark, s"$dir/*.nothing", bank))
    intercept[java.io.FileNotFoundException](LogFiles.chunkIndex(spark, s"$dir/missing.log", bank))
    // a path that names hidden files only — explicitly or by glob — matches nothing
    intercept[java.io.FileNotFoundException](LogFiles.events(spark, s"$dir/_SUCCESS", bank))
    intercept[java.io.FileNotFoundException](LogFiles.eventsSplit(spark, s"$dir/.*.tmp", bank))
    intercept[java.io.FileNotFoundException](LogFiles.chunkIndex(spark, s"$dir/_*", bank))
  }

  test("compressed input: events() decompresses a .log.gz whole; the split path rejects it") {
    val dir = tempDir("graft-logs-gz")
    val large = resource("hive-24h_large.log")
    java.nio.file.Files.writeString(dir.resolve("plain.log"), large)
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("packed.log.gz")))
    try gz.write(large.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally gz.close()
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    def key(e: LogFiles.LogEvent) = e.copy(file = null)

    val plain = LogFiles.events(spark, s"$dir/plain.log", bank).collect()
    val packed = LogFiles.events(spark, s"$dir/packed.log.gz", bank).collect()
    assert(packed.forall(_.file.endsWith("/packed.log.gz")))
    assert(packed.map(key).sortBy(_.event_idx).toSeq == plain.map(key).sortBy(_.event_idx).toSeq)
    assert(packed.sortBy(_.event_idx).map(_.text).mkString == large)
    val withTokens = LogFiles.eventsWithTokens(spark, s"$dir/packed.log.gz", bank).collect()
    assert(withTokens.map(_.event).map(key).sortBy(_.event_idx).toSeq ==
      plain.map(key).sortBy(_.event_idx).toSeq)

    val onIndex = intercept[IllegalArgumentException](
      LogFiles.chunkIndex(spark, s"$dir/*.log*", bank))
    assert(onIndex.getMessage.contains("packed.log.gz") && onIndex.getMessage.contains("use events()"))
    val onSplit = intercept[IllegalArgumentException](
      LogFiles.eventsSplit(spark, s"$dir/packed.log.gz", bank))
    assert(onSplit.getMessage.contains("compressed"))
  }

  /** The jobs `body` starts, each as (description, tasks), in start order:
    * listener events arrive in order, so once a marker job run after `body`
    * is seen, every job `body` started has been recorded.
    */
  private def jobsOf[T](body: => T): (T, Seq[(String, Int)]) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add((Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""), e.stageInfos.map(_.numTasks).sum))
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!started.toArray.exists(_ == ("marker", 1)) && System.nanoTime() < deadline) Thread.sleep(10)
      val jobs = started.toArray(Array.empty[(String, Int)]).toSeq
      assert(jobs.contains(("marker", 1)))
      (result, jobs.takeWhile(_._1 != "marker"))
    } finally sc.removeSparkListener(listener)
  }

  test("eventsSplit indexes only the files larger than chunkBytes; its events equal events()") {
    val dir = tempDir("graft-split-plan")
    val large = resource("hive-24h_large.log")
    val chunkBytes = 64L << 10
    // three 64 KiB chunks; the session's 4 cores would run a 4th task if any
    // other file were indexed too (a local relation runs min(rows, cores) tasks)
    java.nio.file.Files.writeString(dir.resolve("big.log"), large * 3)
    val nChunks = ((java.nio.file.Files.size(dir.resolve("big.log")) + chunkBytes - 1) / chunkBytes).toInt
    assert(nChunks == 3 && spark.sparkContext.defaultParallelism == 4)
    Seq("a.log" -> "hive-24h.log", "b.log" -> "hive-24h_large.log", "c.log" -> "hive-24h.log")
      .foreach { case (name, fixture) => java.nio.file.Files.writeString(dir.resolve(name), resource(fixture)) }
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val split = LogFiles.eventsSplit(spark, s"$dir/*.log", bank, chunkBytes)
    val (got, jobs) = jobsOf {
      spark.sparkContext.setJobDescription("split")
      try split.collect() finally spark.sparkContext.setJobDescription(null)
    }
    // the chunk-index job first, then the scan
    assert(jobs.length == 2 && jobs.head == ("split", nChunks), jobs.toString)
    def rows(evs: Array[LogFiles.LogEvent]) =
      evs.toSeq.sortBy(e => (e.file, e.event_idx)).map(e => e -> e.text.getBytes("UTF-8").toSeq)
    val want = LogFiles.events(spark, s"$dir/*.log", bank).collect()
    assert(got.map(_.file).distinct.length == 4)
    assert(rows(got) == rows(want))
  }

  test("events() splits a file larger than its chunk size: no job while built, parallel regions, eventsOf's rows") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = tempDir("graft-events-big")
    val f = dir.resolve("big.log")
    graft.datagen.SyntheticLogs.writeLog(f, 17)
    assert(java.nio.file.Files.size(f) > (16L << 20))
    val bank = spark.sparkContext.broadcast(PatternBank.example)
    val (ds, built) = jobsOf(LogFiles.events(spark, f.toString, bank))
    assert(built.isEmpty, s"${built.length} job(s) ran while building the plan")
    val scans = ds.queryExecution.executedPlan.collect { case s: BatchScanExec => s }
    assert(scans.length == 1 && scans.head.inputPartitions.length >= 2, ds.queryExecution.executedPlan)
    val file = new org.apache.hadoop.fs.Path(f.toUri).toString
    val want = LogFiles.eventsOf(file, java.nio.file.Files.readString(f), bank.value).toVector
    val got = ds.collect().sortBy(_.event_idx).toVector
    assert(got.length == want.length && got.length > 1000)
    assert(got == want)
    assert(got.map(_.text).mkString == java.nio.file.Files.readString(f))
  }
}
