package graft

import org.apache.spark.sql.SparkSession
import graft.lexer.PatternBank
import graft.sources.LogFiles

/** Within-file split scale smoke: ONE large synthetic log file, parsed via
  * the whole-file path (pinned to a single task by design) vs the chunked
  * eventsSplit path (size/chunkBytes tasks). Evidences the split's reason
  * to exist: a single multi-GB file is the one input shape where the
  * per-file source cannot scale out.
  *
  *   runMain graft.LogSplitBench [targetMB] [chunkMB] [cores]
  */
object LogSplitBench {

  /** Deterministic hive-style log content of ~targetMB, with multi-line
    * events (1 in 7 events gets 2 continuation lines) and 1-in-11 ERROR
    * lines so the parse does real extraction work.
    */
  def writeLog(path: java.nio.file.Path, targetMB: Int): Long = {
    val out = java.nio.file.Files.newBufferedWriter(path)
    try {
      var bytes = 0L
      val target = targetMB.toLong << 20
      var i = 0
      while (bytes < target) {
        val h = i % 24
        val level = if (i % 11 == 0) "ERROR" else "INFO"
        val line = f"2015-03-23 $h%02d:${i % 60}%02d:${(i * 7) % 60}%02d,${i % 1000}%03d $level%s " +
          f"[thread-${i % 16}%d] operation ${i % 997}%d completed in ${(i * 13) % 5000}%d ms " +
          f"for partition_${i % 64}%d\n"
        out.write(line)
        bytes += line.length
        if (i % 7 == 0) {
          val cont = s"  continuation detail alpha $i\n  continuation detail beta ${i * 3}\n"
          out.write(cont)
          bytes += cont.length
        }
        i += 1
      }
      bytes
    } finally out.close()
  }

  def main(args: Array[String]): Unit = {
    val targetMB = if (args.length > 0) args(0).toInt else 512
    val chunkMB = if (args.length > 1) args(1).toInt else 16
    val cores = if (args.length > 2) args(2).toInt else Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("log-split-bench")
      .config("spark.sql.shuffle.partitions", math.max(16, cores).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // staged once, reused across runs (same pattern as the pipeline bench)
      val dir = java.nio.file.Paths.get(s"/tmp/graft-split-bench-$targetMB")
      val file = dir.resolve("big.log")
      if (!java.nio.file.Files.exists(file)) {
        java.nio.file.Files.createDirectories(dir)
        writeLog(file, targetMB)
      }
      val sizeMB = java.nio.file.Files.size(file) >> 20
      val bank = spark.sparkContext.broadcast(PatternBank.example)

      def timed(name: String)(n: => Long): Long = {
        val t0 = System.nanoTime()
        val events = n
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[log-split] $name file=${sizeMB}MB events=$events wall=$secs%.1fs " +
          f"thru=${sizeMB / secs}%.0f MB/s cores=$cores")
        events
      }
      // warmup on a small prefix path (JIT) — reuse the split machinery
      timed("warmup-split")(LogFiles.eventsSplit(spark, file.toString, bank,
        chunkBytes = chunkMB.toLong << 20).count())
      val whole = timed("wholefile-1task")(LogFiles.events(spark, file.toString, bank).count())
      val split = timed(s"split-${chunkMB}MB-chunks")(LogFiles.eventsSplit(
        spark, file.toString, bank, chunkBytes = chunkMB.toLong << 20).count())
      require(whole == split, s"event counts diverged: whole=$whole split=$split")

      // STREAMING twin: the same file arriving in a watched dir, parsed by
      // eventsStream's within-file split (discovery-only source, per-file
      // boundary scan, regions repartitioned). One micro-batch; wall
      // includes the stream's scheduling overhead — the honest number a
      // stream consumer sees for one oversized file.
      val streamDir = dir.resolve("stream-in")
      graft.pipeline.Staging.deleteRecursively(streamDir.toString)
      java.nio.file.Files.createDirectories(streamDir)
      java.nio.file.Files.createLink(streamDir.resolve("big.log"), file)
      val acc = spark.sparkContext.longAccumulator("stream-events")
      val q = LogFiles.eventsStream(spark, streamDir.toString, bank,
          maxFilesPerTrigger = 1, chunkBytes = chunkMB.toLong << 20)
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[LogFiles.LogEvent], _: Long) =>
          acc.add(batch.count())
        }
        .start()
      try {
        val streamed = timed("stream-split")({ q.processAllAvailable(); acc.value })
        require(streamed == whole, s"stream diverged: stream=$streamed whole=$whole")
      } finally q.stop()
    } finally spark.stop()
  }
}
