package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.SerializableWritable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal
import graft.functions.ParseTurnExpression.CAT_UNMATCHED
import graft.functions.SpanRowWriter
import graft.lexer.{ByteTokenizer, PatternBank, TokenType}
import graft.pipeline.TokenRow

/** Raw log-file source — the reference's primary input mode
  * (`BufferedFileStream` + `Lexer`, reference src/lexer/streams.rs and
  * tests/lexer_test.rs:9-65): read `.log` files, lex their bytes, and
  * assemble multi-line events (split before each Timestamp) into a typed
  * Dataset.
  *
  * Every entry point, batch or stream, reads a DataSource V2 `logfiles`
  * table — [[EventTable]] for a batch, [[StreamTable]] for the stream —
  * through ONE region planner and ONE reader:
  *  1. the driver lists the input files ([[resolveFiles]]: the glob,
  *     directories expanded to their files, hidden and empty files skipped);
  *     the stream lists its directory once per trigger and admits the new
  *     files ([[LogStream]]);
  *  1. when the scan is planned, [[planRegions]] turns each file into
  *     [[Region]]s — byte ranges starting at an event boundary, with the
  *     event index and line number they start at — by one size rule: a file
  *     larger than the chunk size is split (CLP-style: one chunk-index job,
  *     [[indexOf]], whose chunks scan in parallel tasks, and boundary repair
  *     at the first event-start line after each split, [[regionsOf]]) unless
  *     it is compressed or the bank is unsafe to split; every other file is
  *     one whole-file region;
  *  1. the regions are sliced into input partitions ([[slices]]),
  *     and a task reads each region's bytes and lexes them with
  *     [[graft.lexer.ByteTokenizer]], one event at a time, writing each
  *     event straight into a reused Tungsten row ([[EventRows]]) with the
  *     [[graft.functions.SpanRowWriter]] `parse_turn` writes its rows
  *     with: an event's fields are `parse_turn`'s over its spans.
  *
  * The entry points differ only in the chunk size and the checks: [[events]]
  * and [[eventsWithTokens]] split at [[ChunkBytes]] and read what cannot be
  * split whole (a compressed file, any Hadoop codec suffix such as
  * `.log.gz`, is decompressed whole); [[eventsSplit]] takes the chunk size
  * and rejects input it cannot split; [[eventsStream]] plans each
  * micro-batch's new files. Event indices and line numbers are file-local,
  * so every plan gives the same events. A batch scan gets Catalyst's column
  * pruning (a `count()` writes empty rows, and the token array is written
  * only when selected); the physical plan names its files, and building a
  * plan runs no Spark job. The `Dataset[LogEvent]` every entry point
  * returns is a typed view over those rows; only [[eventsOf]] decodes them
  * to objects. Lexing is lossless (`concat(event texts) == file bytes`,
  * asserted in tests), and every entry point names a file by its Hadoop
  * `Path.toString` (`file:/logs/a b/x.log`, not URI-encoded).
  */
object LogFiles {

  /** One assembled multi-line log event. */
  final case class LogEvent(
      file: String,
      event_idx: Int,
      line_start: Int,
      line_end: Int,
      has_timestamp: Boolean,
      first_ts: String,
      ts_extracted: Timestamp,
      n_tokens: Int,
      n_errors: Int,
      error_signature: String,
      category: String,
      text: String
  )

  /** [[LogEvent]] plus its token array — the reference exposes an event's
    * tokens for per-event variable extraction (reference
    * src/log_parser/log_parser.rs:106-134: `get_timestamp_token`,
    * `get_log_message_tokens`); without them a downstream extractor would
    * have to re-tokenize the event text. Nested on purpose:
    * `select($"event.*", $"tokens")` flattens when wanted, and [[events]]
    * consumers that don't need tokens never pay for the array. The token rows
    * reuse the pipeline's schema (token_type, schema_id, value, line_num);
    * line_num is the 1-based line within the file, like the event's
    * line_start/line_end.
    */
  final case class LogEventWithTokens(event: LogEvent, tokens: Seq[TokenRow])

  /** The chunk size of every entry point that does not take one. */
  private val ChunkBytes = 16L << 20

  /** Parse every file matching `pathGlob` into events. A file larger than
    * [[ChunkBytes]] is split as [[eventsSplit]] splits it, so a multi-GB
    * file spreads over tasks instead of pinning one; a compressed file, and
    * every file when the bank is unsafe to split, is read whole.
    */
  def events(spark: SparkSession, pathGlob: String,
             bank: Broadcast[PatternBank]): Dataset[LogEvent] =
    typedEvents(spark, planned(spark, resolveFiles(spark, pathGlob), bank, ChunkBytes))

  /** [[events]] with the per-event token array attached. */
  def eventsWithTokens(spark: SparkSession, pathGlob: String,
                       bank: Broadcast[PatternBank]): Dataset[LogEventWithTokens] = {
    import spark.implicits._
    planned(spark, resolveFiles(spark, pathGlob), bank, ChunkBytes)
      .select(struct(eventSchema.fieldNames.map(col).toSeq: _*).as("event"), col("tokens"))
      .as[LogEventWithTokens]
  }

  /** Structured Streaming twin of [[events]]: the `.log` files arriving in
    * `dir` (its own files, not those of its subdirectories) read as a
    * micro-batch `logfiles` table ([[StreamTable]]) through the SAME region
    * planner and reader as the batch entry points — the raw-log side of the
    * pluggable-stream symmetry [[graft.streaming.StreamingParse]] gives
    * transcripts (the reference's pull-stream input, reference
    * src/lexer/lexer_stream.rs:3-5).
    *
    * Each trigger admits up to `maxFilesPerTrigger` (> 0) new files, oldest
    * modification time first, and logs them under the query's checkpoint
    * ([[LogStream]]): a file is read exactly once, in the micro-batch that
    * admits it, also across restarts. The checkpoint's offsets are file
    * counts: a checkpoint of the earlier stream, which read through Spark's
    * binary-file source, cannot be resumed, and the query fails on it with a
    * message that says so. A micro-batch's files are planned by the size
    * rule of every entry point ([[planRegions]]): a file larger than
    * `chunkBytes` is split by one chunk-index job, every other file — and a
    * compressed file, or every file when the bank is unsafe to split — is
    * one whole-file region. Event indices and line numbers are file-local,
    * so the stream's events equal [[events]]' (StreamingSpec). Spark plans a
    * micro-batch scan without column pruning, so the stream's table has the
    * [[LogEvent]] columns only: a `tokens` column would be written for every
    * event. Building the Dataset lists `dir` (a missing directory fails
    * here with a `FileNotFoundException`) and runs no Spark job. Files must
    * arrive complete (the file-source contract: write elsewhere, move in).
    */
  def eventsStream(spark: SparkSession, dir: String, bank: Broadcast[PatternBank],
                   maxFilesPerTrigger: Int = 4, chunkBytes: Long = ChunkBytes): Dataset[LogEvent] = {
    require(chunkBytes >= 4096, s"chunkBytes too small: $chunkBytes")
    require(maxFilesPerTrigger > 0, s"maxFilesPerTrigger must be positive: $maxFilesPerTrigger")
    resolveFiles(spark, dir, nested = false) // a missing directory fails here, not at the first trigger
    val table = new StreamTable(spark, dir, maxFilesPerTrigger, chunkBytes, bank)
    typedEvents(spark, GraftBridge.ofRows(spark, StreamingRelationV2(None, table.name(), table,
      CaseInsensitiveStringMap.empty(), DataTypeUtils.toAttributes(eventSchema), None, None, None)))
  }

  // ------------------------------------------------------------------ //
  // Within-file split: the CLP-style chunk + boundary-repair path for    //
  // files larger than the chunk size.                                    //
  // ------------------------------------------------------------------ //

  /** Phase-1 metadata for one byte chunk `[start, end)` of a file: where
    * the first event starts at/after `start`, how many events start inside
    * the chunk, and newline counts (for global line numbering).
    * `firstEventStart == -1` means no event starts inside this chunk (a
    * single event spans it) — its bytes belong to the previous owner.
    * Public: [[chunkIndex]] returns these so the index can be persisted to
    * parquet and reused across jobs.
    */
  final case class ChunkMeta(
      file: String, chunkIdx: Int, start: Long, end: Long,
      firstEventStart: Long, nEventStarts: Long,
      nNewlines: Long, nNewlinesBeforeFirstEvent: Long)

  /** A parse region: `[start, end)` begins at an event-start line and ends
    * at the next region's start (or the file's end), so events never cross
    * regions. Offsets restore global event indices and line numbers. A
    * `compressed` region is always a whole file, `end` its compressed
    * length; its task decompresses the file instead of reading a range.
    */
  private[sources] final case class Region(
      file: String, start: Long, end: Long,
      eventIdxOffset: Long, lineOffset: Long, compressed: Boolean = false)

  /** [[events]] with the chunk size given and the split checked: every
    * file larger than `chunkBytes` is cut into `chunkBytes` ranges, a cheap
    * distributed index pass finds event-start lines (a line start where the
    * timestamp DFA accepts — the same test `tokenize` applies) and newline
    * counts per chunk, the driver prefix-sums chunk metadata into repaired
    * regions (each starting at an event boundary), and a second distributed
    * pass lexes each region independently; a file of at most `chunkBytes` is
    * one whole-file region, lexed once and never indexed ([[planRegions]]).
    * Event output is IDENTICAL to [[events]] (asserted in tests) — same
    * events, same global event_idx and line numbers — and a multi-GB file
    * spreads over size/chunkBytes tasks.
    *
    * Scale notes: the index pass is an IO-bound byte scan (DFA probes only
    * at line starts); at very large scale, persist its output like CLP
    * persists its archive index ([[chunkIndex]]) instead of re-deriving per
    * job. Driver memory holds one small ChunkMeta per chunk — size
    * chunkBytes so files/chunkBytes stays ~10⁵–10⁶ (the same regime as
    * Spark's own driver-side file-split planning). Soundness preconditions
    * (checked when the Dataset is built, like `chunkBytes` ≥ 4096): '\n' is
    * a delimiter and neither the timestamp nor the variable DFA can consume
    * '\n' — split points are line starts, so a newline-swallowing token
    * could hide an event boundary (and a newline) from the index pass. A
    * compressed file has no byte-addressable lines and is rejected.
    */
  def eventsSplit(spark: SparkSession, pathGlob: String, bank: Broadcast[PatternBank],
                  chunkBytes: Long = ChunkBytes): Dataset[LogEvent] =
    typedEvents(spark, planned(spark, splittableFiles(spark, pathGlob, bank, chunkBytes), bank, chunkBytes))

  /** Phase 1 as a first-class, PERSISTABLE artifact: the chunk index — one
    * slim row per `chunkBytes` range of each matched file (event-start
    * offsets + newline counts; files resolved as for [[events]], hidden
    * ones skipped). This is the CLP move: the index costs one
    * IO-bound scan of the raw logs, and once written to parquet it lets
    * every later job ([[eventsFromIndex]]) jump straight to repaired
    * parse regions without re-deriving boundaries — write it next to the
    * archive and reuse it for the file's lifetime (raw logs are immutable).
    */
  def chunkIndex(spark: SparkSession, pathGlob: String, bank: Broadcast[PatternBank],
                 chunkBytes: Long = ChunkBytes): Dataset[ChunkMeta] =
    indexOf(spark, splittableFiles(spark, pathGlob, bank, chunkBytes), bank, chunkBytes)

  /** The files `pathGlob` matches, after the checks of an explicit split:
    * a bank safe to split, `chunkBytes` ≥ 4096, no compressed file.
    */
  private def splittableFiles(spark: SparkSession, pathGlob: String, bank: Broadcast[PatternBank],
                              chunkBytes: Long): Seq[InputFile] = {
    splitBlocker(bank.value).foreach(need =>
      throw new IllegalArgumentException(s"within-file split requires $need; use events() instead"))
    require(chunkBytes >= 4096, s"chunkBytes too small: $chunkBytes")
    resolveFiles(spark, pathGlob).tapEach(f => if (f.compressed) throw new IllegalArgumentException(
      s"within-file split cannot byte-split the compressed file ${f.path}; use events() instead"))
  }

  /** The region planner of every entry point, run when a scan is planned:
    * a file larger than `chunkBytes` is split — one chunk-index job
    * ([[indexOf]]) over all such files, regions repaired from the collected
    * index ([[regionsOf]]) — unless it is compressed or the bank is unsafe
    * to split ([[splitBlocker]]); every other file is one whole-file region.
    * A file of at most `chunkBytes` is one chunk, and chunk 0 starts an
    * event at offset 0, so its one index region would be the whole file:
    * indexing it would only read it twice. Regions come in (file, start)
    * order.
    */
  private def planRegions(spark: SparkSession, files: Seq[InputFile], bank: Broadcast[PatternBank],
                          chunkBytes: Long): Vector[Region] = {
    val (big, small) = files.partition(f => !f.compressed && f.len > chunkBytes && splitBlocker(bank.value).isEmpty)
    val split = if (big.isEmpty) Nil else regionsOf(indexOf(spark, big, bank, chunkBytes).collect().toSeq)
    (small.map(f => Region(f.path, 0L, f.len, 0L, 0L, f.compressed)) ++ split).toVector.sortBy(r => (r.file, r.start))
  }

  /** The rows of `files`, in the regions [[planRegions]] plans for them
    * when the query is planned.
    */
  private def planned(spark: SparkSession, files: Seq[InputFile], bank: Broadcast[PatternBank],
                      chunkBytes: Long): DataFrame =
    eventRows(spark, () => planRegions(spark, files, bank, chunkBytes), bank)

  /** The chunk-index job of [[chunkIndex]] and [[planRegions]]: one
    * [[scanChunk]] per `chunkBytes` range of `files`, the ranges scanned by
    * parallel tasks.
    */
  private def indexOf(spark: SparkSession, files: Seq[InputFile], bank: Broadcast[PatternBank],
                      chunkBytes: Long): Dataset[ChunkMeta] = {
    import spark.implicits._
    val conf = confOf(spark)
    val chunks = files.flatMap(f => (0L until f.len by chunkBytes).zipWithIndex
      .map { case (s, i) => (f.path, i, s, math.min(f.len, s + chunkBytes), f.len) })
    spark.createDataset(chunks)
      .map { case (path, idx, s, e, len) => scanChunk(path, idx, s, e, len, bank.value, conf.value.value) }
  }

  /** Phase 2: parse events from a (possibly parquet-round-tripped) chunk
    * index. When the query is planned, the index rows are collected (slim —
    * one per chunk) and prefix-summed into repaired regions on the driver;
    * each region is lexed independently. Building the Dataset runs no job.
    * Output equals [[events]].
    */
  def eventsFromIndex(spark: SparkSession, index: Dataset[ChunkMeta],
                      bank: Broadcast[PatternBank]): Dataset[LogEvent] =
    typedEvents(spark, eventRows(spark, () => regionsOf(index.collect().toSeq), bank))

  /** Why line-start splitting is unsound for `bank`, or None when it is
    * sound. A timestamp OR variable pattern that can consume '\n' lets a
    * token swallow a newline (the lexer then neither probes the next line
    * start nor counts the newline), and a schema without '\n' as a
    * delimiter has no line structure at all.
    */
  private def splitBlocker(bank: PatternBank): Option[String] =
    if (bank.tsDfa.canTransitionOn('\n')) Some("newline-free timestamp patterns")
    else if (bank.varDfa.canTransitionOn('\n')) Some("newline-free variable patterns")
    else if (!bank.isDelimiter('\n')) Some("'\\n' to be a delimiter")
    else None

  /** Prefix-sum each file's chunk metas into repaired parse regions, in
    * (file, start) order — the boundary-repair core of every split: a
    * persisted index's ([[eventsFromIndex]]) and [[planRegions]]', both
    * driver-side over a collected index.
    */
  private[sources] def regionsOf(ms: Seq[ChunkMeta]): Vector[Region] =
    ms.groupBy(_.file).toVector.sortBy(_._1).flatMap { case (file, fileMetas) =>
      val sorted = fileMetas.sortBy(_.chunkIdx).toVector
      val eventsBefore = sorted.scanLeft(0L)(_ + _.nEventStarts)
      val newlinesBefore = sorted.scanLeft(0L)(_ + _.nNewlines)
      // a chunk owning an event start owns the bytes up to the next owner's (or the file's end)
      val owners = sorted.indices.filter(sorted(_).firstEventStart >= 0)
      val ends = owners.drop(1).map(sorted(_).firstEventStart) :+ sorted.last.end
      owners.zip(ends).map { case (i, end) =>
        val m = sorted(i)
        Region(file, m.firstEventStart, end, eventsBefore(i), newlinesBefore(i) + m.nNewlinesBeforeFirstEvent)
      }
    }

  // ------------------------------------------------------------------ //
  // The shared read path: resolve files, build regions, read, lex.       //
  // ------------------------------------------------------------------ //

  private final case class InputFile(path: String, len: Long, compressed: Boolean, mtime: Long)

  /** The driver-side file resolver of every entry point: the files
    * `pathGlob` matches, a directory standing for the files below it (or,
    * unless `nested`, for its own files only, as the stream reads its
    * directory), in path order. Hidden (`.`/`_`-prefixed) files and
    * directories are skipped, as Spark's file sources skip them — also when
    * the path names one explicitly, except the stream's own directory
    * (`nested = false`), read whatever its name, as Spark's file stream
    * reads it. A path that matches nothing but hidden entries fails, as
    * `spark.read` does; empty files hold no events and are dropped.
    */
  private def resolveFiles(spark: SparkSession, pathGlob: String, nested: Boolean = true): Seq[InputFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new Path(pathGlob)
    val fs = glob.getFileSystem(conf)
    def hidden(s: FileStatus): Boolean = {
      val name = s.getPath.getName
      name.startsWith(".") || name.startsWith("_")
    }
    val matched = Option(fs.globStatus(glob)).toSeq.flatten.filterNot(s => nested && hidden(s))
    if (matched.isEmpty)
      throw new java.io.FileNotFoundException(s"no file matches $pathGlob (hidden files skipped)")
    def below(dir: FileStatus): Iterator[FileStatus] =
      fs.listStatus(dir.getPath).iterator.filterNot(hidden)
        .flatMap(s => if (!s.isDirectory) Iterator.single(s) else if (nested) below(s) else Iterator.empty)
    val codecs = new CompressionCodecFactory(conf)
    matched.iterator
      .flatMap(s => if (s.isDirectory) below(s) else Iterator.single(s))
      .filter(_.getLen > 0)
      .map(s => InputFile(s.getPath.toString, s.getLen, codecs.getCodec(s.getPath) != null,
        s.getModificationTime))
      .toSeq.sortBy(_.path)
  }

  /** Executor-side reads must see the SESSION's Hadoop conf (credentials,
    * endpoints, defaultFS) — a fresh Configuration() would silently limit
    * the source to conf-free filesystems. It ships as a broadcast, as
    * Spark's file sources ship it: a task that deserialized its own copy
    * would re-parse the conf's XML resources, ~25 ms per task.
    */
  private def confOf(spark: SparkSession): Broadcast[SerializableWritable[Configuration]] =
    spark.sparkContext.broadcast(new SerializableWritable(spark.sparkContext.hadoopConfiguration))

  /** The row source over the regions `plan` yields when the query is
    * planned: a DSv2 relation built directly, since the bank is an object,
    * not a string option.
    */
  private def eventRows(spark: SparkSession, plan: () => Seq[Region],
                        bank: Broadcast[PatternBank]): DataFrame =
    GraftBridge.ofRows(spark,
      DataSourceV2Relation.create(new EventTable(plan, bank, confOf(spark),
        spark.sparkContext.defaultParallelism), None, None))

  private def typedEvents(spark: SparkSession, rows: DataFrame): Dataset[LogEvent] = {
    import spark.implicits._
    rows.select(eventSchema.fieldNames.map(col).toSeq: _*).as[LogEvent]
  }

  private def readRegion(r: Region, conf: Configuration): Array[Byte] =
    if (!r.compressed) readRange(r.file, r.start, r.end, conf)
    else {
      val path = new Path(r.file)
      val codec = new CompressionCodecFactory(conf).getCodec(path)
      val in = codec.createInputStream(path.getFileSystem(conf).open(path))
      try in.readAllBytes() finally in.close()
    }

  /** Read bytes `[start, end)` of a Hadoop-FS path. Ranges are bounded by
    * the JVM's array limit — a repaired region larger than 2 GB means
    * >2 GB between two event starts, which no single-array lex can
    * represent; fail with a clear message instead of a negative-size
    * allocation.
    */
  private def readRange(file: String, start: Long, end: Long, conf: Configuration): Array[Byte] = {
    require(end - start < Int.MaxValue.toLong,
      s"single parse region of ${end - start} bytes in $file exceeds the 2 GB JVM array " +
        "limit (one event spans >2 GB between timestamps)")
    val path = new Path(file)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    try {
      val buf = new Array[Byte]((end - start).toInt)
      in.seek(start)
      in.readFully(buf)
      buf
    } finally in.close()
  }

  /** Phase-1 scan of one chunk: walk `[start, end)` finding line starts,
    * probe the timestamp DFA at each (reading past `end` only as far as a
    * live probe needs), and count newlines. Probes replicate exactly the
    * test `tokenize` applies at a line start: does the ts DFA reach ANY
    * accepting state before dying (longest-match selection doesn't matter
    * for boundary detection).
    */
  private def scanChunk(file: String, chunkIdx: Int, start: Long, end: Long,
                        fileLen: Long, bank: PatternBank,
                        conf: Configuration): ChunkMeta = {
    var lookahead = 8192L
    var buf = readRange(file, math.max(0L, start - 1), math.min(fileLen, end + lookahead), conf)
    val bufStart = math.max(0L, start - 1)

    // probe result: 1 = event start, 0 = no, -1 = ran off the buffer alive
    def probe(fromOff: Long): Int = {
      val dfa = bank.tsDfa
      var st = 0
      var i = (fromOff - bufStart).toInt
      while (i < buf.length) {
        val c = buf(i) & 0xff
        if (c >= 128) return 0
        st = dfa.next(st, c)
        if (st < 0) return 0
        if (dfa.acceptedPattern(st) >= 0) return 1
        i += 1
      }
      if (bufStart + buf.length >= fileLen) 0 else -1
    }

    def probeExtending(fromOff: Long): Boolean = {
      var r = probe(fromOff)
      while (r == -1) {
        lookahead *= 4
        buf = readRange(file, bufStart, math.min(fileLen, end + lookahead), conf)
        r = probe(fromOff)
      }
      r == 1
    }

    var firstEventStart = -1L
    var nEventStarts = 0L
    var nNewlines = 0L
    var nNewlinesBeforeFirst = 0L

    def visitLineStart(off: Long): Unit = {
      val isEvent = off == 0L || probeExtending(off)
      if (isEvent) {
        nEventStarts += 1
        if (firstEventStart < 0) { firstEventStart = off; nNewlinesBeforeFirst = nNewlines }
      }
    }

    // `start` is a line start iff it's the file start or follows a '\n'
    if (start == 0L || buf(0) == '\n') visitLineStart(start)
    var off = start
    while (off < end) {
      if (buf((off - bufStart).toInt) == '\n') {
        nNewlines += 1
        if (off + 1 < end) visitLineStart(off + 1)
      }
      off += 1
    }
    if (firstEventStart < 0) nNewlinesBeforeFirst = nNewlines
    ChunkMeta(file, chunkIdx, start, end, firstEventStart, nEventStarts,
      nNewlines, nNewlinesBeforeFirst)
  }

  /** Pure per-file parse — shared with tests and the kernel probe: the
    * content's UTF-8 bytes through the same row kernel as every Spark entry
    * point ([[EventRows]]), each row decoded to a [[LogEvent]] by the encoder.
    */
  def eventsOf(file: String, content: String, bank: PatternBank): Iterator[LogEvent] =
    decoded(new EventRows(file, content.getBytes(UTF_8), bank, 0L, 0L, EventFields))(
      eventEncoder.createDeserializer())

  /** The row kernel with every column, decoded to [[LogEventWithTokens]]
    * — the typed face the kernel spec checks against the char oracle.
    */
  private[sources] def lexEvents(file: String, bytes: Array[Byte],
                                 bank: PatternBank): Iterator[LogEventWithTokens] = {
    val event = eventEncoder.createDeserializer()
    decoded(new EventRows(file, bytes, bank, 0L, 0L, RowFields)) { r =>
      val tokens = r.getArray(eventSchema.length) // after the LogEvent columns
      LogEventWithTokens(event(r), Vector.tabulate(tokens.numElements()) { i =>
        val t = tokens.getStruct(i, 4)
        TokenRow(t.getByte(0), t.getInt(1), t.getUTF8String(2).toString, t.getInt(3))
      })
    }
  }

  // ------------------------------------------------------------------ //
  // The row kernel and the DSv2 scan that serves it.                     //
  // ------------------------------------------------------------------ //

  /** Row schema of the source: the [[LogEvent]] columns, then `tokens`
    * (the [[LogEventWithTokens]] array), with the encoders' nullability.
    */
  private val eventSchema: StructType = Encoders.product[LogEvent].schema
  private val rowSchema: StructType =
    eventSchema.add(Encoders.product[LogEventWithTokens].schema("tokens"))

  /** [[rowSchema]] and [[eventSchema]] as [[SpanRowWriter]] field ids. */
  private val RowFields: Array[Int] = SpanRowWriter.fieldIds(rowSchema)
  private val EventFields: Array[Int] = SpanRowWriter.fieldIds(eventSchema)

  /** The [[LogEvent]] encoder bound to [[eventSchema]]: its deserializer
    * turns a row of [[EventFields]] (or the leading fields of [[RowFields]])
    * into the object Spark's typed view gives.
    */
  private lazy val eventEncoder = ExpressionEncoder[LogEvent]().resolveAndBind()

  private def decoded[T](rows: EventRows)(decode: InternalRow => T): Iterator[T] = new Iterator[T] {
    private var ready = false
    def hasNext: Boolean = ready || { ready = rows.next(); ready }
    def next(): T = {
      if (!hasNext) throw new NoSuchElementException("no more events")
      ready = false
      decode(rows.get())
    }
  }

  /** The lexer kernel of every entry point: lex `bytes` once with
    * [[ByteTokenizer]], pausing after each Timestamp token, and write each
    * closed event (a new event starts before each Timestamp token; a
    * leading event may lack one) as a row of `fields` (writer ids) with ONE
    * reused [[SpanRowWriter]]. It holds only the current event's spans, so
    * memory stays event-sized however large the region; a row is valid
    * until the next [[next]]. An event's fields are `parse_turn`'s over its
    * spans with `role` and `tool` null (EventTurnSpec), plus its file,
    * index, lines and text; a field left out of `fields` costs nothing.
    */
  private[sources] final class EventRows(file: String, bytes: Array[Byte], bank: PatternBank,
                                         eventIdxOffset: Long, lineOffset: Long,
                                         fields: Array[Int])
      extends ByteTokenizer.Sink {
    private val fileName = UTF8String.fromString(file)
    private val lexer = new ByteTokenizer.Lexer(bank, bytes)
    private val rows = new SpanRowWriter(fields)
    rows.input(bank, bytes, toolRole = false)
    private var row: InternalRow = _
    private var nEvents = 0
    private var ready = false
    private var exhausted = false

    override def token(tt: Byte, sid: Int, start: Int, end: Int, line: Int): Unit = {
      if (tt == TokenType.Timestamp) closeEvent()
      rows.token(tt, sid, start, end, line)
    }

    /** Advance to the next event's row. */
    def next(): Boolean = {
      ready = false
      while (!ready && !exhausted)
        if (!lexer.run(this, pauseAfterTimestamp = true)) { exhausted = true; closeEvent() }
      ready
    }

    def get(): InternalRow = row

    /** Write the current event, if any, as the next row. */
    private def closeEvent(): Unit = if (!rows.isEmpty) {
      row = rows.write(CAT_UNMATCHED, fileName, (nEvents + eventIdxOffset).toInt, lineOffset)
      nEvents += 1
      ready = true
      rows.reset()
    }
  }

  /** The DSv2 `logfiles` table of the batch entry points: one row per
    * event in [[rowSchema]], over the regions `plan` yields — called once
    * per planned scan, so a chunk index is collected when the query runs,
    * never while it is built.
    */
  private final class EventTable(val plan: () => Seq[Region], val bank: Broadcast[PatternBank],
                                 val conf: Broadcast[SerializableWritable[Configuration]],
                                 val parallelism: Int)
      extends Table with SupportsRead {
    override def name(): String = "logfiles"
    override def schema(): StructType = rowSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder with SupportsPushDownRequiredColumns {
        private var pruned = rowSchema
        override def pruneColumns(required: StructType): Unit = {
          val names = required.fieldNames.toSet
          pruned = StructType(rowSchema.filter(f => names(f.name)))
        }
        override def build(): Scan = new EventScan(EventTable.this, pruned)
      }
  }

  /** A pruned scan of `table`. Each region is read by an [[EventRows]] that
    * writes only the columns the plan reads.
    */
  private final class EventScan(table: EventTable, pruned: StructType) extends Scan with Batch {
    private lazy val regions = table.plan().toVector
    override def readSchema(): StructType = pruned
    override def description(): String = {
      val files = regions.map(_.file).distinct
      s"LogFiles ${regions.length} regions of ${files.length} files " +
        files.take(8).mkString("[", ", ", if (files.length > 8) ", ...]" else "]")
    }
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] = slices(regions, table.parallelism)
    override def createReaderFactory(): PartitionReaderFactory = readerFactory(pruned, table.bank, table.conf)
  }

  /** Contiguous slices of `regions`, at most `parallelism` of them, as a
    * local relation slices its rows: a task per region would launch a task
    * per small file.
    */
  private def slices(regions: Vector[Region], parallelism: Int): Array[InputPartition] = {
    val n = regions.length
    val k = math.min(n, parallelism)
    Array.tabulate[InputPartition](k)(i =>
      RegionSlice(regions.slice((i.toLong * n / k).toInt, ((i + 1L) * n / k).toInt)))
  }

  /** The reader of every scan: a [[SliceReader]] writing `columns`. */
  private def readerFactory(columns: StructType, bank: Broadcast[PatternBank],
                            conf: Broadcast[SerializableWritable[Configuration]]): PartitionReaderFactory = {
    val fields = SpanRowWriter.fieldIds(columns)
    (p: InputPartition) => new SliceReader(p.asInstanceOf[RegionSlice].regions, bank.value,
      conf.value.value, fields)
  }

  /** The stream's `logfiles` table — its own scan builder and scan: the
    * `.log` files arriving in `dir`, in the [[LogEvent]] columns only (Spark
    * never prunes a micro-batch scan), read by a [[LogStream]].
    */
  private final class StreamTable(spark: SparkSession, dir: String, maxFiles: Int, chunkBytes: Long,
                                  bank: Broadcast[PatternBank])
      extends Table with SupportsRead with ScanBuilder with Scan {
    private val conf = confOf(spark)
    override def name(): String = "logfiles"
    override def schema(): StructType = eventSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = this
    override def build(): Scan = this
    override def readSchema(): StructType = eventSchema
    override def description(): String = s"LogFiles *.log arriving in $dir"
    override def toMicroBatchStream(checkpoint: String): MicroBatchStream = new LogStream(checkpoint)

    /** The micro-batch stream. An offset counts the files admitted so far.
      * Each batch's files are logged under the query's checkpoint, keyed by
      * the batch's end offset, before that offset is returned: on restart a
      * logged file is never admitted again, and a batch logged beyond the
      * offset the query restarts from is admitted again with exactly its
      * files. New files are admitted oldest modification time first, as
      * Spark's file source admits them, up to the read limit's file count.
      * A checkpoint this stream did not write — one of the earlier stream
      * that read through Spark's binary-file source, whose offsets were
      * `{"logOffset":N}` — fails with a message that says so.
      */
    private final class LogStream(checkpoint: String) extends MicroBatchStream with SupportsAdmissionControl {
      private def notOurs(cause: Throwable) = new IllegalStateException(s"checkpoint $checkpoint was not " +
        "written by this .log stream (one of the eventsStream that read through Spark's binary-file source " +
        "cannot be resumed)", cause)
      private val log = new HDFSMetadataLog[Array[InputFile]](spark, checkpoint)
      private val batches = collection.mutable.TreeMap(
        (try log.get(None, None) catch { case NonFatal(e) => throw notOurs(e) }).toSeq: _*)
      /** Spark plans a batch's partitions once per copy of its scan node: the chunk-index job runs once. */
      private val planned = collection.mutable.Map.empty[(Long, Long), Array[InputPartition]]
      override def initialOffset(): Offset = LongOffset(0L)
      override def deserializeOffset(json: String): Offset =
        LongOffset(json.toLongOption.getOrElse(throw notOurs(null)))
      override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(maxFiles)
      override def latestOffset(): Offset = throw new UnsupportedOperationException("needs a read limit")
      override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
        val from = start.json.toLong
        batches.keysIteratorFrom(from + 1).nextOption().map(LongOffset(_)).getOrElse {
          val seen = batches.values.flatten.map(_.path).toSet
          val admitted = resolveFiles(spark, dir, nested = false)
            .filter(f => f.path.endsWith(".log") && !seen(f.path)).sortBy(f => (f.mtime, f.path))
            .take(limit match { case m: ReadMaxFiles => m.maxFiles; case _ => Int.MaxValue }).toArray
          val end = from + admitted.length
          if (admitted.nonEmpty) { log.add(end, admitted); batches(end) = admitted }
          LongOffset(end)
        }
      }
      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
        planned.getOrElseUpdate((start.json.toLong, end.json.toLong), slices(planRegions(spark,
          batches.range(start.json.toLong + 1, end.json.toLong + 1).values.flatten.toSeq, bank, chunkBytes),
          spark.sparkContext.defaultParallelism))

      override def createReaderFactory(): PartitionReaderFactory = readerFactory(eventSchema, bank, conf)
      override def commit(end: Offset): Unit = planned.clear()
      override def stop(): Unit = ()
    }
  }

  private final case class RegionSlice(regions: Seq[Region]) extends InputPartition

  /** Reads a slice's regions one after another, one region's bytes at a
    * time, each numbered from its prefix-sum offsets: global event indices
    * and line numbers.
    */
  private final class SliceReader(regions: Seq[Region], bank: PatternBank, conf: Configuration,
                                  fields: Array[Int]) extends PartitionReader[InternalRow] {
    private var i = 0
    private var rows: EventRows = _
    override def next(): Boolean = {
      while (rows == null || !rows.next()) {
        if (i == regions.length) return false
        val r = regions(i)
        rows = new EventRows(r.file, readRegion(r, conf), bank, r.eventIdxOffset, r.lineOffset, fields)
        i += 1
      }
      true
    }
    override def get(): InternalRow = rows.get()
    override def close(): Unit = ()
  }

  /** The slim per-event projection shared by the l1 driver query (split
    * path via a persisted chunk index) and its oracle staging (whole-file
    * path): enough columns to pin boundaries, numbering, extraction and the
    * exact text bytes (crc), without shipping the text itself.
    */
  def eventStats(events: Dataset[LogEvent]): org.apache.spark.sql.DataFrame =
    events.toDF().select(
      col("event_idx"), col("line_start"), col("line_end"), col("has_timestamp"),
      col("first_ts"), col("n_tokens"), col("n_errors"), col("error_signature"),
      col("category"), length(col("text")).cast("bigint").as("n_chars"),
      crc32(col("text").cast("binary")).as("text_crc"))
}
