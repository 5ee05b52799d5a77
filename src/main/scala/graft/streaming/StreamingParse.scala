package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.lexer.PatternBank
import graft.pipeline.{Parse, Turn}

/** Structured Streaming face of the engine: the reference's pluggable
  * pull-stream input (`src/lexer/lexer_stream.rs:3-5`) maps to `readStream`
  * over the same transcript table layout; the SAME `parse_turn` expression
  * the batch pipeline runs is inside the streaming plan, so batch and
  * streaming parses are equal by construction (asserted in StreamingSpec
  * against the typed batch oracle `Parse.apply`).
  */
object StreamingParse {

  /** File-stream source over a transcript parquet directory. */
  def turnsStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 4): Dataset[Turn] = {
    import spark.implicits._
    spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Turn]].schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
      .as[Turn]
  }

  /** Streaming parse: the same whole-stage-codegen `parse_turn` the batch
    * pipeline runs ([[Parse.expr]]) — micro-batch plans get the
    * zero-allocation kernel too.
    */
  def parsedStream(turns: DataFrame, bank: PatternBank): DataFrame =
    Parse.expr(turns, bank)

  /** Watermarked tumbling-window per-category counts — the streaming
    * analogue of the route-stage counts.
    */
  def windowedCategoryCounts(parsed: DataFrame,
                             watermark: String = "10 minutes",
                             windowLen: String = "1 hour"): DataFrame =
    parsed
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("category"))
      .agg(count(lit(1)).as("n_turns"), sum("n_errors").as("n_errors"))

  /** Per-conversation running progress. */
  final case class ConvProgress(conv_id: String, turns_seen: Long, errors_seen: Long, last_turn_idx: Int)

  /** Streaming route/fan-out — the P4 sink stage as a continuous query:
    * partitionBy(category) parquet sink with exactly-once file commits via
    * the streaming checkpoint (the streaming analogue of the batch
    * manifest). Returns the started query; callers own its lifecycle.
    */
  def routeStream(parsed: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    parsed.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("category")
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming exact dedup over a document-shaped stream: first arrival of
    * each text hash wins, duplicates within the watermark horizon are
    * dropped. `dropDuplicatesWithinWatermark` keys state on the slim
    * (64-bit hash) column — never the body — and the watermark bounds state
    * size, which is what makes this viable on an unbounded 100 TB/day feed
    * (plain dropDuplicates would accrete state forever).
    */
  def dedupedStream(docs: DataFrame, tsCol: String = "ts",
                    watermark: String = "10 minutes"): DataFrame =
    docs
      // composite ~96-bit key: a lone 64-bit hash has ~50% birthday-collision
      // odds by 5·10⁹ distinct docs — one horizon of a 100 TB/day feed
      .withColumn("_th", xxhash64(col("text")))
      .withColumn("_tc", crc32(col("text").cast("binary")))
      .withColumn("_tl", length(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_th", "_tc", "_tl")
      .drop("_th", "_tc", "_tl")

  /** Custom streaming state via mapGroupsWithState: running per-conversation
    * turn/error counters (the stateful-operator surface of the engine). The
    * state function sees only the slim (conv_id, turn_idx, n_errors)
    * projection, never the token arrays.
    */
  def conversationProgress(parsed: DataFrame): Dataset[ConvProgress] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed.select("conv_id", "turn_idx", "n_errors").as[(String, Int, Int)]
      .groupByKey(_._1)
      .mapGroupsWithState[ConvProgress, ConvProgress](GroupStateTimeout.NoTimeout()) {
        case (convId, turns, state: GroupState[ConvProgress]) =>
          val prev = state.getOption.getOrElse(ConvProgress(convId, 0L, 0L, -1))
          var n = prev.turns_seen
          var errs = prev.errors_seen
          var last = prev.last_turn_idx
          turns.foreach { case (_, turnIdx, nErrors) =>
            n += 1
            errs += nErrors
            if (turnIdx > last) last = turnIdx
          }
          val next = ConvProgress(convId, n, errs, last)
          state.update(next)
          next
      }
  }
}
