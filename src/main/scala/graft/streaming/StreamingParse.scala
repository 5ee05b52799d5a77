package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Dedup
import graft.pipeline.Turn

/** Structured Streaming face of the engine: the reference's pluggable
  * pull-stream input (`src/lexer/lexer_stream.rs:3-5`) maps to `readStream`
  * over the same transcript table layout; the stream is parsed by the SAME
  * `parse_turn` expression the batch pipeline runs (`Parse.expr` over
  * [[turnsStream]]: micro-batch plans get the whole-stage-codegen kernel
  * too), so batch and streaming parses are equal by construction (asserted
  * in StreamingSpec against the typed batch oracle `Parse.apply`).
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
    * ~96-bit [[graft.operators.Dedup.textKey]] column (batch exact dedup's
    * key) — never the body — and the watermark bounds state size, which is
    * what makes this viable on an unbounded 100 TB/day feed (plain
    * dropDuplicates would accrete state forever). A lone 64-bit hash would
    * have ~50% birthday-collision odds by 5·10⁹ distinct docs — one horizon
    * of such a feed.
    */
  def dedupedStream(docs: DataFrame, tsCol: String = "ts",
                    watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("_tk", Dedup.textKey(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_tk")
      .drop("_tk")

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
