package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** P5 — aggregate stage: per-tool counts and per-conversation turn stats
  * (window over conv_id ORDER BY turn_idx), all Catalyst built-ins —
  * partial+final hash aggregation and sort-based window exec come free.
  */
object Aggregate {

  /** Per-tool call/error counts (partial aggregation map-side, tiny result). */
  def perTool(enriched: DataFrame): DataFrame =
    enriched
      .filter(col("tool").isNotNull)
      .groupBy("tool")
      .agg(
        count(lit(1)).as("n_calls"),
        sum(when(col("category") === Category.Errors, 1L).otherwise(0L)).as("n_errors"),
        sum(col("n_tokens")).as("n_tokens")
      )

  /** Per-conversation stats via window over (conv_id ORDER BY turn_idx):
    * stable turn ordering is the north rule's per-row invariant.
    */
  def perConversation(enriched: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    enriched
      .select(col("conv_id"), col("turn_idx"), col("ts"), col("role"),
        col("n_tokens"), col("n_errors"))
      .withColumn("prev_role", lag("role", 1).over(w))
      .groupBy("conv_id")
      .agg(
        count(lit(1)).as("n_turns"),
        max("turn_idx").as("max_turn_idx"),
        min("ts").as("first_ts"),
        max("ts").as("last_ts"),
        sum("n_tokens").as("n_tokens"),
        sum("n_errors").as("n_errors"),
        sum(when(col("role") === "tool", 1L).otherwise(0L)).as("n_tool_turns"),
        sum(when(col("role") === col("prev_role"), 1L).otherwise(0L)).as("n_role_repeats")
      )
  }
}
