package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** P4 — route / fan-out stage: ONE pass over the parsed+enriched rows,
  * written with `partitionBy("category")` into the four per-category sinks
  * (errors, tool_calls, assistant_text, unmatched) as `category=X/`
  * partition directories.
  *
  * Scale design (this is the 100 TB hot path):
  *  - Single scan + single shuffle + single write job — NOT four filtered
  *    writes: 4 passes over 100 TB is 300 TB of wasted scan. Partitioned
  *    writes give downstream readers partition pruning per sink for free.
  *  - Skew handled explicitly (north rule): hot conversations (the Zipf
  *    head) would pin single write tasks, so rows are
  *    `repartition(n, conv_id, pmod(hash(turn_idx), SaltBuckets))` —
  *    deterministic salt spreads one conversation over at most SaltBuckets
  *    tasks while typical conversations stay co-resident. AQE fixes skewed
  *    joins, not skewed writes, hence the manual salt.
  *  - Per-sink counts come from `observe()` aggregates on the write pass
  *    itself (`RunPipeline.run`): no second job over the rows, and no
  *    per-row accumulator maps that would force an extra row-codec round
  *    trip per sink.
  */
object Route {

  /** Default number of salt buckets a single hot conversation may spread
    * over. Overridable per session via `spark.graft.route.saltBuckets`: the
    * right width scales with how hot the head key is relative to a task's
    * share — 8 suits local[32]-scale runs, a 1000-executor cluster ingesting
    * one 10M-turn conversation wants a much wider spread. A conf (not a
    * hardcode) because hot-key mass is a property of the DATA, known to the
    * operator, not derivable from the plan.
    */
  val SaltBuckets = 8

  /** Session-conf'd salt width (`spark.graft.route.saltBuckets`, default
    * [[SaltBuckets]]).
    */
  def saltBuckets(df: DataFrame): Int = {
    val v = df.sparkSession.conf.get("spark.graft.route.saltBuckets", SaltBuckets.toString).toInt
    require(v >= 1, s"spark.graft.route.saltBuckets must be >= 1, got $v")
    v
  }

  def salted(df: DataFrame, partitions: Int): DataFrame =
    df.repartition(partitions, col("conv_id"),
      pmod(hash(col("turn_idx")), lit(saltBuckets(df))))

  def sinkPath(outDir: String, category: String): String = s"$outDir/category=$category"

  /** One partitioned write job over rows whose placement was already fixed
    * by the salted repartition of the RAW turns upstream (shuffling the
    * ~4×-larger parsed token arrays instead would dominate the job — the
    * cheap representation goes through the shuffle, the parse happens after
    * it).
    */
  def writePartitioned(enriched: DataFrame, outDir: String, categories: Seq[String]): Unit =
    enriched.filter(col("category").isin(categories: _*))
      .write
      .mode(SaveMode.Overwrite)
      // dynamic: only the category= partitions present in this job are
      // replaced — committed sinks (and the manifest) survive a resume
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("category")
      .parquet(outDir)

  /** Routed counts without writing (for tests / the flagship query). */
  def counts(enriched: DataFrame): DataFrame =
    enriched.groupBy("category").agg(count(lit(1)).as("n_turns"))
}
