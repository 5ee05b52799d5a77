package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.sql.Timestamp

/** Direct assertions for two north-rule requirements:
  *  - salted repartitioning actually defuses hot-conversation skew (one
  *    conversation spreads over >1 and ≤SaltBuckets tasks; small
  *    conversations stay co-resident per salt bucket),
  *  - the checkpoint manifest records per-sink lineage (snapshot id, row
  *    counts, the actual part files on disk).
  */
class SkewAndLineageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("skew-lineage-spec")
    .config("spark.sql.shuffle.partitions", "16")
    // AQE coalescing would merge the small test partitions and hide the
    // placement we are asserting
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("salted repartition spreads a hot conversation over up to SaltBuckets tasks") {
    import spark.implicits._
    val hot = (0 until 4000).map(i => Turn("conv-hot", i, "assistant", "x", null, new Timestamp(i.toLong)))
    val cold = (0 until 50).flatMap(c => (0 until 3).map(i =>
      Turn(f"conv-cold-$c%03d", i, "user", "y", null, new Timestamp(i.toLong))))
    val df = (hot ++ cold).toDF()

    val placed = Route.salted(df, 16)
      .select(col("conv_id"), spark_partition_id().as("pid"))
      .groupBy("conv_id").agg(countDistinct("pid").as("n_parts"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // the hot conversation is spread (defused) but bounded by the salt count
    assert(placed("conv-hot") > 1, s"hot conversation not spread: $placed")
    assert(placed("conv-hot") <= Route.SaltBuckets)
    // small conversations stay on few tasks (co-residence per salt bucket)
    cold.map(_.conv_id).distinct.foreach { c =>
      assert(placed(c) <= 3, s"cold conversation $c over-spread: ${placed(c)}")
    }
  }

  test("salt width honors spark.graft.route.saltBuckets: a pathological conversation spreads wider") {
    import spark.implicits._
    // one conversation IS the dataset — the cluster-ingest pathology
    val hot = (0 until 8000).map(i => Turn("conv-giant", i, "assistant", "x", null, new Timestamp(i.toLong)))
    val df = hot.toDF()
    def spread(width: Int): Long = {
      spark.conf.set("spark.graft.route.saltBuckets", width.toString)
      try Route.salted(df, 64)
        .select(spark_partition_id().as("pid")).agg(countDistinct("pid")).head().getLong(0)
      finally spark.conf.unset("spark.graft.route.saltBuckets")
    }
    val narrow = spread(4)
    val wide = spread(32)
    assert(narrow <= 4, s"narrow width leaked: $narrow tasks")
    assert(wide > narrow, s"wider salt did not spread further: narrow=$narrow wide=$wide")
    assert(wide <= 32)
  }

  test("salting is deterministic: same placement keys across runs") {
    import spark.implicits._
    val turns = (0 until 200).map(i => Turn(s"c${i % 7}", i, "user", "t", null, new Timestamp(i.toLong))).toDF()
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select(col("conv_id"), col("turn_idx"), pmod(hash(col("turn_idx")), lit(Route.SaltBuckets)).as("salt"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(keys(turns) == keys(turns))
  }

  test("manifest records snapshot id, per-sink rows, and the real part files") {
    import spark.implicits._
    val out = Staging.tempDirDeletedOnExit("graft-lineage")
    val turns = graft.datagen.SyntheticTranscripts.generate(spark, 40L)
    RunPipeline.run(spark, turns, out, fingerprint = "lineage-test")

    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_manifest.json")), java.nio.charset.StandardCharsets.UTF_8)
    assert(manifest.contains("\"fingerprint\":\"lineage-test\""))
    assert("\"snapshot_id\":(\\d+)".r.findFirstMatchIn(manifest).exists(_.group(1).toInt == 4))
    Category.All.foreach { c =>
      assert(manifest.contains(s""""sink":"$c""""), s"missing sink $c in manifest")
    }
    // lineage files listed == files on disk for one sink
    val onDisk = java.nio.file.Files.list(java.nio.file.Paths.get(out, "category=errors"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val diskFiles = new scala.collection.mutable.ArrayBuffer[String]
    onDisk.forEachRemaining(p => if (p.getFileName.toString.endsWith(".parquet")) diskFiles += p.getFileName.toString)
    diskFiles.foreach(f => assert(manifest.contains(f), s"manifest missing lineage file $f"))

    // a fresh Checkpoint instance over the same dir resumes the state
    val ckpt = new Checkpoint(out, "lineage-test")
    assert(Category.All.forall(ckpt.isCommitted))
    assert(ckpt.currentSnapshotId == 4)
    // and a different fingerprint starts fresh
    val other = new Checkpoint(out, "other-input")
    assert(Category.All.forall(c => !other.isCommitted(c)))
  }
}
