package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.datagen.SyntheticTranscripts
import graft.lexer.PatternBank
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.pipeline.{Aggregate, Enrich, Parse, Route}

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 inventory), with equivalent DuckDB SQL in `oracleSql`
  * wherever the semantics are ANSI-SQL-expressible. Non-SQL-expressible
  * operators (the tokenizer pipeline, MinHash/SimHash dedup, LSH ANN,
  * fingerprinting, multimodal) get rows-only driver checks and are instead
  * verified against independent oracles in the ScalaTest suites.
  *
  * Query naming: q* relational engine surface, d* dedup, s* similarity,
  * t* text analysis, m* multimodal, p* transcript parse→route pipeline.
  */
object SparkEntry {

  // Scan-parallelism note (measured and REJECTED, round 7): the base tables
  // are single-row-group parquet files, so scans yield 1–3 partitions and
  // per-row map work runs on few cores. A conditional round-robin
  // `repartition(defaultParallelism)` after each read was benched: it made
  // 13 of 15 checked rows SLOWER (q1 0.61→1.02 s, q21 1.09→2.52, d1
  // 0.55→1.13, d4 2.74→3.99, s2 10.9→16.2 isolated) — the exchange pays a
  // local sort (spark.sql.execution.sortBeforeRepartition) plus a full
  // shuffle of raw text/vector payloads, while the O(n²) pair/probe work
  // already runs post-shuffle on all cores; only O(n) map passes were
  // serial, and they are cheap at validation scale. Keep the plain scan.
  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** documents ∪ deterministic duplicate copies — both engines can build it,
    * so the dedup operators have something to find. Every doc_id % 5 == 0
    * gets an exact copy at id+100000; % 7 == 0 a near-copy (one word
    * changed) at id+200000.
    */
  private def docsWithDups(spark: SparkSession, dir: String): DataFrame = {
    val d = tbl(spark, dir, "documents")
    d.unionByName(
      d.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
    ).unionByName(
      d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 200000L)
        .withColumn("text", regexp_replace(col("text"), "table", "tables"))
    )
  }

  private val DocsWithDupsSql =
    """SELECT * FROM documents
      |UNION ALL SELECT doc_id+100000 AS doc_id, text, lang, source, n_chars FROM documents WHERE doc_id%5=0
      |UNION ALL SELECT doc_id+200000 AS doc_id, regexp_replace(text,'table','tables','g') AS text, lang, source, n_chars FROM documents WHERE doc_id%7=0""".stripMargin

  /** Synthetic transcripts sized for the sf dir + the parsed/enriched view
    * (pipeline P1–P3), reused by the p* queries. Staying LAZY is a measured
    * choice (round 7): staging this view to parquet once for the five
    * p-rows was benched twice and LOST both times (p-group 4.14 s lazy vs
    * 4.39/5.19 s staged) — the parsed rows carry the per-turn token
    * array, so the staging write moves more bytes than the five codegen'd
    * re-parses cost. Opposite sign from the slim pair/truth stagings below.
    */
  private def enrichedTranscripts(spark: SparkSession, dir: String): DataFrame = {
    val turns = SyntheticTranscripts.generate(spark, SyntheticTranscripts.convsForSfDir(dir))
    Enrich(Parse.expr(turns.toDF(), PatternBank.example),
      SyntheticTranscripts.dimTool(spark), SyntheticTranscripts.dimRole(spark))
  }

  /** One staged ANN index per (corpus, method): the index is a DATASET
    * artifact, so s2 and the s4 recall gate (and repeated bench runs in
    * one JVM) share the same parquet index instead of rebuilding it per
    * query construction — index once, query many, within the process too.
    * The key includes the corpus plan's semantic hash AND the session
    * identity: keying on the sf dir alone would silently serve a stale
    * index to a caller passing a DIFFERENT embeddings frame for the same
    * dir (or a frame bound to a new session). Dirs are removed at JVM exit.
    */
  private val annIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedIndexDir(method: String, corpus: DataFrame)(build: String => Unit): String = {
    val key = method + ":" + corpus.queryExecution.analyzed.semanticHash() +
      ":" + System.identityHashCode(corpus.sparkSession)
    annIndexCache.computeIfAbsent(key, { _ =>
      val d = graft.pipeline.Staging.tempDirDeletedOnExit("graft-ann-index")
      val t0 = System.nanoTime()
      build(d)
      System.err.println(f"[graft-stage] index $method%-12s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      d
    })
  }

  /** Mean pair recall of a near-dup dedup path against the exact
    * char-5-shingle Jaccard truth set (the similarity MinHash approximates;
    * source-blocked so DuckDB can recompute it), reported as a driver-
    * checkable single row like the d7/s4/s5 gates: the oracle pins
    * n_true_pairs (recomputed from the text in SQL) and recall_pass=true.
    */
  private def dedupRecall(s: SparkSession, dir: String, approx: DataFrame,
                          minRecall: Double): DataFrame = {
    val truth = truthPairs(s, dir)
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val hits = approx.select("id_a", "id_b").join(truth, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    nTrue.crossJoin(hits).crossJoin(truthCapFlag(s, dir))
      .select(col("n_true").as("n_true_pairs"),
        when(col("n_true") === 0L, lit(true))
          .otherwise(col("hits").cast("double") / col("n_true") >= minRecall)
          .as("recall_pass"),
        col("truth_capped"))
  }

  /** Did any source block exceed the truth set's per-block cap? The
    * d9/d10/d11 oracles pin this FALSE, so a corpus big enough to trip
    * [[Dedup.TruthMaxBlock]] turns those gates RED (hash mismatch) instead
    * of silently grading recall on a biased lowest-id sample — the
    * validation-scale contract made loud.
    */
  private def truthCapFlag(s: SparkSession, dir: String): DataFrame =
    docsWithDups(s, dir).groupBy("source").agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)).as("mx"))
      .select((col("mx") > Dedup.TruthMaxBlock).as("truth_capped"))

  /** Staged-query memo for the d3/d4 eager-staging builders: one staged
    * frame per (query, sfDir, session). Without it, every invocation of the
    * query builder allocated a fresh temp dir and ran the staging write job
    * again — disk and work growing per call in a looping process.
    */
  private val stagedQueryCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def cachedStagedQuery(name: String, spark: SparkSession, sfDir: String)
                               (build: => DataFrame): DataFrame =
    stagedQueryCache.computeIfAbsent(
      s"$name:$sfDir:${System.identityHashCode(spark)}", _ => build)

  /** Staged-parquet memo of a BOUNDED intermediate shared by several driver
    * rows (truth pair sets, brute-force top-k truth, shipped pair outputs):
    * built once per (name, sf dir, session), written to a JVM-exit-scoped
    * temp dir, and read back as a slim parquet frame. Rationale (guide §1
    * first-principles): a frame referenced by k gate rows × m aggregation
    * branches is otherwise re-executed k·m times — the round-6 surface
    * re-ran the SAME brute-force truth subtree 14× and the d3 pair plan 3×
    * per bench pass. The staged results are small (≤ a few hundred rows),
    * the job that produces them runs INSIDE the first touching row's timed
    * region, and nothing persists across processes — same lifecycle as the
    * d9 truth staging this generalizes.
    */
  private def stagedShared(name: String, s: SparkSession, dir: String)
                          (build: => DataFrame): DataFrame =
    cachedStagedQuery(name, s, dir) {
      val d = graft.pipeline.Staging.tempDirDeletedOnExit(s"graft-$name")
      val t0 = System.nanoTime()
      build.write.mode("overwrite").parquet(s"$d/out")
      System.err.println(f"[graft-stage] shared $name%-12s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      s.read.parquet(s"$d/out")
    }

  /** In-process memo for the tiny trained ANN models (centroid sets): s3/s6
    * train the SAME flat 16-cell model and s9/s10 the SAME two-level model —
    * the training passes over the corpus are deterministic pure functions of
    * (corpus, params), so the second trainer run per process is pure waste.
    * Keyed like [[annIndexCache]] (semantic hash + session identity).
    */
  private val modelCache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def cachedModel[T <: AnyRef](method: String, corpus: DataFrame)(train: => T): T =
    modelCache.computeIfAbsent(
      method + ":" + corpus.queryExecution.analyzed.semanticHash() +
        ":" + System.identityHashCode(corpus.sparkSession), _ => train).asInstanceOf[T]

  /** The ANN gates' shared query batch: the 10 lowest-id vectors. */
  private def q10(emb: DataFrame): DataFrame = emb.filter(col("vec_id") < 10)

  /** The exact brute-force top-k truth (query_id, neighbor_id) that every
    * unfiltered ANN recall gate compares against — one staged job instead of
    * a re-executed corpus-scan subtree per gate × branch (s4/s5/s7/s8/s9/
    * s10/s11 reference it 14× per full pass).
    */
  private def bruteTruth(s: SparkSession, dir: String): DataFrame =
    stagedShared("brute-truth", s, dir) {
      val emb = tbl(s, dir, "embeddings")
      Similarity.bruteForceKnn(emb, q10(emb), k = 5).select("query_id", "neighbor_id")
    }

  /** Scale factor parsed from the sf path segment (".../sf0.01" → 0.01;
    * last segment wins if several). Substring checks like
    * `dir.contains("0.1")` silently mis-sized on any path with those digits
    * elsewhere (a version segment like `v0.12`); the segment regex is shared
    * by every sizing decision — l1 fixture, m1/m2 asset counts, and
    * Verify's m1 replay — so a query and its oracle can never size
    * differently.
    */
  private val SfSeg = "(?:^|/)sf([0-9]+(?:\\.[0-9]+)?)(?=/|$)".r
  private[graft] def sfOfDir(dir: String): Option[Double] =
    SfSeg.findAllMatchIn(dir).map(_.group(1).toDouble).toSeq.lastOption

  /** Asset count for the m1/m2 multimodal queries (and Verify's m1 replay). */
  private[graft] def multimodalAssetCount(dir: String): Long = sfOfDir(dir) match {
    case Some(sf) if sf >= 0.1 => 5000L
    case Some(sf) if sf >= 0.01 => 2000L
    case _ => 500L
  }

  private val l1Gen = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  /** l1 fixture: a deterministic synthetic hive-style .log file
    * ([[graft.datagen.SyntheticLogs.writeLog]] content — multi-line events,
    * ERROR lines) sized per sf dir, generated once into /tmp via an atomic
    * move so concurrent processes can share it. Both the l1 query (split
    * path) and Verify's oracle staging (whole-file path) parse THIS file.
    */
  private[graft] def l1LogPath(dir: String): String = {
    val mb = sfOfDir(dir) match {
      case Some(sf) if sf >= 0.1 => 16
      case Some(sf) if sf >= 0.01 => 4
      case _ => 1
    }
    l1Gen.computeIfAbsent(mb, { _ =>
      val p = java.nio.file.Paths.get(s"/tmp/graft-l1-$mb.log")
      if (!java.nio.file.Files.exists(p)) {
        val tmp = java.nio.file.Paths.get(
          s"/tmp/graft-l1-$mb.log.tmp-${ProcessHandle.current().pid()}")
        graft.datagen.SyntheticLogs.writeLog(tmp, mb)
        java.nio.file.Files.move(tmp, p,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      p.toString
    })
  }

  /** The SHIPPED staged minhash/simhash pair plans — shared by the d3/d4
    * raw-pair queries, the d9/d10 recall gates, and the d11 end-to-end
    * pipeline query, so the gates grade exactly the plan users run. The
    * pair OUTPUT (a few hundred slim rows) is itself staged: the d3 plan
    * was otherwise re-executed by d9's hits branch and d11's cluster input
    * (3 full LSH pipelines per bench pass for one result), and d4's by d10.
    * The shipped plan still runs end to end — exactly once.
    */
  private def d3Pairs(s: SparkSession, dir: String): DataFrame =
    stagedShared("d3-pairs", s, dir) {
      Dedup.minhashPairs(docsWithDups(s, dir), threshold = 0.8,
        stagingDir = Some(graft.pipeline.Staging.tempDirDeletedOnExit("graft-d3-stage")))
    }

  private def d4Pairs(s: SparkSession, dir: String): DataFrame =
    stagedShared("d4-pairs", s, dir) {
      Dedup.simhashPairs(docsWithDups(s, dir), maxHamming = 3,
        stagingDir = Some(graft.pipeline.Staging.tempDirDeletedOnExit("graft-d4-stage")))
    }

  /** The d5/d8 shared n-gram Jaccard pair set: d8 clusters exactly the d5
    * pair output, but each row previously re-ran the full blocked all-pairs
    * job. Staged once (the first touching row pays), read twice.
    */
  private def d5Pairs(s: SparkSession, dir: String): DataFrame =
    stagedShared("d5-pairs", s, dir) {
      Dedup.ngramJaccardPairs(docsWithDups(s, dir), n = 3, threshold = 0.5)
    }

  /** The d9/d10/d11 truth set, computed ONCE per (sf dir, session) and
    * staged to parquet: three gates share one O(n²)-within-block truth job
    * instead of re-deriving it per query (measured ~5 s each at sf0.1).
    */
  private def truthPairs(s: SparkSession, dir: String): DataFrame =
    cachedStagedQuery("truth", s, dir) {
      val d = graft.pipeline.Staging.tempDirDeletedOnExit("graft-truth")
      Dedup.shingleJaccardPairs(docsWithDups(s, dir)).select("id_a", "id_b")
        .write.mode("overwrite").parquet(s"$d/truth")
      s.read.parquet(s"$d/truth")
    }

  /** The single staged copy of the bucketed vector table — the re-rank
    * side every ANN method shares. One corpus, ONE staged copy: the LSH,
    * IVF-PQ and two-level IVF-PQ builders each wrote their own identical
    * copy (3 corpus passes + 3 × 64-partition writes for one artifact).
    */
  private def vectorsDir(emb: DataFrame): String =
    cachedIndexDir("vectors", emb) { d =>
      Similarity.vectorTableBucketed(emb).write.partitionBy("id_bucket").parquet(s"$d/vectors")
    }

  private def stagedVectors(emb: DataFrame): DataFrame =
    emb.sparkSession.read.parquet(s"${vectorsDir(emb)}/vectors")

  /** LSH kNN through a parquet-staged index (build once per corpus →
    * persist → read → query), the driver-surface twin of Similarity's
    * build/query split: slim (bucket, id) rows plus ONE copy of the
    * vectors ([[vectorsDir]]), instead of nTables embedded copies.
    */
  private def stagedLshKnn(emb: DataFrame, q: DataFrame): DataFrame = {
    val dir = cachedIndexDir("lsh", emb) { d =>
      Similarity.lshIndex(emb, nBits = 4).write.parquet(s"$d/lsh")
    }
    val spark = emb.sparkSession
    Similarity.lshKnnIndexed(spark.read.parquet(s"$dir/lsh"),
      stagedVectors(emb), q, k = 5, nBits = 4)
  }

  /** Staged top-k result shared by a raw-kNN row and its recall gate (s2/s4,
    * s3/s5, s6/s7, s9/{s9,s11}): the first touching row runs the shipped
    * query plan end to end and stages the ≤ 50-row result; the gate grades
    * that exact output instead of re-executing the whole probe pipeline.
    */
  private def sharedKnn(name: String, s: SparkSession, dir: String)
                       (run: (DataFrame, DataFrame) => DataFrame): DataFrame =
    stagedShared(name, s, dir) {
      val emb = tbl(s, dir, "embeddings")
      run(emb, q10(emb))
    }

  /** IVF kNN through a parquet-staged index + centroid model (shared per
    * corpus like the LSH index). ONE staging recipe parameterized by the
    * trainer: s3 (driver Lloyd) and s8 (executor-side Lloyd) must stay the
    * SAME staged contract — index partitioned on cell (the probe join's
    * broadcast side dynamically prunes the scan to the nProbe cells
    * actually probed), centroid model beside it, k=5/nProbe=6 — or the
    * s3-vs-s8 comparison stops meaning "same index, different trainer".
    */
  private def ivfStagedDir(method: String, emb: DataFrame)
                          (train: DataFrame => Array[Array[Float]]): String =
    cachedIndexDir(method, emb) { d =>
      val cs = train(emb)
      Similarity.ivfIndex(emb, cs).write.partitionBy("cell").parquet(s"$d/ivf")
      Similarity.centroidsToDf(emb.sparkSession, cs).write.parquet(s"$d/centroids")
    }

  private def stagedIvfFrom(dir: String, spark: SparkSession, q: DataFrame): DataFrame =
    Similarity.ivfKnnIndexed(
      spark.read.parquet(s"$dir/ivf"),
      Similarity.centroidsFromDf(spark.read.parquet(s"$dir/centroids")),
      q, k = 5, nProbe = 6)

  private def ivfDir(emb: DataFrame): String =
    // model memoized: s6's IVF-PQ builder needs the SAME 16-cell centroids
    ivfStagedDir("ivf", emb)(e => cachedModel("ivftrain16", e)(Similarity.ivfTrain(e, nCells = 16)))

  private def stagedIvfKnn(emb: DataFrame, q: DataFrame): DataFrame =
    stagedIvfFrom(ivfDir(emb), emb.sparkSession, q)

  /** The centroid model of the staged IVF index the s3/s5 queries run
    * against — Verify's sequential replay oracle scores candidates with the
    * SAME model (the model is a dataset artifact; the replay pins the
    * distributed index build + probe + re-rank machinery around it).
    */
  private[graft] def ivfModel(s: SparkSession, dir: String): Array[Array[Float]] =
    Similarity.centroidsFromDf(
      s.read.parquet(s"${ivfDir(tbl(s, dir, "embeddings"))}/centroids"))

  /** IVF through the EXECUTOR-SIDE trainer (full-population distributed
    * Lloyd) — the s8 gate puts the scale trainer on the driver correctness
    * signal with the same staged contract as s3/s5 (shared recipe above).
    */
  private def stagedIvfDistKnn(emb: DataFrame, q: DataFrame): DataFrame =
    stagedIvfFrom(
      ivfStagedDir("ivfdist", emb)(Similarity.ivfTrainDistributed(_, nCells = 16)),
      emb.sparkSession, q)

  /** TWO-LEVEL IVF through its staged contract (super-partitioned index +
    * parquet model) — the s9 gate drives the hierarchical router end to
    * end. Operating point: the validation corpus is near-random (no cluster
    * structure for the router to exploit — supers are arbitrary Voronoi
    * cuts), so it probes 3 of 4 supers to stay at the flat path's
    * cell-miss-bounded recall; the regime the hierarchy EXISTS for (cells ≈
    * clusters, nSuper ≫ probed supers) was measured at 65,536 cells by a
    * 1 M-vector scale smoke since removed (BENCH/BASELINE.md keeps its
    * numbers).
    */
  /** The two-level model on the full corpus — memoized: s9's index builder
    * and s10's IVF-PQ composition train the IDENTICAL model (same corpus,
    * same params); the second distributed-Lloyd run per process was waste.
    */
  private def twoLevelModel(emb: DataFrame): Similarity.IvfTwoLevel =
    cachedModel("ivf2ltrain-16-4", emb)(Similarity.ivfTrainTwoLevel(emb, nCells = 16, nSuper = 4))

  private def ivf2lDir(emb: DataFrame): String =
    cachedIndexDir("ivf2l", emb) { d =>
      val m = twoLevelModel(emb)
      Similarity.ivfIndexTwoLevel(emb, m).write.partitionBy("super").parquet(s"$d/ivf")
      Similarity.twoLevelToDf(emb.sparkSession, m).write.parquet(s"$d/model")
    }

  private def stagedIvfTwoLevelKnn(emb: DataFrame, q: DataFrame): DataFrame = {
    val dir = ivf2lDir(emb)
    Similarity.ivfKnnTwoLevelIndexed(
      emb.sparkSession.read.parquet(s"$dir/ivf"),
      Similarity.twoLevelFromDf(emb.sparkSession.read.parquet(s"$dir/model")),
      q, k = 5, nProbe = 6, nProbeSuper = 3)
  }

  /** The two-level model of the staged s9 index — the s12 replay oracle
    * routes with the SAME model (same contract as [[ivfModel]]).
    */
  private[graft] def ivfTwoLevelModel(s: SparkSession, dir: String): Similarity.IvfTwoLevel =
    Similarity.twoLevelFromDf(
      s.read.parquet(s"${ivf2lDir(tbl(s, dir, "embeddings"))}/model"))

  /** FILTERED ANN through s9's staged two-level index: the metadata
    * predicate (label < 5 — the attribute is read from the corpus table
    * and filtered with an ordinary PUSHED-DOWN comparison, standing in for
    * the source/license/date attribute join of a real training-data
    * retrieval; PlanSpec asserts it lands in the parquet scan's
    * PushedFilters) lands as a left-semi join on the candidate stream
    * before any cosine is evaluated. Same operating point as s9.
    */
  private def stagedIvfTwoLevelFilteredKnn(emb: DataFrame, q: DataFrame): DataFrame = {
    val dir = ivf2lDir(emb)
    val allowed = emb.filter(col("label") < 5).select(col("vec_id").as("id"))
    Similarity.ivfKnnTwoLevelFilteredIndexed(
      emb.sparkSession.read.parquet(s"$dir/ivf"),
      Similarity.twoLevelFromDf(emb.sparkSession.read.parquet(s"$dir/model")),
      q, Some(allowed), k = 5, nProbe = 6, nProbeSuper = 3)
  }

  /** INCREMENTAL APPEND lifecycle (s11): the index a daily-growing corpus
    * actually runs — train/build on the BASE 90% (vec_id % 10 != 0), then
    * route the 10% delta through the FROZEN parquet-round-tripped model and
    * `.mode("append")` it into the same super-partitioned layout. No
    * retrain, no rebuild; readers see the union via partition pruning.
    */
  private def ivf2lAppendDir(emb: DataFrame): String =
    cachedIndexDir("ivf2l-append", emb) { d =>
      val base = emb.filter(col("vec_id") % 10 =!= 0)
      val m = Similarity.ivfTrainTwoLevel(base, nCells = 16, nSuper = 4)
      Similarity.ivfIndexTwoLevel(base, m).write.partitionBy("super").parquet(s"$d/ivf")
      Similarity.twoLevelToDf(emb.sparkSession, m).write.parquet(s"$d/model")
      val mFrozen = Similarity.twoLevelFromDf(emb.sparkSession.read.parquet(s"$d/model"))
      Similarity.ivfIndexTwoLevel(emb.filter(col("vec_id") % 10 === 0), mFrozen)
        .write.mode("append").partitionBy("super").parquet(s"$d/ivf")
    }

  private def stagedIvfTwoLevelAppendKnn(emb: DataFrame, q: DataFrame): DataFrame = {
    val dir = ivf2lAppendDir(emb)
    Similarity.ivfKnnTwoLevelIndexed(
      emb.sparkSession.read.parquet(s"$dir/ivf"),
      Similarity.twoLevelFromDf(emb.sparkSession.read.parquet(s"$dir/model")),
      q, k = 5, nProbe = 6, nProbeSuper = 3)
  }

  /** s11 gate row: (n_queries, recall_pass, staleness_pass). recall_pass =
    * the appended index still clears the s9 recall bar on the GROWN corpus
    * (delta vectors must be findable — an append that drops or misroutes
    * them fails here). staleness_pass = appended-index recall is within
    * `staleMargin` of a FRESH full-corpus retrain at the same operating
    * point (s9's staged index) — the measurable signal that decides when
    * assign-only appends must give way to a retrain. Both thresholds are
    * integer-count rationals (deterministic), pinned true by the oracle.
    */
  private def annAppendGate(s: SparkSession, dir: String, minRecall: Double,
                            staleMargin: Double): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    // truth and the fresh-retrain side are the SAME staged frames the other
    // gates use (s9's sharedKnn result IS the fresh two-level index's
    // answer); only the appended-index probe runs here
    val brute = bruteTruth(s, dir)
    val stats = brute.agg(countDistinct("query_id").as("n_queries"), count(lit(1)).as("total"))
    def hits(df: DataFrame, as: String): DataFrame =
      df.select("query_id", "neighbor_id")
        .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as(as))
    stats
      .crossJoin(hits(stagedIvfTwoLevelAppendKnn(emb, q10(emb)), "hits_app"))
      .crossJoin(hits(sharedKnn("knn-ivf2l", s, dir)(stagedIvfTwoLevelKnn), "hits_fresh"))
      .select(col("n_queries"),
        when(col("total") === 0L, lit(true))
          .otherwise(col("hits_app").cast("double") / col("total") >= minRecall)
          .as("recall_pass"),
        when(col("total") === 0L, lit(true))
          .otherwise(col("hits_app").cast("double") / col("total") >=
            col("hits_fresh").cast("double") / col("total") - staleMargin)
          .as("staleness_pass"))
  }

  /** The COMPOSED scale layout — two-level router over PQ codes — through
    * its staged contract: super-partitioned compressed index, parquet
    * model + codebooks, bucketed vector table for the exact re-rank. Same
    * operating point as s7 (nSub=16, rerank=40) plus s9's routing.
    */
  private def ivfPq2lDir(emb: DataFrame): String =
    cachedIndexDir("ivfpq2l", emb) { d =>
      val m = twoLevelModel(emb) // memoized — identical to s9's model
      val pq = Similarity.pqTrainTwoLevel(emb, m, nSub = 16, k = 16)
      Similarity.ivfPqIndexTwoLevel(emb, m, pq).write.partitionBy("super").parquet(s"$d/ivfpq")
      Similarity.twoLevelToDf(emb.sparkSession, m).write.parquet(s"$d/model")
      Similarity.pqModelToDf(emb.sparkSession, pq).write.parquet(s"$d/pqmodel")
    }

  private def stagedIvfPqTwoLevelKnn(emb: DataFrame, q: DataFrame,
                                     allowed: Option[DataFrame] = None): DataFrame = {
    val dir = ivfPq2lDir(emb)
    val spark = emb.sparkSession
    Similarity.ivfPqKnnTwoLevelFilteredIndexed(
      spark.read.parquet(s"$dir/ivfpq"),
      Similarity.twoLevelFromDf(spark.read.parquet(s"$dir/model")),
      Similarity.pqModelFromDf(spark.read.parquet(s"$dir/pqmodel")),
      stagedVectors(emb),
      q, allowed, k = 5, nProbe = 6, nProbeSuper = 3, rerank = 40)
  }

  /** s13 gate row: filtered ANN on the COMPRESSED serving path —
    * (n_queries, recall_pass, no_leak). Truth = exact brute force over the
    * predicate-admitted corpus; no_leak pins that no disallowed vector
    * survives to the result (pre-filtering guarantees it by construction —
    * this row keeps the guarantee on the driver's hard signal).
    */
  private def annFilteredPqRecall(s: SparkSession, dir: String, minRecall: Double): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val allowed = emb.filter(col("label") < 5).select(col("vec_id").as("id"))
    // approx feeds two branches (hits + leaks), brute two (stats + hits);
    // the duplicated-subtree LAZY shape is a measured keep (round 7):
    // staging both sides (like annRecall's shared truth) was benched twice
    // and lost both times (2.00 s lazy vs 2.20/2.60 s staged) — these
    // frames are used by ONE gate row only, so staging serializes two write
    // jobs where the lazy branches execute concurrently inside one job.
    // annRecall's truth is different: it amortizes over SEVEN gates.
    val approx = stagedIvfPqTwoLevelKnn(emb, q10(emb), Some(allowed))
      .select("query_id", "neighbor_id")
    val brute = Similarity.bruteForceKnn(emb.filter(col("label") < 5), q10(emb), k = 5)
      .select("query_id", "neighbor_id")
    val stats = brute.agg(countDistinct("query_id").as("n_queries"), count(lit(1)).as("total"))
    val hits = approx.join(brute, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val leaks = approx.join(allowed, col("neighbor_id") === col("id"), "left_anti")
      .agg(count(lit(1)).as("leaks"))
    stats.crossJoin(hits).crossJoin(leaks)
      .select(col("n_queries"),
        when(col("total") === 0L, lit(true))
          .otherwise(col("hits").cast("double") / col("total") >= minRecall)
          .as("recall_pass"),
        (col("leaks") === 0L).as("no_leak"))
  }

  /** IVF-PQ kNN through a parquet-staged compressed index: coarse centroids
    * + per-subspace codebooks + (cell, id, codes, norm) rows + the
    * single-copy vector table for the exact re-rank. The scan side of a
    * query batch reads nSub+4 = 20 B/vector at this builder's nSub=16
    * (vs 260 B raw), cell-partitioned so the probe join dynamically prunes
    * the scan to the probed cells — the layout a 100 TB vector corpus
    * actually serves batches from.
    */
  private def ivfPqDir(emb: DataFrame): String =
    cachedIndexDir("ivfpq", emb) { d =>
      val cs = cachedModel("ivftrain16", emb)(Similarity.ivfTrain(emb, nCells = 16))
      val pq = Similarity.pqTrain(emb, cs, nSub = 16, k = 16)
      Similarity.ivfPqIndex(emb, cs, pq).write.partitionBy("cell").parquet(s"$d/ivfpq")
      Similarity.centroidsToDf(emb.sparkSession, cs).write.parquet(s"$d/centroids")
      Similarity.pqModelToDf(emb.sparkSession, pq).write.parquet(s"$d/pqmodel")
    }

  /** Coarse + PQ models of the staged IVF-PQ index s6/s7 query — same
    * replay-oracle contract as [[ivfModel]].
    */
  private[graft] def ivfPqModel(s: SparkSession, dir: String)
      : (Array[Array[Float]], Similarity.PqModel) = {
    val d = ivfPqDir(tbl(s, dir, "embeddings"))
    (Similarity.centroidsFromDf(s.read.parquet(s"$d/centroids")),
      Similarity.pqModelFromDf(s.read.parquet(s"$d/pqmodel")))
  }

  private def stagedIvfPqKnn(emb: DataFrame, q: DataFrame): DataFrame = {
    val dir = ivfPqDir(emb)
    val spark = emb.sparkSession
    Similarity.ivfPqKnnIndexed(
      spark.read.parquet(s"$dir/ivfpq"),
      Similarity.centroidsFromDf(spark.read.parquet(s"$dir/centroids")),
      Similarity.pqModelFromDf(spark.read.parquet(s"$dir/pqmodel")),
      stagedVectors(emb),
      // nSub=16 / rerank=40: the validation corpus is near-random vectors
      // (weak neighbor structure), so ADC needs fine subspaces and a wide
      // cut to reach the cell-miss-bounded ~0.72 recall raw IVF gets at the
      // same nProbe (measured at sf0.01 AND sf0.1); 200 exact re-ranks per
      // query is still negligible vs any corpus scan
      q, k = 5, nProbe = 6, rerank = 40)
  }

  /** Mean recall of an ANN method vs the exact brute-force top-k, reported
    * as a driver-checkable single row: (n_queries, recall_pass). The brute
    * side is the independently-tested exact operator; DuckDB re-derives
    * n_queries and pins recall_pass = true.
    *
    * Both sides arrive STAGED ([[bruteTruth]] / [[sharedKnn]]): the gates
    * reference their brute/approx frames from several aggregation branches,
    * and round 6's lazy duplicated-subtree shape re-executed the full
    * corpus-scan subtrees per branch per gate — 14 brute-force runs and a
    * re-run probe pipeline per raw-kNN/gate pair across the seven unfiltered
    * gates. (Round 6 had measured staging as a LOSS at ~0.13 s/gate, but
    * that compared per-gate materialization; one truth set amortized over
    * seven gates reverses the sign.) The gate plan itself is now a few
    * joins over ≤ 50-row parquet frames.
    */
  private def annRecall(s: SparkSession, dir: String, approx: DataFrame,
                        minRecall: Double): DataFrame = {
    val brute = bruteTruth(s, dir)
    val stats = brute.agg(countDistinct("query_id").as("n_queries"), count(lit(1)).as("total"))
    val hits = approx.select("query_id", "neighbor_id")
      .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    stats.crossJoin(hits)
      .select(col("n_queries"),
        // vacuous truth on an empty brute set (hits/0 would be NULL)
        when(col("total") === 0L, lit(true))
          .otherwise(col("hits").cast("double") / col("total") >= minRecall)
          .as("recall_pass"))
  }

  /** Flagship query on sf=0.001: full parse→enrich→route aggregation over
    * the synthetic transcript table; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    Route.counts(enrichedTranscripts(spark, "/root/testdata/sf0.001"))
      .orderBy("category")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational engine surface (Catalyst built-ins) ----
    "q1_agg" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").cast("bigint").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_sort_limit" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),
    "q3_join_agg" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")
    }),
    "q4_multijoin" -> ((s, dir) => {
      // dims broadcast explicitly: nation/region must never shuffle-join
      tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("r_name", "n_name")
    }),
    "q5_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      tbl(s, dir, "orders")
        .filter(col("o_custkey") < 500)
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          round(sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_spend"))
        .orderBy("o_custkey", "rn")
    }),
    "q6_filter_agg" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
                col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
                col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
             count(lit(1)).as("n_rows"))
    }),
    "q7_semi" -> ((s, dir) => {
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_active"))
        .orderBy("c_mktsegment")
    }),
    "q8_anti" -> ((s, dir) => {
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_inactive"))
        .orderBy("c_mktsegment")
    }),
    "q9_setop" -> ((s, dir) => {
      tbl(s, dir, "lineitem").select(col("l_partkey").as("k"))
        .intersect(tbl(s, dir, "part").filter(col("p_size") > 40).select(col("p_partkey").as("k")))
        .agg(count(lit(1)).as("n"))
    }),
    // distinct aggregate: Catalyst expands this into an Expand + two-level
    // aggregate (partial distinct per group) — the remaining relational
    // physical-operator family the surface didn't yet exercise
    "q18_count_distinct" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_suppkey").as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),
    // sketch-based distinct: HyperLogLog++ with a pinned relative-error
    // gate — at 100 TB an exact distinct shuffles every key while the
    // sketch is O(1) memory per partition and merges map-side; the gate
    // pins the sketch within 5% of the exact count (rsd configured 2%),
    // and the exact side doubles as the DuckDB-checkable anchor
    "q19_approx_distinct" -> ((s, dir) => {
      tbl(s, dir, "events")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
        .select(col("n_exact"),
          // vacuous truth on an empty table (n_approx/0 would be NULL) —
          // the same guard the recall gates apply to hits/0
          when(col("n_exact") === 0L, lit(true))
            .otherwise(abs(col("n_approx").cast("double") / col("n_exact") - 1.0) <= 0.05)
            .as("err_pass"))
    }),
    "q16_except" -> ((s, dir) => {
      tbl(s, dir, "lineitem").select(col("l_partkey").as("k"))
        .except(tbl(s, dir, "part").filter(col("p_size") > 40).select(col("p_partkey").as("k")))
        .agg(count(lit(1)).as("n"))
    }),
    "q17_union_distinct" -> ((s, dir) => {
      tbl(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("k"))
        .union(tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k")))
        .distinct()
        .agg(count(lit(1)).as("n"))
    }),
    "q10_events_hourly" -> ((s, dir) => {
      tbl(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type", "hour")
    }),
    "q11_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      tbl(s, dir, "events")
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum("is_new").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id").agg(count(lit(1)).as("session_len"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), max("session_len").as("max_len"))
        .orderBy("user_id")
    }),
    "q12_json_extract" -> ((s, dir) => {
      tbl(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
        .orderBy("event_type")
    }),
    "q15_corr_subquery" -> ((s, dir) => {
      // correlated scalar subquery — Catalyst decorrelates it into an
      // aggregate + join; DuckDB runs the identical SQL
      tbl(s, dir, "orders").createOrReplaceTempView("v_orders")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_above_avg
          |FROM v_orders o
          |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM v_orders o2
          |                      WHERE o2.o_custkey = o.o_custkey)
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    }),
    "q14_percentile" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 2).as("p50"),
          round(expr("percentile(l_extendedprice, 0.95)"), 2).as("p95"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),
    // sketch-based quantiles: approx_percentile (Greenwald-Khanna style
    // summary) with a pinned relative-error gate vs the exact percentile —
    // q19's shape applied to the OTHER heavy aggregate family. At 100 TB
    // exact percentile holds a per-group value buffer; the sketch is
    // bounded memory per partition and merges map-side. The exact side
    // doubles as the DuckDB-checkable anchor (quantile_cont).
    "q20_approx_percentile" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ex"),
          expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)").as("ap"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"),
          round(col("ex")(0), 2).as("p50_exact"),
          round(col("ex")(1), 2).as("p95_exact"),
          col("n_rows"),
          // vacuous truth when the exact quantile is 0 (ap/0 would be NULL)
          when(col("ex")(0) === 0.0d, lit(true))
            .otherwise(abs(col("ap")(0) / col("ex")(0) - 1.0) <= 0.01 &&
              abs(col("ap")(1) / col("ex")(1) - 1.0) <= 0.01)
            .as("err_pass"))
        .orderBy("l_returnflag")
    }),
    // sketch-based frequency: count-min heavy hitters with a pinned error
    // gate vs the exact counts — the third sketch family (distinct q19,
    // quantile q20, frequency q21). At 100 TB the exact per-key counts of
    // the heavy tail need a full groupBy shuffle; the CMS is fixed-size
    // (width ≈ e/eps counters × depth rows), merges map-side, and never
    // undercounts, so "est in [exact, 1.05·exact]" is a sound gate. eps is
    // sized so ε·N sits far below the heavy hitters' counts (the standard
    // CMS sizing rule); seed fixed for determinism.
    "q21_heavy_hitters" -> ((s, dir) =>
      cachedStagedQuery("q21", s, dir) {
        val ev = tbl(s, dir, "events")
        val top = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("user_id")).limit(10)
          .collect() // bounded: exactly the 10 heavy hitters
        val cms = ev.stat.countMinSketch(col("user_id"), eps = 2e-5,
          confidence = 0.99, seed = 42)
        import s.implicits._
        top.toSeq.map { r =>
          val (uid, n) = (r.getLong(0), r.getLong(1))
          (uid, n, cms.estimateCount(uid))
        }.toDF("user_id", "n_exact", "n_est")
          .select(col("user_id"), col("n_exact"),
            (col("n_est") >= col("n_exact") &&
              col("n_est").cast("double") / col("n_exact") <= 1.05).as("err_pass"))
      }.orderBy(col("n_exact").desc, col("user_id"))),
    "q13_rollup" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").cast("bigint").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // ---- deduplication (training-data ops) ----
    "d1_exact_dedup" -> ((s, dir) =>
      Dedup.exact(docsWithDups(s, dir)).orderBy("keep_id")),
    "d2_norm_dedup" -> ((s, dir) =>
      Dedup.normalized(docsWithDups(s, dir)).orderBy("keep_id")),
    // staged collapse: the exact-collapse feeds four plan branches; lazy it
    // is recomputed per branch (measured 7+ corpus scans, 1.6× slower at
    // 301k docs). The staged frame is memoized per (query, sfDir, session)
    // like the ANN indexes — re-building the query in a loop (repeated
    // bench/verify runs in one process) reuses one staging dir instead of
    // accumulating a dir + eager write job per invocation.
    "d3_minhash_pairs" -> ((s, dir) => d3Pairs(s, dir).orderBy("id_a", "id_b")),
    // staged signatures, same rationale (and lifecycle) as d3's collapse
    "d4_simhash_pairs" -> ((s, dir) => d4Pairs(s, dir).orderBy("id_a", "id_b")),
    // hard recall gates for the two LSH dedup paths: truth = exact char-5-
    // shingle Jaccard >= 0.8 pairs (source-blocked; DuckDB recomputes the
    // count from the text), approx = the SAME staged plans d3/d4 ship.
    // Measured recall: minhash 1.0 at sf0.01 and sf0.1 (16 bands x 8 rows
    // at j>=0.8); simhash ~0.79 at both — hamming<=3 over 64-bit word-hash
    // signatures is a coarser sieve than character-shingle Jaccard, so its
    // bound is lower and the gate documents the operating point rather than
    // pretending parity.
    "d9_minhash_recall" -> ((s, dir) =>
      dedupRecall(s, dir, d3Pairs(s, dir), minRecall = 0.95)),
    "d10_simhash_recall" -> ((s, dir) =>
      dedupRecall(s, dir, d4Pairs(s, dir), minRecall = 0.7)),
    // the end-to-end scale dedup pipeline as ONE registered query:
    // exact-collapse -> minhash LSH -> exact-Jaccard verify -> pair
    // expansion -> GraphX connected components -> keep/drop clusters. Gate:
    // every truth pair must land in one cluster (cluster recall >= pair
    // recall, so the 0.95 bound d9 meets transfers).
    "d11_dedup_pipeline" -> ((s, dir) => {
      val cl = Dedup.clusters(d3Pairs(s, dir))
      val truth = truthPairs(s, dir)
      truth
        .join(cl.select(col("doc_id").as("id_a"), col("rep_id").as("rep_a")), Seq("id_a"), "left")
        .join(cl.select(col("doc_id").as("id_b"), col("rep_id").as("rep_b")), Seq("id_b"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("rep_a").isNotNull && col("rep_a") === col("rep_b"), 1L)
            .otherwise(0L)).as("same"))
        .crossJoin(truthCapFlag(s, dir))
        .select(col("n_true").as("n_true_pairs"),
          when(col("n_true") === 0L, lit(true))
            .otherwise(col("same").cast("double") / col("n_true") >= 0.95)
            .as("cluster_recall_pass"),
          col("truth_capped"))
    }),
    "d5_ngram_jaccard" -> ((s, dir) => d5Pairs(s, dir).orderBy("id_a", "id_b")),
    // near-dup pairs → canonical keep/drop clusters (connected components;
    // rep = min doc_id). Runs over the d5 pair set because that pair source
    // is itself DuckDB-reproducible, so the oracle can rebuild the same
    // graph and close it transitively with a recursive CTE. The pair set is
    // the STAGED d5 output — one all-pairs job shared by both rows.
    "d8_dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(d5Pairs(s, dir)).orderBy("doc_id")),
    // embedding-cosine near-dup: d6 is the exact blocked baseline (full
    // DuckDB oracle), d7 gates the LSH scale path's recall against it.
    // d6 is O(n²) BY DESIGN (it is the labeled oracle twin, not a scale
    // path — d7/embeddingNearDupPairs is); capped at validation scale so a
    // future larger sf dir can't turn the oracle into the bottleneck.
    // No-op at every current sf (max 2000 vectors); mirrored in the oracle.
    "d6_embedding_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDupBrute(
        tbl(s, dir, "embeddings").filter(col("vec_id") < 2000), threshold = 0.3)
        .orderBy("id_a", "id_b")),
    "d7_embedding_lsh_recall" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      // the O(n²) exact truth feeds two aggregation branches (n_true +
      // hits); staged once so the full-corpus cross join runs once
      val truth = stagedShared("d7-truth", s, dir) {
        Dedup.embeddingNearDupBrute(emb, threshold = 0.3).select("id_a", "id_b")
      }
      val approx = Dedup.embeddingNearDupPairs(emb, threshold = 0.3, nBits = 3, nTables = 12)
        .select("id_a", "id_b")
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val hits = approx.join(truth, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      nTrue.crossJoin(hits).select(col("n_true").as("n_true_pairs"),
        when(col("n_true") === 0L, lit(true))
          .otherwise(col("hits").cast("double") / col("n_true") >= 0.8)
          .as("recall_pass"))
    }),

    // ---- similarity search ----
    "s1_knn_brute" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rank")
    }),
    // s2/s3 run the build-once/query-many contract END TO END: the index is
    // built, persisted to parquet, read back, and queried — the shape a
    // 100 TB corpus demands (identical results to the one-shot plan, proven
    // by the OperatorsSpec round-trip equality test)
    "s2_knn_lsh" -> ((s, dir) => {
      sharedKnn("knn-lsh", s, dir)(stagedLshKnn).orderBy("query_id", "rank")
    }),
    "s3_knn_ivf" -> ((s, dir) => {
      sharedKnn("knn-ivf", s, dir)(stagedIvfKnn).orderBy("query_id", "rank")
    }),
    // recall gates: ANN quality asserted as a driver-checkable result — the
    // oracle pins n_queries (recomputed by DuckDB) and recall_pass=true;
    // the approximate side queries the SAME staged index as s2/s3
    "s4_lsh_recall" -> ((s, dir) =>
      annRecall(s, dir, sharedKnn("knn-lsh", s, dir)(stagedLshKnn), minRecall = 0.6)),
    "s5_ivf_recall" -> ((s, dir) =>
      annRecall(s, dir, sharedKnn("knn-ivf", s, dir)(stagedIvfKnn), minRecall = 0.6)),
    // s8: the executor-side (distributed Lloyd) trainer behind the same
    // staged IVF contract and recall gate — the trainer a 10⁴–10⁵-cell
    // 100 TB index needs, graded on the driver signal like s5
    "s8_ivf_dist_recall" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annRecall(s, dir, stagedIvfDistKnn(emb, q10(emb)), minRecall = 0.6)
    }),
    // s9: the two-level (hierarchical) coarse quantizer — the 10⁴–10⁵-cell
    // assignment/probe path — behind the same staged contract + recall gate
    "s9_ivf_twolevel_recall" -> ((s, dir) =>
      annRecall(s, dir, sharedKnn("knn-ivf2l", s, dir)(stagedIvfTwoLevelKnn), minRecall = 0.6)),
    // s10: router + compressed codes composed (two-level IVF-PQ) — the
    // full 100 TB serving layout, gated like s7/s9
    "s10_ivfpq_twolevel_recall" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annRecall(s, dir, stagedIvfPqTwoLevelKnn(emb, q10(emb)), minRecall = 0.6)
    }),
    // s11: the incremental-append lifecycle — base-trained frozen model,
    // delta appended assign-only, recall + staleness-vs-fresh-retrain gated
    "s11_ivf_append_recall" -> ((s, dir) =>
      annAppendGate(s, dir, minRecall = 0.6, staleMargin = 0.1)),
    // s12: filtered ANN — metadata predicate composed with the staged
    // two-level probe BEFORE scoring; full top-k rows, replay-pinned
    "s12_knn_filtered" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      stagedIvfTwoLevelFilteredKnn(emb, emb.filter(col("vec_id") < 10))
        .orderBy("query_id", "rank")
    }),
    // s13: the same predicate composition on the COMPRESSED (IVF-PQ
    // two-level) serving path — the semi-join cuts code rows before the
    // ADC scan; recall gated vs brute over the admitted corpus + no-leak
    "s13_ivfpq_filtered_recall" -> ((s, dir) =>
      annFilteredPqRecall(s, dir, minRecall = 0.6)),
    // s6/s7: the product-quantized IVF path (compressed codes scanned, raw
    // vectors touched only by the bounded exact re-rank) through the same
    // staged-parquet contract and recall gate as s2-s5
    "s6_knn_ivfpq" -> ((s, dir) => {
      sharedKnn("knn-ivfpq", s, dir)(stagedIvfPqKnn).orderBy("query_id", "rank")
    }),
    "s7_ivfpq_recall" -> ((s, dir) =>
      annRecall(s, dir, sharedKnn("knn-ivfpq", s, dir)(stagedIvfPqKnn), minRecall = 0.6)),

    // ---- text analysis ----
    "t1_quality" -> ((s, dir) =>
      TextAnalysis.quality(tbl(s, dir, "documents")).orderBy("doc_id")),
    "t2_tokencounts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(tbl(s, dir, "documents")).orderBy("doc_id")),
    "t3_langid" -> ((s, dir) =>
      TextAnalysis.langId(tbl(s, dir, "documents")).orderBy("doc_id")),
    "t4_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(tbl(s, dir, "documents")).orderBy("doc_id")),
    "t5_char_entropy" -> ((s, dir) =>
      TextAnalysis.charEntropy(tbl(s, dir, "documents")).orderBy("doc_id")),
    // the corpus has no PII, so every 9th doc gets a deterministic email +
    // URL appended — the oracle reproduces the same injection in SQL
    "t6_redact" -> ((s, dir) =>
      TextAnalysis.redact(
        tbl(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 9 === 0,
            concat(col("text"), lit(" contact bob@example.com via https://ex.org/x?id=1")))
            .otherwise(col("text"))))
        .orderBy("doc_id")),

    // ---- multimodal (real ImageIO decode for images, real WAV decode for
    //      audio; video stubbed — see operators/Multimodal) ----
    // m1/m2 regenerate independently — staging the generated assets once
    // for both rows was benched twice and lost both times (m-group 2.49 s
    // lazy vs 2.62/3.19 s staged): the binary-content parquet write costs
    // more than the second generation pass it saves
    "m1_multimodal_features" -> ((s, dir) => {
      val n = multimodalAssetCount(dir)
      Multimodal.featureStats(Multimodal.extractFeatures(Multimodal.generateAssets(s, n)))
        .orderBy("media_type")
    }),
    "m2_multimodal_verify" -> ((s, dir) => {
      val n = multimodalAssetCount(dir)
      Multimodal.decodeVerify(Multimodal.generateAssets(s, n)).orderBy("media_type")
    }),

    // ---- raw .log source (R1's within-file split path, driver-checked) ----
    // the PERSISTED chunk-index contract end to end: chunkIndex -> parquet
    // -> read back -> eventsFromIndex, on a file spanning many chunks. The
    // oracle reads the WHOLETEXT events() output Verify staged from the
    // same file — split-path ≡ whole-path including global event indices,
    // line numbers and exact text bytes (crc).
    "l1_log_events" -> ((s, dir) =>
      cachedStagedQuery("l1", s, dir) {
        import s.implicits._
        val bank = graft.pipeline.Parse.broadcastBank(s, PatternBank.example)
        val d = graft.pipeline.Staging.tempDirDeletedOnExit("graft-l1-index")
        graft.sources.LogFiles.chunkIndex(s, l1LogPath(dir), bank, chunkBytes = 256L << 10)
          .write.mode("overwrite").parquet(s"$d/chunks")
        val idx = s.read.parquet(s"$d/chunks").as[graft.sources.LogFiles.ChunkMeta]
        graft.sources.LogFiles.eventStats(graft.sources.LogFiles.eventsFromIndex(s, idx, bank))
      }.orderBy("event_idx")),

    // ---- transcript pipeline (the north-rule surface; oracles live in the
    //      ScalaTest suites — naive per-row recompute + exceptAll) ----
    "p1_route_counts" -> ((s, dir) =>
      Route.counts(enrichedTranscripts(s, dir)).orderBy("category")),
    "p2_token_stats" -> ((s, dir) => {
      enrichedTranscripts(s, dir)
        .select(explode(col("tokens")).as("tok"))
        .groupBy(col("tok.token_type").as("token_type"), col("tok.schema_id").as("schema_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy("token_type", "schema_id")
    }),
    "p3_per_tool" -> ((s, dir) =>
      Aggregate.perTool(enrichedTranscripts(s, dir)).orderBy("tool")),
    "p4_conv_stats" -> ((s, dir) =>
      Aggregate.perConversation(enrichedTranscripts(s, dir))
        .orderBy(col("n_turns").desc, col("conv_id")).limit(50)),
    // CLP-style log templates: error lines grouped by their variable-erased
    // signature — the "what keeps going wrong" query of a log pipeline
    "p5_error_signatures" -> ((s, dir) =>
      enrichedTranscripts(s, dir)
        .filter(col("error_signature").isNotNull)
        .groupBy("error_signature")
        .agg(count(lit(1)).as("n_turns"), sum("n_errors").as("n_errors"))
        .orderBy(col("n_turns").desc, col("error_signature")))
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |CAST(round(sum(l_extendedprice),2) AS DOUBLE) AS sum_base,
        |CAST(round(sum(l_extendedprice*(1-l_discount)),2) AS DOUBLE) AS sum_disc,
        |count(*) AS n_rows FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q2_sort_limit" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q3_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders, CAST(round(sum(o_totalprice),2) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey=c_custkey GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_multijoin" ->
      """SELECT r_name, n_name, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey=c_custkey
        |JOIN nation ON c_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q5_window" ->
      """SELECT o_custkey, o_orderkey,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |CAST(round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS DOUBLE) AS running_spend
        |FROM orders WHERE o_custkey < 500 ORDER BY o_custkey, rn""".stripMargin,
    "q6_filter_agg" ->
      """SELECT CAST(round(sum(l_extendedprice*l_discount),2) AS DOUBLE) AS revenue, count(*) AS n_rows
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q7_semi" ->
      """SELECT c_mktsegment, count(*) AS n_active FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q8_anti" ->
      """SELECT c_mktsegment, count(*) AS n_inactive FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority='1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_setop" ->
      """SELECT count(*) AS n FROM
        |((SELECT l_partkey FROM lineitem) INTERSECT (SELECT p_partkey FROM part WHERE p_size > 40))""".stripMargin,
    "q18_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_approx_distinct" ->
      "SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, true AS err_pass FROM events",
    "q16_except" ->
      """SELECT count(*) AS n FROM
        |((SELECT l_partkey FROM lineitem) EXCEPT (SELECT p_partkey FROM part WHERE p_size > 40))""".stripMargin,
    "q17_union_distinct" ->
      """SELECT count(*) AS n FROM
        |((SELECT o_custkey FROM orders WHERE o_orderpriority='1-URGENT')
        | UNION (SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING'))""".stripMargin,
    "q10_events_hourly" ->
      """SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
        |CAST(round(sum(value),4) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q11_sessionize" ->
      """SELECT user_id, count(*) AS n_sessions, max(session_len) AS max_len FROM (
        |  SELECT user_id, session_id, count(*) AS session_len FROM (
        |    SELECT user_id,
        |      sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |    FROM (
        |      SELECT user_id, ts, event_id,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |          OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
        |        THEN 1 ELSE 0 END AS is_new FROM events))
        |  GROUP BY 1,2) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_corr_subquery" ->
      """SELECT o_orderpriority, count(*) AS n_above_avg
        |FROM orders o
        |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_percentile" ->
      """SELECT l_returnflag, CAST(round(quantile_cont(l_extendedprice, 0.5), 2) AS DOUBLE) AS p50,
        |CAST(round(quantile_cont(l_extendedprice, 0.95), 2) AS DOUBLE) AS p95, count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_heavy_hitters" ->
      """SELECT user_id, n_exact, true AS err_pass FROM (
        |  SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1
        |  ORDER BY n_exact DESC, user_id LIMIT 10)
        |ORDER BY n_exact DESC, user_id""".stripMargin,
    "q20_approx_percentile" ->
      """SELECT l_returnflag, CAST(round(quantile_cont(l_extendedprice, 0.5), 2) AS DOUBLE) AS p50_exact,
        |CAST(round(quantile_cont(l_extendedprice, 0.95), 2) AS DOUBLE) AS p95_exact,
        |count(*) AS n_rows, true AS err_pass
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "d1_exact_dedup" ->
      s"""WITH docs AS ($DocsWithDupsSql)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM docs
        |GROUP BY text HAVING count(*)>1 ORDER BY keep_id""".stripMargin,
    "d2_norm_dedup" ->
      s"""WITH docs AS ($DocsWithDupsSql)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM docs
        |GROUP BY lower(regexp_replace(trim(text),'\\s+',' ','g')) HAVING count(*)>1 ORDER BY keep_id""".stripMargin,
    "s1_knn_brute" ->
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.embedding, CAST(e.embedding AS DOUBLE[])) AS s
        |  FROM q, embeddings e WHERE e.vec_id <> q.vec_id)
        |SELECT query_id, rank, neighbor_id, CAST(round(s,4) AS DOUBLE) AS score FROM (
        |  SELECT query_id, neighbor_id, s,
        |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "t1_quality" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS n_words,
        |CAST(round((length(text) - length(regexp_replace(text,'[.,!?;:]','','g'))) * 1.0
        |  / greatest(length(text),1), 4) AS DOUBLE) AS punct_ratio,
        |CAST(round(len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'),
        |  w -> w IN ('the','a','of','and','to','in','is','that','it','for'))) * 1.0
        |  / greatest(len(regexp_split_to_array(trim(text),'\s+')),1), 4) AS DOUBLE) AS stopword_ratio,
        |CAST(round(length(regexp_replace(trim(text),'\s+','','g')) * 1.0
        |  / greatest(len(regexp_split_to_array(trim(text),'\s+')),1), 4) AS DOUBLE) AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t2_tokencounts" ->
      """SELECT doc_id,
        |CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text,'[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d5_ngram_jaccard" ->
      s"""WITH docs AS ($DocsWithDupsSql),
        |g AS (SELECT doc_id, source, list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |    ELSE [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)] END) AS grams
        |  FROM (SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ws FROM docs)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.grams, b.grams)) * 1.0 /
        |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS j
        |  FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(round(j, 4) AS DOUBLE) AS jaccard FROM p
        |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "d8_dedup_clusters" ->
      s"""WITH RECURSIVE docs AS ($DocsWithDupsSql),
        |g AS (SELECT doc_id, source, list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |    ELSE [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)] END) AS grams
        |  FROM (SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ws FROM docs)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
        |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5),
        |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT DISTINCT a, a FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS rep_id FROM reach
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // d9/d10/d11 truth: exact char-5-shingle Jaccard >= 0.8 within source
    // blocks, recomputed from the TEXT in DuckDB (same normalization as
    // Dedup.shingleHashes: lower -> collapse whitespace -> trim); the gate
    // booleans are pinned true like d7/s4/s5.
    "d9_minhash_recall" ->
      s"""WITH docs AS ($DocsWithDupsSql),
        |nrm AS (SELECT doc_id, source, trim(regexp_replace(lower(text),'\\s+',' ','g')) AS s FROM docs
        |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 4096),
        |g AS (SELECT doc_id, source, list_distinct(CASE WHEN length(s) < 5 THEN [s]
        |    ELSE [substr(s, i, 5) for i in range(1, length(s)-3)] END) AS sh FROM nrm),
        |p AS (SELECT len(list_intersect(a.sh,b.sh))*1.0 /
        |    (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) AS j
        |  FROM g a JOIN g b ON a.source=b.source AND a.doc_id<b.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, true AS recall_pass, false AS truth_capped FROM p WHERE j >= 0.8""".stripMargin,
    "d10_simhash_recall" ->
      s"""WITH docs AS ($DocsWithDupsSql),
        |nrm AS (SELECT doc_id, source, trim(regexp_replace(lower(text),'\\s+',' ','g')) AS s FROM docs
        |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 4096),
        |g AS (SELECT doc_id, source, list_distinct(CASE WHEN length(s) < 5 THEN [s]
        |    ELSE [substr(s, i, 5) for i in range(1, length(s)-3)] END) AS sh FROM nrm),
        |p AS (SELECT len(list_intersect(a.sh,b.sh))*1.0 /
        |    (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) AS j
        |  FROM g a JOIN g b ON a.source=b.source AND a.doc_id<b.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, true AS recall_pass, false AS truth_capped FROM p WHERE j >= 0.8""".stripMargin,
    "d11_dedup_pipeline" ->
      s"""WITH docs AS ($DocsWithDupsSql),
        |nrm AS (SELECT doc_id, source, trim(regexp_replace(lower(text),'\\s+',' ','g')) AS s FROM docs
        |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 4096),
        |g AS (SELECT doc_id, source, list_distinct(CASE WHEN length(s) < 5 THEN [s]
        |    ELSE [substr(s, i, 5) for i in range(1, length(s)-3)] END) AS sh FROM nrm),
        |p AS (SELECT len(list_intersect(a.sh,b.sh))*1.0 /
        |    (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) AS j
        |  FROM g a JOIN g b ON a.source=b.source AND a.doc_id<b.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, true AS cluster_recall_pass, false AS truth_capped FROM p WHERE j >= 0.8""".stripMargin,
    "t4_fingerprint" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws FROM documents),
        |wins AS (SELECT doc_id, CASE WHEN len(ws) < 4 THEN [array_to_string(ws, ' ')]
        |    ELSE [array_to_string(ws[i:i+3], ' ') for i in range(1, len(ws)-2)] END AS strs FROM w)
        |SELECT doc_id, CAST(list_min(list_transform(strs, s ->
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(s)+1), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
        |    (h, c) -> (h*31 + c) % 1000000007))) AS BIGINT) AS fingerprint
        |FROM wins ORDER BY doc_id""".stripMargin,
    "d6_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 2000)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |CAST(round(list_cosine_similarity(a.v, b.v), 4) AS DOUBLE) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.3 ORDER BY 1, 2""".stripMargin,
    "d7_embedding_lsh_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, true AS recall_pass
        |FROM (SELECT list_cosine_similarity(a.v, b.v) AS s FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |WHERE s >= 0.3""".stripMargin,
    // d3/d4/s2/s3/s6: sequential no-Spark replay oracles (Verify stages the
    // driver-loop recomputation of each pair/top-k set as parquet at dump
    // time — the m1 pattern; see VerifyReplay). The recall gates d9/d10 and
    // s4/s5/s7 remain the semantic-quality checks; these rows pin the
    // distributed machinery itself (staging, caps, joins, heaps, windows).
    "d3_minhash_pairs" ->
      """SELECT id_a, id_b, jaccard FROM read_parquet('{STAGED}/replay_d3/*.parquet')
        |ORDER BY id_a, id_b""".stripMargin,
    "d4_simhash_pairs" ->
      """SELECT id_a, id_b, hamming FROM read_parquet('{STAGED}/replay_d4/*.parquet')
        |ORDER BY id_a, id_b""".stripMargin,
    "s2_knn_lsh" ->
      """SELECT query_id, rank, neighbor_id, score FROM read_parquet('{STAGED}/replay_s2/*.parquet')
        |ORDER BY query_id, rank""".stripMargin,
    "s3_knn_ivf" ->
      """SELECT query_id, rank, neighbor_id, score FROM read_parquet('{STAGED}/replay_s3/*.parquet')
        |ORDER BY query_id, rank""".stripMargin,
    "s6_knn_ivfpq" ->
      """SELECT query_id, rank, neighbor_id, score FROM read_parquet('{STAGED}/replay_s6/*.parquet')
        |ORDER BY query_id, rank""".stripMargin,
    "s4_lsh_recall" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_pass FROM embeddings WHERE vec_id < 10",
    "s5_ivf_recall" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_pass FROM embeddings WHERE vec_id < 10",
    "s7_ivfpq_recall" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_pass FROM embeddings WHERE vec_id < 10",
    "s8_ivf_dist_recall" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_pass FROM embeddings WHERE vec_id < 10",
    "s9_ivf_twolevel_recall" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_pass FROM embeddings WHERE vec_id < 10",
    "s10_ivfpq_twolevel_recall" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_pass FROM embeddings WHERE vec_id < 10",
    "s11_ivf_append_recall" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_pass, " +
        "true AS staleness_pass FROM embeddings WHERE vec_id < 10"),
    "s12_knn_filtered" ->
      """SELECT query_id, rank, neighbor_id, score FROM read_parquet('{STAGED}/replay_s12/*.parquet')
        |ORDER BY query_id, rank""".stripMargin,
    "s13_ivfpq_filtered_recall" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_pass, " +
        "true AS no_leak FROM embeddings WHERE vec_id < 10"),
    // {M1_VALUES} = Verify's sequential no-Spark replay of the same
    // deterministic asset generation + decode, substituted at dump time
    "m1_multimodal_features" ->
      """SELECT * FROM (VALUES {M1_VALUES})
        |AS t(media_type, n_assets, avg_norm, avg_width, total_frames)
        |ORDER BY media_type""".stripMargin,
    "m2_multimodal_verify" ->
      """SELECT * FROM (VALUES ('audio/wav', true, true, true), ('image/jpeg', true, true, true),
        |('image/png', true, true, true), ('video/mp4', true, true, true))
        |AS t(media_type, has_assets, dims_ok, frames_ok) ORDER BY media_type""".stripMargin,
    // p* oracles aggregate the TYPED-path parse output that Verify stages to
    // parquet ({STAGED} is substituted with the absolute path at dump time):
    // the queries run the native-expression path, the oracle re-aggregates
    // the independently-implemented typed path in DuckDB.
    // l1 oracle: the whole-file-path event stats Verify stages from the same
    // deterministic log file ({STAGED} substituted at dump time)
    "l1_log_events" ->
      """SELECT event_idx, line_start, line_end, has_timestamp, first_ts, n_tokens,
        |n_errors, error_signature, category, n_chars, text_crc
        |FROM read_parquet('{STAGED}/logevents/*.parquet') ORDER BY event_idx""".stripMargin,
    "p1_route_counts" ->
      """SELECT category, count(*) AS n_turns FROM read_parquet('{STAGED}/parsed/*.parquet')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "p2_token_stats" ->
      """SELECT token_type, schema_id, count(*) AS n FROM read_parquet('{STAGED}/tokens/*.parquet')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "p3_per_tool" ->
      """SELECT tool, count(*) AS n_calls,
        |CAST(sum(CASE WHEN category = 'errors' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM read_parquet('{STAGED}/parsed/*.parquet')
        |WHERE tool IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "p4_conv_stats" ->
      """SELECT conv_id, n_turns, max_turn_idx, first_ts, last_ts, n_tokens, n_errors,
        |n_tool_turns, n_role_repeats FROM (
        |  SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS max_turn_idx,
        |    min(ts) AS first_ts, max(ts) AS last_ts,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens, CAST(sum(n_errors) AS BIGINT) AS n_errors,
        |    CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_turns,
        |    CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT) AS n_role_repeats
        |  FROM (SELECT *, lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
        |    FROM read_parquet('{STAGED}/parsed/*.parquet'))
        |  GROUP BY 1)
        |ORDER BY n_turns DESC, conv_id LIMIT 50""".stripMargin,
    "t6_redact" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0
        |  THEN text || ' contact bob@example.com via https://ex.org/x?id=1' ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |CAST(len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS BIGINT) AS n_urls,
        |regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  'https?://[^ \t\n]+', '<URL>', 'g') AS clean_text
        |FROM d ORDER BY doc_id""".stripMargin,
    "t5_char_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, ch, count(*) AS c FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(round(ln(CAST(sum(c) AS DOUBLE))
        |  - sum(c * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE), 4) AS DOUBLE) AS entropy_nats
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "p5_error_signatures" ->
      """SELECT error_signature, count(*) AS n_turns, CAST(sum(n_errors) AS BIGINT) AS n_errors
        |FROM read_parquet('{STAGED}/parsed/*.parquet')
        |WHERE error_signature IS NOT NULL GROUP BY 1
        |ORDER BY n_turns DESC, error_signature""".stripMargin,
    "t3_langid" ->
      """WITH s AS (SELECT doc_id, lang AS lang_true,
        |  len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'),
        |    w -> w IN ('the','a','of','and','to','in','is','that','it','for'))) AS s_en,
        |  len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'),
        |    w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','den'))) AS s_de,
        |  len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'),
        |    w -> w IN ('le','la','les','et','est','un','une','que','pour','dans'))) AS s_fr,
        |  len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'),
        |    w -> w IN ('el','la','los','que','es','un','una','por','para','con'))) AS s_es
        |  FROM documents)
        |SELECT doc_id, lang_true,
        |  CASE WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
        |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |    WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin
  )
}
