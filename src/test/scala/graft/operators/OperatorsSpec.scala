package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.SimHash64

/** Independent-oracle tests for the training-data operators whose semantics
  * are not DuckDB-expressible (the driver gives them rows-only checks):
  * MinHash-LSH vs brute-force Jaccard, SimHash hamming neighbors, LSH ANN
  * recall vs exact brute force, fingerprint stability, multimodal plumbing.
  */
class OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("operators-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** documents plus exact and near copies (mirrors SparkEntry.docsWithDups). */
  private lazy val docsDup = {
    docs.unionByName(
      docs.filter(col("doc_id") % 5 === 0).withColumn("doc_id", col("doc_id") + 100000L)
    ).unionByName(
      docs.filter(col("doc_id") % 7 === 0).withColumn("doc_id", col("doc_id") + 200000L)
        .withColumn("text", regexp_replace(col("text"), "table", "tables"))
    )
  }

  test("exact dedup matches a driver-side group-by-text oracle") {
    val got = Dedup.exact(docsDup).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = docsDup.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).values.filter(_.length > 1)
      .map(g => (g.map(_._1).min, g.length.toLong)).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("normalized dedup matches a driver-side normalize-then-group oracle") {
    // case and whitespace variants that only normalization merges
    val variants = docsDup.unionByName(
      docs.filter(col("doc_id") % 11 === 0).withColumn("doc_id", col("doc_id") + 300000L)
        .withColumn("text", concat(lit("  "), regexp_replace(upper(col("text")), " ", " \t "))))
    val got = Dedup.normalized(variants).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Spark's trim strips spaces only; \s+ collapses every whitespace run
    def norm(t: String): String =
      t.replaceAll("^ +| +$", "").replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT)
    val want = variants.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), norm(r.getString(1))))
      .groupBy(_._2).values.filter(_.length > 1)
      .map(g => (g.map(_._1).min, g.length.toLong)).toSet
    assert(got == want)
    val exact = Dedup.exact(variants).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty && want != exact, "the variants must form groups exact dedup does not")
  }

  test("minhash LSH pairs equal brute-force Jaccard >= threshold (no false positives, high recall)") {
    val got = Dedup.minhashPairs(docsDup, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // brute-force oracle on the driver
    val all = docsDup.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val sh = all.map { case (id, t) => id -> Dedup.shingleHashes(t) }.toMap
    val want = (for {
      i <- all.indices.iterator
      j <- (i + 1) until all.length
      a = math.min(all(i)._1, all(j)._1)
      b = math.max(all(i)._1, all(j)._1)
      if Dedup.exactJaccard(sh(all(i)._1), sh(all(j)._1)) >= 0.8
    } yield (a, b)).toSet

    // every returned pair is exact-verified → no false positives possible
    assert(got.subsetOf(want), s"false positives: ${got.diff(want).take(5)}")
    // recall: LSH with 16 bands of 8 rows at j>=0.8 should catch nearly all
    val recall = if (want.isEmpty) 1.0 else got.size.toDouble / want.size
    assert(recall >= 0.95, s"recall $recall (got ${got.size} of ${want.size})")
    assert(want.nonEmpty, "test corpus must contain near-duplicates")
  }

  test("shingle-jaccard truth pairs (d9/d10 gate input) match a driver-side recompute") {
    val got = Dedup.shingleJaccardPairs(docsDup).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = docsDup.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = (for {
      i <- all.indices.iterator
      j <- (i + 1) until all.length
      if all(i)._2 == all(j)._2
      jac = Dedup.exactJaccard(Dedup.shingleHashes(all(i)._3), Dedup.shingleHashes(all(j)._3))
      if jac >= 0.8
    } yield (math.min(all(i)._1, all(j)._1), math.max(all(i)._1, all(j)._1),
        BigDecimal(jac).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got == want)
    assert(want.nonEmpty)
    // the shipped minhash plan must find every truth pair at this scale
    val mh = Dedup.minhashPairs(docsDup, threshold = 0.8).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.forall { case (a, b, _) => mh.contains((a, b)) })
  }

  test("minhash staged collapse (the shipped d3 path) returns identical pairs to the lazy plan") {
    val stage = graft.pipeline.Staging.tempDir("graft-d3-test")
    try {
      val viaLazy = Dedup.minhashPairs(docsDup, threshold = 0.8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaStaged = Dedup.minhashPairs(docsDup, threshold = 0.8, stagingDir = Some(stage))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaStaged == viaLazy)
      assert(viaStaged.nonEmpty)

      val stage2 = s"$stage/simhash"
      val simLazy = Dedup.simhashPairs(docsDup).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val simStaged = Dedup.simhashPairs(docsDup, stagingDir = Some(stage2))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(simStaged == simLazy)
      assert(simStaged.nonEmpty)
    } finally graft.pipeline.Staging.deleteRecursively(stage)
  }

  test("dedup pair operators build without a Spark job") {
    docsDup.schema // resolve the parquet source before counting
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      Dedup.minhashPairs(docsDup, threshold = 0.8)
      Dedup.simhashPairs(docsDup)
      // listener events arrive in order: once the marker job is seen, every
      // job started while the plans were built has been recorded
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      val before = started.toArray.takeWhile(_ != "marker")
      assert(started.contains("marker") && before.isEmpty,
        s"${before.length} job(s) ran while building the lazy dedup plans")
    } finally sc.removeSparkListener(listener)
  }

  test("dedup staging refuses a non-empty directory (an earlier frame may still read it)") {
    val stage = graft.pipeline.Staging.tempDir("graft-stage-refuse")
    try {
      Dedup.minhashPairs(docsDup, threshold = 0.8, stagingDir = Some(stage)).count()
      val e = intercept[IllegalArgumentException] {
        Dedup.minhashPairs(docsDup, threshold = 0.8, stagingDir = Some(stage))
      }
      assert(e.getMessage.contains("non-empty"))
    } finally graft.pipeline.Staging.deleteRecursively(stage)
  }

  test("simhash: identical texts→same sig; near texts→small hamming; pairs are verified") {
    assert(SimHash64.compute("the quick brown fox") == SimHash64.compute("the quick brown fox"))
    assert(SimHash64.compute("The Quick  brown fox") == SimHash64.compute("the quick brown fox"))
    val a = SimHash64.compute("the quick brown fox jumps over the lazy dog again and again")
    val b = SimHash64.compute("the quick brown fox jumps over the lazy cat again and again")
    assert(SimHash64.hamming(a, b) <= 16)

    val pairs = Dedup.simhashPairs(docsDup, maxHamming = 3).collect()
    assert(pairs.nonEmpty)
    // exact duplicates must appear with hamming 0
    val exactIds = docs.filter(col("doc_id") % 5 === 0).select("doc_id").collect().map(_.getLong(0))
    val got0 = pairs.filter(_.getInt(2) == 0).map(r => (r.getLong(0), r.getLong(1))).toSet
    exactIds.foreach(id => assert(got0.contains((id, id + 100000L)), s"missing exact pair for $id"))
  }

  test("dedup clusters: transitive closure of pairs, rep = min id (vs union-find oracle)") {
    import spark.implicits._
    // hand-built: {1,2,3} chained without the 1-3 pair; {10,11}; 50 isolated (absent)
    val hand = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(hand).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))

    // real pair set: compare against a driver-side union-find
    val pairs = Dedup.ngramJaccardPairs(docsDup, n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    val real = Dedup.clusters(Dedup.ngramJaccardPairs(docsDup, n = 3, threshold = 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(real == want)
  }

  test("ngram jaccard pairs: symmetric-free, thresholded, includes injected near-dups") {
    val pairs = Dedup.ngramJaccardPairs(docsDup, n = 3, threshold = 0.5).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(r => r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0))
    val gotPairs = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactIds = docs.filter(col("doc_id") % 5 === 0).select("doc_id").collect().map(_.getLong(0))
    exactIds.foreach(id => assert(gotPairs.contains((id, id + 100000L))))
  }

  test("brute-force knn is exact: matches a driver-side recompute") {
    val got = Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 5), k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    val all = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i) }
      d / math.sqrt(nx * ny)
    }
    val want = (for ((qid, qv) <- all.filter(_._1 < 5)) yield {
      all.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }
        .take(3).zipWithIndex
        .map { case ((id, _), i) => (qid, i + 1, id) }
    }).flatten.toSet
    assert(got == want)
  }

  test("LSH knn achieves >=60% recall@5 vs brute force and is deterministic") {
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceKnn(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx1 = Similarity.lshKnn(emb, queries, k = 5, nBits = 4, nTables = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx2 = Similarity.lshKnn(emb, queries, k = 5, nBits = 4, nTables = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(approx1 == approx2, "LSH knn must be deterministic")
    val recall = approx1.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  test("IVF training sample is uniform: recall holds on a cluster-correlated id layout") {
    // contiguous id blocks per cluster — the layout that exposed round 3's
    // biased trainer (smallest 256 ids = one cluster ⇒ centroids learn a
    // corner, recall collapses). With the seeded hash-ordered uniform
    // sample, every cluster is represented and recall stays high.
    import spark.implicits._
    val n = 2000L
    val corr = spark.range(n).map(id => (id, graft.SyntheticVectors.vecCorrelated(id, n, 16, 8)))
      .toDF("vec_id", "embedding")
    val q = corr.filter(col("vec_id") % 250 === 0) // one probe per cluster block
    val brute = Similarity.bruteForceKnn(corr, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val cs = Similarity.Flat(Similarity.ivfTrain(corr, nCells = 8))
    val got = Similarity.ivfKnnIndexed(Similarity.ivfIndex(corr, cs), cs, q, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall on cluster-correlated ids = $recall")
  }

  test("IVF knn: deterministic, high recall with nProbe=6/16 cells") {
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceKnn(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf1 = Similarity.ivfKnn(emb, queries, k = 5, nCells = 16, nProbe = 6).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf2 = Similarity.ivfKnn(emb, queries, k = 5, nCells = 16, nProbe = 6).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf1 == ivf2, "IVF knn must be deterministic")
    val recall = ivf1.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall@5 = $recall")
  }

  test("shingle-Jaccard truth set caps oversized source blocks (never silently quadratic)") {
    import spark.implicits._
    val many = spark.range(30)
      .map(i => (i, "src", s"shared text body repeated for jaccard ${i % 3}"))
      .toDF("doc_id", "source", "text")
    // cap 10 on a 30-doc block: pairs form only among the 10 lowest doc_ids
    val capped = Dedup.shingleJaccardPairs(many, threshold = 0.0, maxBlock = 10).collect()
    assert(capped.length == 45, s"expected C(10,2) pairs, got ${capped.length}")
    assert(capped.forall(r => r.getLong(0) < 10 && r.getLong(1) < 10))
    // blocks under the cap: identical result with and without headroom
    def rows(maxBlock: Int) =
      Dedup.shingleJaccardPairs(many, threshold = 0.8, maxBlock = maxBlock)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(4096) == rows(1 << 20))
  }

  test("LSH probe-time hot-bucket cap: bounded candidates still yield top-k; no-op below the cap") {
    import spark.implicits._
    // near-identical vectors: every table collapses them into one hot bucket
    val hot = spark.range(500)
      .map(i => (i, Array.tabulate(8)(d => 1.0f + (i % 5) * 1e-4f + d * 1e-3f)))
      .toDF("vec_id", "embedding")
    val q = hot.filter(col("vec_id") === 0)
    def knn(maxBucket: Int) = Similarity.lshKnnIndexed(
      Similarity.lshIndex(hot, nBits = 2, nTables = 1), Similarity.vectorTable(hot),
      q, k = 5, nBits = 2, nTables = 1, maxBucket = maxBucket)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // a biting cap still returns k ranked results from the kept subset
    assert(knn(16).size == 5)
    // headroom: capped and effectively-uncapped runs are identical
    assert(knn(4096) == knn(1 << 20))
  }

  test("distributed IVF trainer: partition-invariant centroids, recall parity on correlated ids") {
    import spark.implicits._
    val n = 2000L
    val corr = spark.range(n).map(id => (id, graft.SyntheticVectors.vecCorrelated(id, n, 16, 8)))
      .toDF("vec_id", "embedding")
    // fixed-point accumulation makes the reduction associative-exact: the
    // same corpus under different partitionings must train BIT-IDENTICAL
    // centroids (the staged-model / replay-oracle contract)
    val cs3 = Similarity.ivfTrainDistributed(corr.repartition(3), nCells = 8)
    val cs7 = Similarity.ivfTrainDistributed(corr.repartition(7), nCells = 8)
    assert(cs3.length == cs7.length &&
      cs3.zip(cs7).forall { case (a, b) => java.util.Arrays.equals(a, b) },
      "centroids differ across partitionings")
    // full-population training must hold recall on the cluster-correlated
    // id layout (the biased-sample failure case), like the driver trainer
    val q = corr.filter(col("vec_id") % 250 === 0)
    val brute = Similarity.bruteForceKnn(corr, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val flat = Similarity.Flat(cs3)
    val got = Similarity.ivfKnnIndexed(Similarity.ivfIndex(corr, flat), flat, q, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"distributed-trainer IVF recall = $recall")
  }

  test("distributed IVF trainer: small corpora degrade to fewer cells") {
    import spark.implicits._
    val n = 2000L
    val corr = spark.range(n).map(id => (id, graft.SyntheticVectors.vecCorrelated(id, n, 16, 8)))
      .toDF("vec_id", "embedding")
    // corpus smaller than nCells: model degrades to one centroid per vector
    val tiny = Similarity.ivfTrainDistributed(corr.filter(col("vec_id") < 5), nCells = 8)
    assert(tiny.length == 5)
  }

  test("two-level IVF: partition-invariant model, routed recall on clustered ids, staged round trip") {
    import spark.implicits._
    val n = 2000L
    val corr = spark.range(n).map(id => (id, graft.SyntheticVectors.vecCorrelated(id, n, 16, 8)))
      .toDF("vec_id", "embedding")
    def flatEq(a: Similarity.IvfTwoLevel, b: Similarity.IvfTwoLevel): Boolean =
      a.superCentroids.zip(b.superCentroids).forall { case (x, y) => java.util.Arrays.equals(x, y) } &&
        a.children.zip(b.children).forall { case (cs, ds) =>
          cs.zip(ds).forall { case (x, y) => java.util.Arrays.equals(x, y) } }
    val m3 = Similarity.ivfTrainTwoLevel(corr.repartition(3), nCells = 16, nSuper = 4)
    val m7 = Similarity.ivfTrainTwoLevel(corr.repartition(7), nCells = 16, nSuper = 4)
    assert(flatEq(m3, m7), "two-level model differs across partitionings")
    // recall through the ROUTED path (2 of 4 supers probed) on the
    // well-separated clustered corpus — routing must find the right branch
    val q = corr.filter(col("vec_id") % 250 === 0)
    val brute = Similarity.bruteForceKnn(corr, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val idx = Similarity.ivfIndex(corr, m3)
    val got = Similarity.ivfKnnIndexed(idx, m3, q, k = 5, nProbe = 4, nProbeSuper = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"two-level routed recall = $recall")
    // model survives the parquet round trip bit-identically, and the staged
    // index + model reproduce the in-memory results exactly
    val stage = graft.pipeline.Staging.tempDir("graft-2l-test")
    try {
      Seq(m3).toDS().write.parquet(s"$stage/model")
      idx.write.partitionBy(Similarity.IndexPart).parquet(s"$stage/ivf")
      val mBack = spark.read.parquet(s"$stage/model").as[Similarity.IvfTwoLevel].head()
      assert(flatEq(m3, mBack), "model changed through parquet")
      val gotStaged = Similarity.ivfKnnIndexed(
        spark.read.parquet(s"$stage/ivf"), mBack, q, k = 5, nProbe = 4, nProbeSuper = 2)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(gotStaged == got)
    } finally graft.pipeline.Staging.deleteRecursively(stage)
  }

  test("two-level IVF-PQ: routed compressed path recalls on clustered ids, staged ≡ in-memory") {
    import spark.implicits._
    val n = 2000L
    val corr = spark.range(n).map(id => (id, graft.SyntheticVectors.vecCorrelated(id, n, 16, 8)))
      .toDF("vec_id", "embedding")
    val m = Similarity.ivfTrainTwoLevel(corr, nCells = 16, nSuper = 4)
    val pq = Similarity.pqTrain(corr, m, nSub = 8, k = 16)
    val idx = Similarity.ivfPqIndex(corr, m, pq)
    val q = corr.filter(col("vec_id") % 250 === 0)
    val brute = Similarity.bruteForceKnn(corr, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val got = rows(Similarity.ivfPqKnnIndexed(idx, m, pq, Similarity.vectorTable(corr),
      q, k = 5, nProbe = 4, nProbeSuper = 2, rerank = 32))
    val recall = got.map(t => (t._1, t._3)).intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"two-level PQ routed recall = $recall")
    // staged round trip (super-partitioned index + model + codebooks +
    // bucketed vectors) reproduces the in-memory results exactly
    val stage = graft.pipeline.Staging.tempDir("graft-2lpq-test")
    try {
      idx.write.partitionBy(Similarity.IndexPart).parquet(s"$stage/ivfpq")
      Seq(m).toDS().write.parquet(s"$stage/model")
      Seq(pq).toDS().write.parquet(s"$stage/pqmodel")
      Similarity.vectorTableBucketed(corr).write.partitionBy("id_bucket").parquet(s"$stage/vectors")
      val gotStaged = rows(Similarity.ivfPqKnnIndexed(
        spark.read.parquet(s"$stage/ivfpq"),
        spark.read.parquet(s"$stage/model").as[Similarity.IvfTwoLevel].head(),
        spark.read.parquet(s"$stage/pqmodel").as[Similarity.PqModel].head(),
        spark.read.parquet(s"$stage/vectors"),
        q, k = 5, nProbe = 4, nProbeSuper = 2, rerank = 32))
      assert(gotStaged == got)
    } finally graft.pipeline.Staging.deleteRecursively(stage)
  }

  test("one IVF path: flat and two-level quantizers probing every cell equal brute force, filtered or not") {
    val q = emb.filter(col("vec_id") < 10)
    val admitted = emb.filter(col("label") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val exact = rows(Similarity.bruteForceKnn(emb, q, k = 5))
    val exactAdmitted = rows(Similarity.bruteForceKnn(admitted, q, k = 5))
    assert(exact.nonEmpty && exactAdmitted.nonEmpty && exact != exactAdmitted)
    val flat = Similarity.Flat(Similarity.ivfTrain(emb, nCells = 16))
    val twoLevel = Similarity.ivfTrainTwoLevel(emb, nCells = 16, nSuper = 4)
    val n = emb.count().toInt
    // (quantizer, nProbe, nProbeSuper) that probe every cell
    for ((quant, nProbe, nProbeSuper) <- Seq((flat, flat.centroids.length, 1),
                                             (twoLevel, twoLevel.nCells, twoLevel.nSuper))) {
      val idx = Similarity.ivfIndex(emb, quant)
      def knn(allowed: Option[org.apache.spark.sql.DataFrame]) = rows(Similarity.ivfKnnIndexed(
        idx, quant, q, allowed, k = 5, nProbe = nProbe, nProbeSuper = nProbeSuper))
      assert(knn(None) == exact, quant.getClass.getSimpleName)
      assert(knn(Some(admitted.select(col("vec_id").as("id")))) == exactAdmitted,
        quant.getClass.getSimpleName)
      // IVF-PQ: every cell probed and k·rerank ≥ corpus, so the ADC cut keeps
      // every candidate and the exact re-rank alone decides
      val pq = Similarity.pqTrain(emb, quant, nSub = 8, k = 16)
      val pqIdx = Similarity.ivfPqIndex(emb, quant, pq)
      def pqKnn(allowed: Option[org.apache.spark.sql.DataFrame]) = rows(Similarity.ivfPqKnnIndexed(
        pqIdx, quant, pq, Similarity.vectorTable(emb), q, allowed, k = 5, nProbe = nProbe,
        nProbeSuper = nProbeSuper, rerank = n))
      assert(pqKnn(None) == exact, s"PQ over ${quant.getClass.getSimpleName}")
      assert(pqKnn(Some(admitted.select(col("vec_id").as("id")))) == exactAdmitted,
        s"PQ over ${quant.getClass.getSimpleName}")
    }
    // LSH at nBits = 1: the own bucket and its one flip cover every bucket,
    // and a cap above the corpus size keeps every member
    val lsh = rows(Similarity.lshKnnIndexed(Similarity.lshIndex(emb, nBits = 1, nTables = 1),
      Similarity.vectorTable(emb), q, k = 5, nBits = 1, nTables = 1, maxBucket = n + 1))
    assert(lsh == exact, "LSH")
  }

  test("capByHash streaming cap keeps exactly the sort-take set with O(cap) memory") {
    // the kept set must be bit-identical to the materialize-sort-take the
    // trainer used to do — same (unsigned XXH64(id,42), id) key
    def key(id: Long): (Long, Long) =
      (org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L) ^ Long.MinValue, id)
    for ((n, cap) <- Seq((0, 4), (3, 4), (4, 4), (5, 4), (1000, 64), (1000, 1000), (1000, 1))) {
      val members = (0 until n).map(i => (i.toLong * 13 % 977, Array(i.toFloat)))
      val expected = members.sortBy { case (id, _) => key(id) }.take(cap).map(_._1).toSet
      val got = Similarity.capByHash(members.iterator, cap).map(_._1)
      assert(got.toSet == expected, s"n=$n cap=$cap")
      // and id-sortable like the downstream Lloyd expects
      assert(got.length == math.min(n, cap))
    }
  }

  test("two-level trainer under 90% super skew: bounded cap bites, model equals sort-take semantics") {
    import spark.implicits._
    // 90% of the corpus in one tight cluster → one super owns ~90% of the
    // training set; maxPerSuper=64 forces the streaming cap to bite there
    val n = 2000L
    def skewVec(id: Long): Array[Float] = {
      val cluster = if (id < 1800) 0 else 1 + (id % 7).toInt
      graft.SyntheticVectors.vecCorrelated(cluster.toLong * 250 + id % 250, n, 16, 8)
    }
    val corpus = spark.range(n).map(id => (id, skewVec(id))).toDF("vec_id", "embedding")
    val m = Similarity.ivfTrainTwoLevel(corpus, nCells = 8, nSuper = 2, maxPerSuper = 64)
    // reference recomputation of the OLD materialize-then-cap semantics,
    // sequentially: same supers, same group membership, sort-take cap,
    // id-sorted Lloyd — the streaming heap must reproduce it exactly
    val supers = Similarity.ivfTrainDistributed(corpus, nCells = 2, iterations = 3)
    val unit = Similarity.unitize(supers)
    val all = corpus.as[(Long, Array[Float])].collect()
    val byS = all.groupBy { case (_, v) => Similarity.nearestCellDot(v, unit) }
    def key(id: Long): (Long, Long) =
      (org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L) ^ Long.MinValue, id)
    val expected = (0 until 2).map { s =>
      val ms = byS.getOrElse(s, Array.empty)
      val kept = (if (ms.length <= 64) ms else ms.sortBy(m => key(m._1)).take(64))
        .sortBy(_._1).map(_._2)
      if (kept.isEmpty) Array.fill(4)(supers(s).clone())
      else {
        val cs = Similarity.lloyd(kept, 4, 3, Similarity.nearestCell)
        cs ++ Array.fill(4 - cs.length)(supers(s).clone())
      }
    }
    assert(m.superCentroids.zip(supers).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    assert(m.children.zip(expected).forall { case (cs, ds) =>
      cs.length == ds.length && cs.zip(ds).forall { case (x, y) => java.util.Arrays.equals(x, y) }
    }, "streaming-capped child codebooks differ from sort-take semantics")
    // the cap genuinely bit: the hot super's membership far exceeds it
    assert(byS.values.map(_.length).max > 1000, "skew fixture lost its hot super")
    // determinism under repartitioning (the skewed group spans partitions)
    val m2 = Similarity.ivfTrainTwoLevel(corpus.repartition(7), nCells = 8, nSuper = 2, maxPerSuper = 64)
    assert(m.children.zip(m2.children).forall { case (cs, ds) =>
      cs.zip(ds).forall { case (x, y) => java.util.Arrays.equals(x, y) } })
  }

  test("filtered ANN: every neighbor satisfies the predicate; recall holds vs brute over the filtered corpus") {
    import spark.implicits._
    val n = 2000L
    val corr = spark.range(n).map(id => (id, graft.SyntheticVectors.vecCorrelated(id, n, 16, 8)))
      .toDF("vec_id", "embedding")
    val m = Similarity.ivfTrainTwoLevel(corr, nCells = 16, nSuper = 4)
    val idx = Similarity.ivfIndex(corr, m)
    // metadata predicate: label = vec_id % 10, admit even labels only
    val allowed = corr.select(col("vec_id").as("id")).filter(col("id") % 10 % 2 === 0)
    val q = corr.filter(col("vec_id") % 250 === 0)
    val got = Similarity.ivfKnnIndexed(idx, m, q, Some(allowed),
      k = 5, nProbe = 4, nProbeSuper = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val allowedIds = allowed.as[Long].collect().toSet
    assert(got.nonEmpty && got.forall { case (_, nb) => allowedIds.contains(nb) },
      "a disallowed vector leaked through the predicate")
    val bruteFiltered = Similarity.bruteForceKnn(
      corr.filter(col("vec_id") % 10 % 2 === 0), q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.toSet.intersect(bruteFiltered).size.toDouble / bruteFiltered.size
    assert(recall >= 0.85, s"filtered routed recall = $recall")
    // the predicate prunes BEFORE the scoring join: LeftSemi sits below the
    // cosine evaluation in the optimized plan
    val plan = Similarity.ivfKnnIndexed(idx, m, q, Some(allowed),
      k = 5, nProbe = 4, nProbeSuper = 2).queryExecution.optimizedPlan.toString
    val semiAt = plan.indexOf("LeftSemi")
    val cosAt = plan.indexOf("cosine_similarity")
    assert(semiAt >= 0 && cosAt >= 0 && semiAt > cosAt,
      s"expected LeftSemi BELOW (printed after) the cosine projection:\n$plan")
  }

  test("filtered ANN, compressed path: semi-join cuts code rows pre-ADC, no leaks, recall holds") {
    import spark.implicits._
    val n = 2000L
    val corr = spark.range(n).map(id => (id, graft.SyntheticVectors.vecCorrelated(id, n, 16, 8)))
      .toDF("vec_id", "embedding")
    val m = Similarity.ivfTrainTwoLevel(corr, nCells = 16, nSuper = 4)
    val pq = Similarity.pqTrain(corr, m, nSub = 8, k = 16)
    val idx = Similarity.ivfPqIndex(corr, m, pq)
    val allowed = corr.select(col("vec_id").as("id")).filter(col("id") % 10 % 2 === 0)
    val q = corr.filter(col("vec_id") % 250 === 0)
    val got = Similarity.ivfPqKnnIndexed(idx, m, pq,
      Similarity.vectorTable(corr), q, Some(allowed),
      k = 5, nProbe = 4, nProbeSuper = 2, rerank = 32)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val allowedIds = allowed.as[Long].collect().toSet
    assert(got.nonEmpty && got.forall { case (_, nb) => allowedIds.contains(nb) },
      "a disallowed vector leaked through the compressed filtered path")
    val bruteFiltered = Similarity.bruteForceKnn(
      corr.filter(col("vec_id") % 10 % 2 === 0), q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.toSet.intersect(bruteFiltered).size.toDouble / bruteFiltered.size
    assert(recall >= 0.85, s"filtered compressed recall = $recall")
  }

  test("index compaction: appended supers collapse to target file count, query results identical") {
    import spark.implicits._
    val n = 2000L
    val corr = spark.range(n).map(id => (id, graft.SyntheticVectors.vecCorrelated(id, n, 16, 8)))
      .toDF("vec_id", "embedding")
    val base = corr.filter(col("vec_id") % 10 =!= 0)
    val m = Similarity.ivfTrainTwoLevel(base, nCells = 16, nSuper = 4)
    val stage = graft.pipeline.Staging.tempDir("graft-compact-test")
    try {
      val dir = s"$stage/ivf"
      Similarity.ivfIndex(base, m).write.partitionBy(Similarity.IndexPart).parquet(dir)
      // two append batches — each leaves another file set per touched super
      for (r <- Seq(0, 5))
        Similarity.ivfIndex(corr.filter(col("vec_id") % 10 === r), m)
          .write.mode("append").partitionBy(Similarity.IndexPart).parquet(dir)
      def filesPerSuper: Map[String, Int] = {
        val root = new java.io.File(dir)
        root.listFiles.filter(f => f.isDirectory && f.getName.startsWith(s"${Similarity.IndexPart}="))
          .map(d => d.getName -> d.listFiles.count(_.getName.endsWith(".parquet"))).toMap
      }
      val before = filesPerSuper
      assert(before.values.max >= 3, s"append fixture produced $before")
      val q = corr.filter(col("vec_id") % 250 === 0)
      def results = Similarity.ivfKnnIndexed(
          spark.read.parquet(dir), m, q, k = 5, nProbe = 4, nProbeSuper = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val want = results
      val compacted = Similarity.compactIndex(spark, dir)
      assert(compacted.nonEmpty)
      val after = filesPerSuper
      assert(compacted.forall(s => after(s"${Similarity.IndexPart}=$s") == 1), s"after=$after")
      // untouched supers (if any) keep their files; results are identical
      assert(results == want)
      // idempotent: nothing left to compact
      assert(Similarity.compactIndex(spark, dir).isEmpty)
      // crash recovery: simulate dying inside the swap window (live dir
      // renamed aside, compacted tmp never swapped in) — recoverCompaction
      // restores the partition and clears staging; results return to `want`
      val victim = compacted.head
      val root = new java.io.File(dir)
      val live = new java.io.File(root, s"${Similarity.IndexPart}=$victim")
      val bak = new java.io.File(root, s".compact-old-${Similarity.IndexPart}=$victim")
      val tmpD = new java.io.File(root, s".compact-tmp-${Similarity.IndexPart}=$victim")
      assert(live.renameTo(bak))
      tmpD.mkdirs() // leftover staging dir from the crashed job
      val recovered = Similarity.recoverCompaction(spark, dir)
      assert(recovered == Seq(victim), s"recovered=$recovered")
      assert(live.isDirectory && !bak.exists && !tmpD.exists)
      assert(results == want)
      // idempotent on a clean layout
      assert(Similarity.recoverCompaction(spark, dir).isEmpty)
    } finally graft.pipeline.Staging.deleteRecursively(stage)
  }

  test("ANN staged indexes: parquet round-tripped LSH/IVF give identical results to one-shot") {
    import spark.implicits._
    val stage = graft.pipeline.Staging.tempDir("graft-ann-test")
    try {
      val q = emb.filter(col("vec_id") < 10)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

      Similarity.lshIndex(emb, nBits = 4).write.parquet(s"$stage/lsh")
      Similarity.vectorTable(emb).write.parquet(s"$stage/vectors")
      // the staged bucket index is slim: no embedding column rides along
      assert(spark.read.parquet(s"$stage/lsh").columns.toSet == Set("bucket", "id", "dim"))
      val lshStaged = rows(Similarity.lshKnnIndexed(
        spark.read.parquet(s"$stage/lsh"), spark.read.parquet(s"$stage/vectors"),
        q, k = 5, nBits = 4))
      assert(lshStaged == rows(Similarity.lshKnn(emb, q, k = 5, nBits = 4)))
      assert(lshStaged.nonEmpty)

      val cs = Similarity.ivfTrain(emb, nCells = 16)
      // the shipped layout partitions on cell: the probe join's broadcast
      // side must dynamically prune the index scan to the probed cells
      Similarity.ivfIndex(emb, Similarity.Flat(cs)).write.partitionBy(Similarity.IndexPart).parquet(s"$stage/ivf")
      Seq(Similarity.Flat(cs)).toDS().write.parquet(s"$stage/centroids")
      val csBack = spark.read.parquet(s"$stage/centroids").as[Similarity.Flat].head().centroids
      assert(csBack.map(_.toSeq).toSeq == cs.map(_.toSeq).toSeq)
      val ivfStagedDf = Similarity.ivfKnnIndexed(
        spark.read.parquet(s"$stage/ivf"), Similarity.Flat(csBack), q, k = 5, nProbe = 6)
      assert(ivfStagedDf.queryExecution.executedPlan.toString.toLowerCase
        .contains("dynamicpruning"))
      val ivfStaged = rows(ivfStagedDf)
      assert(ivfStaged == rows(Similarity.ivfKnn(emb, q, k = 5, nCells = 16, nProbe = 6)))
      assert(ivfStaged.nonEmpty)
    } finally graft.pipeline.Staging.deleteRecursively(stage)
  }

  test("IVF-PQ: codes are one byte per subspace, ADC recall high, deterministic") {
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceKnn(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val cs = Similarity.Flat(Similarity.ivfTrain(emb, nCells = 16))
    val pq = Similarity.pqTrain(emb, cs, nSub = 8, k = 16)
    assert(pq.nSub == 8 && pq.k == 16 && pq.dim == 64)
    // every code byte indexes a real sub-centroid
    val idx = Similarity.ivfPqIndex(emb, cs, pq)
    assert(idx.columns.toSet == Set(Similarity.IndexPart, "cell", "id", "codes", "norm"))
    val badCodes = idx.collect().count { r =>
      val codes = r.getAs[Array[Byte]]("codes")
      codes.length != 8 || codes.exists(b => (b & 0xFF) >= 16)
    }
    assert(badCodes == 0)
    val got1 = Similarity.ivfPqKnn(emb, queries, k = 5, nCells = 16, nProbe = 6, rerank = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got2 = Similarity.ivfPqKnn(emb, queries, k = 5, nCells = 16, nProbe = 6, rerank = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got1 == got2, "IVF-PQ knn must be deterministic")
    val recall = got1.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF-PQ recall@5 = $recall")
  }

  test("IVF-PQ staged index: parquet round trip gives identical results to one-shot") {
    import spark.implicits._
    val stage = graft.pipeline.Staging.tempDir("graft-pq-test")
    try {
      val q = emb.filter(col("vec_id") < 10)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val cs = Similarity.ivfTrain(emb, nCells = 16)
      val pq = Similarity.pqTrain(emb, Similarity.Flat(cs), nSub = 8, k = 16)
      // shipped layout: cell-partitioned codes, bucket-partitioned vectors —
      // both scans must be dynamically pruned (probed cells / candidates)
      Similarity.ivfPqIndex(emb, Similarity.Flat(cs), pq).write.partitionBy(Similarity.IndexPart).parquet(s"$stage/ivfpq")
      Seq(Similarity.Flat(cs)).toDS().write.parquet(s"$stage/centroids")
      Seq(pq).toDS().write.parquet(s"$stage/pqmodel")
      Similarity.vectorTableBucketed(emb).write.partitionBy("id_bucket").parquet(s"$stage/vectors")
      val pqBack = spark.read.parquet(s"$stage/pqmodel").as[Similarity.PqModel].head()
      assert(pqBack.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
        pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      val stagedDf = Similarity.ivfPqKnnIndexed(
        spark.read.parquet(s"$stage/ivfpq"),
        spark.read.parquet(s"$stage/centroids").as[Similarity.Flat].head(),
        pqBack, spark.read.parquet(s"$stage/vectors"), q, k = 5, nProbe = 6)
      val planStr = stagedDf.queryExecution.executedPlan.toString.toLowerCase
      assert(planStr.contains("dynamicpruning"))
      val staged = rows(stagedDf)
      assert(staged == rows(Similarity.ivfPqKnn(emb, q, k = 5, nCells = 16, nProbe = 6)))
      assert(staged.nonEmpty)
    } finally graft.pipeline.Staging.deleteRecursively(stage)
  }

  test("bucketed staged vector table: re-rank scan is dynamically partition-pruned, same results") {
    val stage = graft.pipeline.Staging.tempDir("graft-dpp-test")
    try {
      val q = emb.filter(col("vec_id") < 10)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      Similarity.lshIndex(emb, nBits = 4).write.parquet(s"$stage/lsh")
      Similarity.vectorTableBucketed(emb).write.partitionBy("id_bucket").parquet(s"$stage/vectors")
      val idx = spark.read.parquet(s"$stage/lsh")
      val bucketed = Similarity.lshKnnIndexed(idx, spark.read.parquet(s"$stage/vectors"),
        q, k = 5, nBits = 4)
      // the broadcast candidate list must drive a dynamic partition-pruning
      // filter on the vector scan: only candidate id-buckets are read
      val plan = bucketed.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
      val flat = Similarity.lshKnnIndexed(idx, Similarity.vectorTable(emb), q, k = 5, nBits = 4)
      assert(rows(bucketed) == rows(flat))
      assert(rows(bucketed).nonEmpty)
    } finally graft.pipeline.Staging.deleteRecursively(stage)
  }

  test("IVF-PQ candidate cut is partition-count-invariant (per-partition heaps + global window)") {
    // the same query against the index repartitioned to 1 vs 13 partitions
    // must produce identical top-k: the union of per-partition top-R heaps
    // always contains the global top-R by (score desc, id asc)
    val q = emb.filter(col("vec_id") < 10)
    val cs = Similarity.Flat(Similarity.ivfTrain(emb, nCells = 16))
    val pq = Similarity.pqTrain(emb, cs, nSub = 8, k = 16)
    val idx = Similarity.ivfPqIndex(emb, cs, pq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val one = rows(Similarity.ivfPqKnnIndexed(idx.repartition(1), cs, pq,
      Similarity.vectorTable(emb), q, k = 5, nProbe = 6))
    val many = rows(Similarity.ivfPqKnnIndexed(idx.repartition(13), cs, pq,
      Similarity.vectorTable(emb), q, k = 5, nProbe = 6))
    assert(one == many)
    assert(one.nonEmpty)
  }

  test("cosine_similarity expression: known values and null safety") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 2f), Array(2f, 4f), 1.0),
      (Array(3f, 4f), Array(4f, 3f), 0.96)
    ).toDF("a", "b", "want")
    val got = df.select(graft.functions.functions.cosine_similarity(col("a"), col("b")).as("s"), col("want")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
    val withNull = Seq((Some(Array(1f)), Option.empty[Array[Float]])).toDF("a", "b")
    assert(withNull.select(graft.functions.functions.cosine_similarity(col("a"), col("b"))).first().isNullAt(0))
  }

  test("jaccard_sorted/cosine_similarity inputs arrive uncast in the dedup and ANN plans") {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import graft.functions.{CosineSimilarity, JaccardSorted}
    val q = emb.filter(col("vec_id") < 10)
    Seq(
      "minhashPairs" -> Dedup.minhashPairs(docsDup, threshold = 0.8),
      "shingleJaccardPairs" -> Dedup.shingleJaccardPairs(docsDup),
      "ngramJaccardPairs" -> Dedup.ngramJaccardPairs(docsDup),
      "embeddingNearDupPairs" -> Dedup.embeddingNearDupPairs(emb),
      "embeddingNearDupBrute" -> Dedup.embeddingNearDupBrute(emb),
      "bruteForceKnn" -> Similarity.bruteForceKnn(emb, q),
      "lshKnn" -> Similarity.lshKnn(emb, q)
    ).foreach { case (name, df) =>
      val kernels = df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: JaccardSorted | _: CosineSimilarity) => e }))
      assert(kernels.nonEmpty, s"$name: no kernel in the plan")
      kernels.foreach(k => assert(!k.children.exists(_.isInstanceOf[Cast]), s"$name: $k"))
    }
  }

  test("char_entropy: known values, empty/null semantics, equals the explode-agg formulation") {
    import spark.implicits._
    // hand-computed: "aaaa" → 0; "ab" → ln 2; "aab" → ln3 − (2 ln2)/3
    val known = Seq((1L, "aaaa"), (2L, "ab"), (3L, "aab"), (4L, ""), (5L, null))
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(known).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L)) // empty and null docs produce no row
    assert(got(1L) == 0.0)
    assert(math.abs(got(2L) - math.log(2)) < 1e-4)
    assert(math.abs(got(3L) - (math.log(3) - 2 * math.log(2) / 3)) < 1e-4)

    // the round-2 explode-based formulation is the independent oracle: the
    // native expression must reproduce it on the real corpus, rounded
    val viaExplode = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round(
        log(sum("c").cast("double")) -
          sum(col("c").cast("double") * log(col("c").cast("double"))) /
            sum("c").cast("double"), 4).as("entropy_nats"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaExpr = TextAnalysis.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaExpr == viaExplode)
  }

  test("char_entropy plan is map-only: no Exchange, no Generate (the 100 TB shape)") {
    val plan = TextAnalysis.charEntropy(docs).queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Generate"), plan)
  }

  test("native expressions compile under forbidden codegen fallback and match interpreted eval") {
    import spark.implicits._
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val f = graft.functions.functions
      val rows = docs.limit(100)
        .select(col("doc_id"), col("text"),
          f.simhash64(col("text")).as("sig"),
          f.doc_fingerprint(col("text")).as("fp"),
          f.char_entropy(col("text")).as("h"))
        .collect()
      assert(rows.length == 100)
      rows.foreach { r =>
        val t = r.getString(1)
        assert(r.getLong(2) == graft.functions.SimHash64.compute(t))
        assert(r.getLong(3) == graft.functions.Fingerprint.compute(t, 4))
        assert(math.abs(r.getDouble(4) -
          graft.functions.CharEntropy.compute(
            org.apache.spark.unsafe.types.UTF8String.fromString(t))) < 1e-12)
      }
      // cosine through generated code, against the static kernel
      val pairs = Seq((Array(3f, 4f, 1f), Array(4f, 3f, 2f)), (Array(1f, 0f, 0f), Array(0f, 1f, 0f)))
        .toDF("a", "b")
      val cos = pairs.select(f.cosine_similarity(col("a"), col("b"))).collect().map(_.getDouble(0))
      assert(math.abs(cos(0) - (3.0 * 4 + 4 * 3 + 1 * 2) / (5.0990195135927845 * math.sqrt(29))) < 1e-12)
      assert(cos(1) == 0.0)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("language id splits the text exactly once (hoisted words array survives optimization)") {
    // round 3 repeated split() under each of the 4 language filters and
    // relied on codegen subexpression elimination; the hoisted projection
    // must survive CollapseProject (non-cheap alias referenced 4×)
    val plan = TextAnalysis.langId(docs).queryExecution.optimizedPlan
    val nSplits = plan.collect { case p =>
      p.expressions.map(_.collect {
        case s: org.apache.spark.sql.catalyst.expressions.StringSplit => s
      }.size).sum
    }.sum
    assert(nSplits == 1, s"expected exactly one split() in the optimized plan, got $nSplits")
  }

  test("language id predicts mostly en/und on the english-vocab corpus; deterministic") {
    val preds = TextAnalysis.langId(docs).groupBy("lang_pred").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(preds.keySet.subsetOf(Set("en", "de", "fr", "es", "und")))
    assert(preds.getOrElse("en", 0L) + preds.getOrElse("und", 0L) >= docs.count() / 2)
  }

  test("fingerprint is deterministic and collision-grouping: exact dups share it") {
    val fp1 = TextAnalysis.fingerprint(docsDup).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fp2 = TextAnalysis.fingerprint(docsDup).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp1 == fp2)
    val exactIds = docs.filter(col("doc_id") % 5 === 0).select("doc_id").collect().map(_.getLong(0))
    exactIds.foreach(id => assert(fp1(id) == fp1(id + 100000L)))
  }

  test("dedup hot-bucket defusal: 10k identical docs finish with linear output") {
    import spark.implicits._
    val body = "the same exact document body repeated verbatim across the whole crawl shard"
    val near = "the same exact document body repeated verbatim across the whole crawl shards"
    val docs = spark.range(10000)
      .select(col("id").as("doc_id"), lit(body).as("text"),
        lit("en").as("lang"), lit("src").as("source"), lit(body.length).as("n_chars"))
      .unionByName(Seq(
        (20000L, near, "en", "src", near.length),
        (20001L, near + "!", "en", "src", near.length + 1)
      ).toDF("doc_id", "text", "lang", "source", "n_chars"))

    // the 10k-identical cluster must come back as rep→member star pairs
    // (linear), not all-pairs (quadratic) or a bucket-join explosion
    val mh = Dedup.minhashPairs(docs, threshold = 0.8).collect()
    val star = mh.filter(r => r.getLong(0) == 0L && r.getDouble(2) == 1.0)
    assert(star.length == 9999, s"expected 9999 star pairs, got ${star.length}")
    assert(mh.length < 10050, s"pair output must stay linear, got ${mh.length}")
    // the distinct near-dup pair is still found
    assert(mh.exists(r => r.getLong(0) == 20000L && r.getLong(1) == 20001L))

    val sh = Dedup.simhashPairs(docs, maxHamming = 3).collect()
    val star0 = sh.filter(r => r.getLong(0) == 0L && r.getInt(2) == 0)
    assert(star0.length == 9999)
    assert(sh.length < 10050)
  }

  test("minhash pairs property: random dup-heavy corpora — no false positives, exact groups complete") {
    import spark.implicits._
    val vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split(" ")
    def text(seed: Long): String = {
      val r = new scala.util.Random(seed)
      Seq.fill(8 + r.nextInt(8))(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(1000 + trial)
      // ~30 base docs, each with 0-3 exact copies and occasional near-twins
      val rows = (0 until 30).flatMap { i =>
        val t = text(trial * 100 + i)
        val copies = (0 to rnd.nextInt(4)).map(c => (i * 100L + c, t))
        val near = if (rnd.nextBoolean()) Seq((i * 100L + 50, t + " omega")) else Seq.empty
        copies ++ near
      }
      val docs = rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")))
      val got = Dedup.minhashPairs(docs, threshold = 0.8).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

      val all = rows.toArray
      val sh = all.map { case (id, t) => id -> Dedup.shingleHashes(t) }.toMap
      val truePairs = (for {
        i <- all.indices.iterator; j <- (i + 1) until all.length
        a = math.min(all(i)._1, all(j)._1); b = math.max(all(i)._1, all(j)._1)
        jac = Dedup.exactJaccard(sh(all(i)._1), sh(all(j)._1)) if jac >= 0.8
      } yield ((a, b), jac)).toMap

      // no false positives, and every reported jaccard is the true one
      got.foreach { case (p, j) =>
        assert(truePairs.contains(p), s"trial $trial false positive $p")
        // reported values are rounded to 4 decimals
        assert(math.abs(truePairs(p) - j) < 5e-5, s"trial $trial wrong jaccard at $p")
      }
      // exact-duplicate pairs (jaccard exactly 1.0) must ALL be present
      truePairs.filter(_._2 == 1.0).keys.foreach { p =>
        assert(got.contains(p), s"trial $trial missing exact pair $p")
      }
      // overall recall stays high
      val recall = if (truePairs.isEmpty) 1.0 else got.size.toDouble / truePairs.size
      assert(recall >= 0.9, s"trial $trial recall $recall")
    }
  }

  test("small-corpus dedup semantics: groups under the cap get all-pairs output") {
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, t, "en", "src", t.length), (2L, t, "en", "src", t.length), (3L, t, "en", "src", t.length)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.minhashPairs(docs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0)))
    val gotSim = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotSim == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)))
  }

  test("embedding near-dup: LSH pairs are a high-recall subset of the exact pairs") {
    val truth = Dedup.embeddingNearDupBrute(emb, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val lsh1 = Dedup.embeddingNearDupPairs(emb, threshold = 0.3, nBits = 3, nTables = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh2 = Dedup.embeddingNearDupPairs(emb, threshold = 0.3, nBits = 3, nTables = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh1 == lsh2, "LSH near-dup must be deterministic")
    assert(lsh1.subsetOf(truth), s"false positives: ${lsh1.diff(truth).take(5)}")
    val recall = lsh1.size.toDouble / truth.size
    assert(recall >= 0.8, s"recall $recall (${lsh1.size} of ${truth.size})")
  }

  test("embedding near-dup: LSH pairs equal a driver-side capped-bucket recompute") {
    val (nBits, nTables, maxBucket, threshold) = (4, 8, 8, 0.3)
    val vecs = emb.filter(col("embedding").isNotNull).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val planes = Similarity.tablePlanes(nBits, nTables, vecs.head._2.length)
    val buckets = vecs.toSeq.flatMap { case (id, v) =>
      planes.indices.map(t => (t, Similarity.signBucket(v, planes(t))) -> id)
    }.groupBy(_._1).values.map(_.map(_._2).sorted)
    assert(buckets.exists(_.length > maxBucket), "the cap must bite on this corpus")
    // round(cos, 4) as Spark rounds a double: HALF_UP on its decimal string
    val want = buckets.toSeq.flatMap(_.take(maxBucket).combinations(2).map(p => (p(0), p(1)))).distinct
      .map { case (a, b) => (a, b, Similarity.cos(vecs(a), vecs(b))) }
      .collect { case (a, b, c) if c >= threshold =>
        (a, b, BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }.toSet
    val got = Dedup.embeddingNearDupPairs(emb, threshold = threshold, nBits = nBits,
      nTables = nTables, maxBucket = maxBucket).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == got.toSet.size, "pairs must be distinct")
    assert(got.toSet == want)
    assert(want.nonEmpty)
  }

  test("fingerprint runs as a native expression (no encoder round trip in the plan)") {
    val df = TextAnalysis.fingerprint(docs)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject"), plan)
    // known value: poly31 mod 1e9+7 of the single window of a short doc
    import spark.implicits._
    val one = TextAnalysis.fingerprint(Seq((1L, "Ab c")).toDF("doc_id", "text")).collect()(0).getLong(1)
    val want = "ab c".foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    assert(one == want)
  }

  test("image decode round trip: ImageIO-decoded dims equal declared dims") {
    val assets = Multimodal.generateAssets(spark, 120)
    val v = Multimodal.decodeVerify(assets).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(v.keySet == Multimodal.MediaTypes.toSet)
    v.foreach { case (mt, (has, dims, frames)) =>
      assert(has && dims && frames, s"$mt: has=$has dims=$dims frames=$frames")
    }
    // and the PNG bytes are real PNGs (magic header)
    val png = assets.filter(col("media_type") === "image/png").select("content").head().getAs[Array[Byte]](0)
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
  }

  test("audio decode round trip: real WAV bytes, lossless PCM, decoded rate/frames equal declared") {
    // kernel-level round trip
    val samples = Array.tabulate(512)(i => ((i * 2654435761L) & 0xffff).toShort)
    val wav = Multimodal.AudioCodec.encode(11025, samples)
    assert(wav.take(4).map(_.toChar).mkString == "RIFF") // real WAV container
    val (rate, back) = Multimodal.AudioCodec.decode(wav)
    assert(rate == 11025 && back.toSeq == samples.toSeq)

    // generated audio assets decode to their declared (sample rate, frames)
    val assets = Multimodal.generateAssets(spark, 120)
      .filter(col("media_type") === "audio/wav")
      .select("width", "height", "content").collect()
    assert(assets.nonEmpty)
    assets.foreach { r =>
      val (rt, ss) = Multimodal.AudioCodec.decode(r.getAs[Array[Byte]](2))
      assert(rt == r.getInt(0) && ss.length == r.getInt(1))
    }
  }

  test("multimodal: schema, batch plumbing, frame sampling, determinism") {
    val assets = Multimodal.generateAssets(spark, 200)
    assert(assets.schema("content").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(assets, nDim = 16, framesPerVideo = 4)
    val rows = feats.collect()
    assert(rows.length == 200)
    assert(rows.forall(_.getSeq[Float](5).length == 16))
    // videos sampled to 4 frames, everything else 1
    rows.foreach { r =>
      val frames = r.getInt(4)
      if (r.getString(1).startsWith("video")) assert(frames == 4) else assert(frames == 1)
    }
    // determinism across runs & partitionings
    val again = Multimodal.extractFeatures(assets.repartition(7), nDim = 16, framesPerVideo = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](5)).toMap
    val first = rows.map(r => r.getLong(0) -> r.getSeq[Float](5)).toMap
    assert(again == first)
    val stats = Multimodal.featureStats(feats).collect()
    assert(stats.length == Multimodal.MediaTypes.size)
  }

  /** `f`'s value and the artifacts it built, with their printed seconds:
    * SparkEntry prints one `[graft-stage] <name> <secs>` line per artifact
    * build.
    */
  private def stageLines[T](f: => T): (T, Seq[(String, Double)]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val r = try f finally System.setErr(err)
    (r, buf.toString("UTF-8").linesIterator.collect {
      case l if l.startsWith("[graft-stage] ") => val w = l.split(' '); (w(1), w(2).toDouble) }.toSeq)
  }

  /** `f`'s value and the names of the artifacts it built. */
  private def staging[T](f: => T): (T, Seq[String]) = {
    val (r, lines) = stageLines(f)
    (r, lines.map(_._1))
  }

  test("artifact memo: a rebuilt query reuses its artifacts; a new session stages its own") {
    // files read from staged artifacts (the sf tables are shared by every session)
    def build(s: SparkSession, name: String) = {
      val df = graft.SparkEntry.queries(name)(s, sfDir)
      (df.collect().toSeq, df.inputFiles.filterNot(_.contains(sfDir)).toSet)
    }
    val fresh = spark.newSession()
    val freshStaged = Seq("d3_minhash_pairs", "d9_minhash_recall", "d11_dedup_pipeline",
      "s3_knn_ivf", "s5_ivf_recall", "s7_ivfpq_recall", "s9_ivf_twolevel_recall",
      "s12_knn_filtered", "q21_heavy_hitters", "l1_log_events").flatMap { name =>
      val (rows, files) = build(spark, name)
      // l1 collects its staged chunk index on the driver, so its plan reads
      // no file; its reuse shows as the missing [graft-stage] line below
      if (name != "l1_log_events") assert(files.nonEmpty, name)
      val ((again, againFiles), restaged) = staging(build(spark, name))
      assert(again == rows, name)
      assert(againFiles == files, name)
      assert(restaged.isEmpty, s"$name staged $restaged again")
      val ((other, otherFiles), staged) = staging(build(fresh, name))
      assert(other == rows, name)
      assert(otherFiles.intersect(files).isEmpty, name)
      staged
    }
    assert(Set("d3-pairs", "truth", "brute-truth", "vectors", "ivf-model", "ivf", "knn-ivf",
      "ivfpq", "knn-ivfpq", "ivf2l-model", "ivf2l", "knn-ivf2l", "q21", "l1-chunks")
      .subsetOf(freshStaged.toSet), freshStaged)
    assert(freshStaged.distinct == freshStaged, freshStaged)
    // builds nest: a cold top-k set stages its index, which stages its model
    val t0 = System.nanoTime()
    val (_, coldLines) =
      stageLines(graft.SparkEntry.queries("s7_ivfpq_recall")(spark.newSession(), sfDir))
    val wall = (System.nanoTime() - t0) / 1e9
    val cold = coldLines.map(_._1)
    val at = Seq("ivf-model", "ivfpq", "knn-ivfpq").map(cold.indexOf)
    assert(at.forall(_ >= 0) && at == at.sorted, cold)
    // each line is its build's own seconds, nested builds subtracted, so the
    // lines sum to at most the construction's wall time (plus rounding)
    assert(coldLines.map(_._2).sum <= wall + 0.005 * coldLines.size, s"$coldLines vs wall $wall s")
  }

  test("artifact memo: a build that throws caches nothing; the next call builds") {
    val dir = java.nio.file.Paths.get(graft.pipeline.Staging.tempDirDeletedOnExit("graft-memo"), "sf0.001")
    java.nio.file.Files.createDirectories(dir)
    val q21 = graft.SparkEntry.queries("q21_heavy_hitters")
    intercept[org.apache.spark.sql.AnalysisException](q21(spark, dir.toString)) // no events table
    java.nio.file.Files.createSymbolicLink(dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    assert(q21(spark, dir.toString).collect().toSeq == q21(spark, sfDir).collect().toSeq)
  }

  test("all SparkEntry queries run on sf0.001 and return rows") {
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
