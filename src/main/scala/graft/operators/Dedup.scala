package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.Rng

/** Deduplication operators over the `documents` table, exact → fuzzy:
  *
  *  - exact / normalized: hash-groupBy — one shuffle on the (normalized)
  *    text's ~96-bit [[textKey]], map-side partial agg; the key keeps
  *    shuffle rows small and the body never moves, and a lone 64-bit hash
  *    would merge colliding texts.
  *  - MinHash + LSH: exact-dedup FIRST (identical texts collapse to one
  *    representative — map-side combine shrinks dup-heavy inputs before the
  *    shuffle), then shingle → minhash signature → banded bucket join on the
  *    representatives only → exact-Jaccard verification of candidates.
  *  - SimHash: 64-bit signature via the native SimHash64 expression;
  *    near-dup = small hamming distance within LSH buckets of the top bits,
  *    again on signature-distinct representatives only.
  *
  * Hot-bucket defusal (the 100 TB failure mode): dedup input is by
  * definition dup-heavy, and round-1's within-bucket self-join went
  * quadratic exactly when there was lots to find. Now (a) exact duplicates
  * never reach the LSH buckets — a cluster of 100k identical pages is ONE
  * bucket row; (b) residual hot buckets (distinct-but-near templates) are
  * capped at `maxBucket` rows per (band, bucket) — the pair join is bounded
  * by maxBucket² per bucket; other bands usually recover pairs a cap drops;
  * (c) pair output for exact-duplicate groups is linear, not quadratic:
  * groups up to `maxGroupExpand` emit all in-group pairs (matching the
  * all-pairs semantics small corpora expect), larger groups emit
  * representative→member star pairs only.
  */
object Dedup {

  /** Exact duplicate groups: smallest doc_id survives. Shuffles only
    * (key, doc_id) — the text body never moves.
    */
  def exact(documents: DataFrame): DataFrame = duplicateGroups(documents, col("text"))

  /** Normalized dedup: trim, collapse whitespace runs to one space,
    * lowercase, then group. Spark's `trim` strips spaces only, so a leading
    * or trailing tab or newline survives it and the collapse turns it into
    * one kept space: `"x\n"` normalizes to `"x "` and does not group with
    * `"x"`. The d2 oracle trims and collapses in the same order, so this is
    * the defined semantics.
    */
  def normalized(documents: DataFrame): DataFrame =
    duplicateGroups(documents, lower(regexp_replace(trim(col("text")), "\\s+", " ")))

  /** Groups of more than one document sharing `text`'s [[textKey]]:
    * (keep_id = smallest doc_id, n_dups).
    */
  private def duplicateGroups(documents: DataFrame, text: Column): DataFrame =
    documents
      .select(col("doc_id"), textKey(text).as("tk"))
      .groupBy("tk")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)
      .select("keep_id", "n_dups")

  /** Character shingles of a lowercased text (deterministic hash per
    * shingle). Pure function shared by the Spark path and the test oracle.
    */
  def shingleHashes(text: String, k: Int = 5): Array[Long] = {
    val s = text.toLowerCase.replaceAll("\\s+", " ").trim
    if (s.length < k) {
      if (s.isEmpty) Array.empty else Array(graft.functions.SimHash64.wordHash(s))
    } else {
      val out = new Array[Long](s.length - k + 1)
      var i = 0
      while (i + k <= s.length) { out(i) = graft.functions.SimHash64.wordHash(s.substring(i, i + k)); i += 1 }
      java.util.Arrays.sort(out)
      // distinct in place
      var n = 0
      var j = 0
      while (j < out.length) {
        if (n == 0 || out(n - 1) != out(j)) { out(n) = out(j); n += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(out, n)
    }
  }

  /** MinHash signature: numHashes permutations simulated by splitmix-mixed
    * seeds (min over mixed shingle hashes). Values are exactly
    * `Rng.mix2(shingle, h·φ + 1)` = `mix(mix(shingle) ^ seed_h)`, with the
    * inner `mix(shingle)` hoisted out of the per-hash loop and the seeds
    * precomputed — one mix call per (shingle, hash) instead of two, on the
    * O(shingles · numHashes) kernel that dominates the minhash LSH build.
    * Bit-identical signatures (same composition, reassociated).
    */
  def minhashSignature(shingles: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val seeds = new Array[Long](numHashes)
    var s = 0
    while (s < numHashes) { seeds(s) = s.toLong * 0x9E3779B97F4A7C15L + 1; s += 1 }
    var i = 0
    while (i < shingles.length) {
      val pre = Rng.mix(shingles(i))
      var h = 0
      while (h < numHashes) {
        val v = Rng.mix(pre ^ seeds(h))
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  def exactJaccard(a: Array[Long], b: Array[Long]): Double = {
    // both sorted distinct
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** `df` written to `stagingDir/name` and read back, or `df` itself when
    * staging is off. Refuses a non-empty directory: staging used to
    * overwrite silently, which meant reusing one path across calls
    * invalidated the lazy frame an EARLIER call returned over the same
    * files — wrong results with no error. A caller who wants to reuse a
    * path must delete it first ([[graft.pipeline.Staging.deleteRecursively]]).
    */
  private def stagedOr(df: DataFrame, stagingDir: Option[String], name: String): DataFrame =
    stagingDir.fold(df) { root =>
      val dir = s"$root/$name"
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      require(!fs.exists(p) || fs.listStatus(p).isEmpty,
        s"staging dir $dir is non-empty: a frame returned by an earlier call may still read it, " +
          "and overwriting would silently corrupt that frame's results. Pass a fresh dir per " +
          "call (Staging.tempDir) or delete it first (Staging.deleteRecursively).")
      // overwrite is safe here — emptiness was just checked; it only tolerates
      // the pre-created empty dir Staging.tempDir hands out
      df.write.mode("overwrite").parquet(dir)
      df.sparkSession.read.parquet(dir)
    }

  /** Exact-text group key: 64-bit xxhash + crc32 + length ≈ 96 bits — a
    * collision would silently merge two different texts into one exact
    * group, so one hash is not enough at web scale.
    */
  private[graft] def textKey(text: Column): Column =
    struct(xxhash64(text).as("xx"), crc32(text.cast("binary")).as("crc"), length(text).as("len"))

  /** Candidate pairs `(band, bucket, id_a, id_b, <c>_a, <c>_b …)` within a
    * (band, bucket) of `banded` (band, bucket, doc_id, carry…), with
    * id_a < id_b. Each bucket is first capped to its `maxBucket` lowest
    * doc_ids: the window sort is O(n log n) per bucket — bounded work even
    * on a degenerate bucket — and the self-join is bounded by maxBucket²
    * per bucket. Both join sides reference the capped rows, so staging
    * writes them once (`banded`) instead of running the banding twice.
    */
  private def bucketPairs(banded: DataFrame, maxBucket: Int, stagingDir: Option[String],
                          carry: String*): DataFrame = {
    val w = Window.partitionBy("band", "bucket").orderBy("doc_id")
    val capped = stagedOr(
      banded.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= maxBucket).drop("_rn"),
      stagingDir, "banded")
    def side(s: String): DataFrame = capped.select(Seq(col("band"), col("bucket"),
      col("doc_id").as(s"id_$s")) ++ carry.map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
  }

  /** Expand representative-level near-dup pairs and exact groups back to
    * document-level pairs with linear-per-group guarantees:
    *  - groups ≤ maxGroupExpand: all in-group pairs (jaccard/hamming of
    *    identical texts) and full cross products on near pairs — identical
    *    to all-pairs semantics while groups are small;
    *  - larger groups: representative→member star pairs only, and only the
    *    representative participates in cross pairs (output stays O(group)).
    *
    * `members` columns: (doc_id, rep_id, grp_n); `repPairs` columns:
    * (rep_a, rep_b, score). Returns (id_a, id_b, score).
    */
  private def expandPairs(members: DataFrame, repPairs: DataFrame,
                          scoreCol: String, exactScore: Column,
                          maxGroupExpand: Int): DataFrame = {
    val small = members.filter(col("grp_n") <= maxGroupExpand)
    val inSmall = small.select(col("rep_id"), col("doc_id").as("id_a"))
      .join(small.select(col("rep_id"), col("doc_id").as("id_b")), "rep_id")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), exactScore.as(scoreCol))
    val inBig = members.filter(col("grp_n") > maxGroupExpand && col("doc_id") =!= col("rep_id"))
      .select(col("rep_id").as("id_a"), col("doc_id").as("id_b"), exactScore.as(scoreCol))
    // cross expansion: each side of a rep pair fans out to its group's
    // members if the group is small, else just the representative
    val expandable = members
      .filter(col("grp_n") <= maxGroupExpand || col("doc_id") === col("rep_id"))
      .select(col("rep_id"), col("doc_id"))
    val cross = repPairs
      .join(expandable.select(col("rep_id").as("rep_a"), col("doc_id").as("ma")), "rep_a")
      .join(expandable.select(col("rep_id").as("rep_b"), col("doc_id").as("mb")), "rep_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col(scoreCol))
    inSmall.unionByName(inBig).unionByName(cross)
  }

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Plan shape (scale-reviewed): exact-text collapse (one body shuffle with
    * map-side combine — dup clusters shrink before they move); signatures on
    * representatives only; bands explode to `bands` slim rows per rep;
    * capped bucket self-join; exact verify joins the shingle sets back only
    * for candidate ids; linear-per-group pair expansion. With b=16 bands of
    * r=8 rows the LSH S-curve crosses ~0.5 at j≈0.84 — tuned for
    * threshold 0.8.
    */
  def minhashPairs(
      documents: DataFrame,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 5,
      maxBucket: Int = 4096,
      maxGroupExpand: Int = 64,
      /** Optional parquet staging for the exact-collapse result. The
        * collapse feeds four plan branches (banding, verification ×2,
        * expansion); the default lazy plan recomputes it per branch —
        * acceptable only for small corpora (measured 7+ full text scans),
        * so pass a directory for anything real: the collapsed uniques are
        * written ONCE at call time and every branch reads the slim staged
        * table (the standard multi-job shape of production dedup
        * pipelines). Left None, the lazy plan is returned and building it
        * runs no Spark job. The CALLER owns the directory's lifecycle:
        * supply a unique path per call (a non-empty dir is refused —
        * overwriting would corrupt the lazy frame an earlier call returned
        * over the same files) and delete it after the last action over the
        * returned frame
        * ([[graft.pipeline.Staging]] has helpers). An internal .persist()
        * is deliberately NOT used: the operator returns a lazy frame, so it
        * could never unpersist, and a leaked cache entry degrades every
        * later job in the app (measured: a held 150k-doc cache made the
        * next operator 7× slower).
        */
      stagingDir: Option[String] = None
  ): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0)
    val rows = numHashes / bands

    // exact-text collapse: representatives carry the body onward; the
    // groupBy's partial aggregation collapses duplicate texts map-side
    val collapsed = documents.select(col("doc_id"), col("text"), textKey(col("text")).as("tk"))
      .groupBy("tk")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("grp_n"), first("text").as("text"))
    // WIDE staged write: AQE's partition coalescing shrinks the small
    // post-groupBy collapse to 1–2 files, and the signature/banding pass
    // (128 mixed hashes per shingle per representative — the CPU-heaviest
    // map in this operator) then reads 1–2 partitions and runs on as many
    // cores. An explicit numbered repartition is exempt from AQE
    // coalescing, so the staged table keeps defaultParallelism files and
    // the banding pass runs full-width. Row set unchanged.
    val groups = stagedOr(
      if (stagingDir.isEmpty) collapsed else collapsed.repartition(spark.sparkContext.defaultParallelism),
      stagingDir, "collapse")
    val members = documents.select(col("doc_id"), textKey(col("text")).as("tk"))
      .join(groups.select("tk", "rep_id", "grp_n"), "tk")
      .select("doc_id", "rep_id", "grp_n")
    val uniq = groups.select(col("rep_id").as("doc_id"), col("text"))

    // band buckets over representatives: (band, hash(sig slice)) slim rows
    val banded = uniq.as[(Long, String)].flatMap { case (id, text) =>
      val sig = minhashSignature(shingleHashes(text, shingleK), numHashes)
      (0 until bands).iterator.map { b =>
        var h = 1125899906842597L
        var r = 0
        while (r < rows) { h = h * 31 + sig(b * rows + r); r += 1 }
        (b, h, id)
      }
    }.toDF("band", "bucket", "doc_id")

    // candidate pairs; lazily, both self-join sides re-run the signature
    // pass (the operator's dominant kernel), staged it runs once
    val candidates = bucketPairs(banded, maxBucket, stagingDir)
      .select(col("id_a").as("rep_a"), col("id_b").as("rep_b"))
      .distinct()

    // exact verification on the candidate pairs only (shingles recomputed
    // for representatives — no persist, no eager materialization)
    val shingled = uniq.as[(Long, String)]
      .map { case (id, text) => (id, shingleHashes(text, shingleK)) }
      .toDF("id", "sh")
    val repPairs = candidates
      .join(shingled.select(col("id").as("rep_a"), col("sh").as("sh_a")), "rep_a")
      .join(shingled.select(col("id").as("rep_b"), col("sh").as("sh_b")), "rep_b")
      .select(col("rep_a"), col("rep_b"),
        graft.functions.functions.jaccard_sorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

    expandPairs(members, repPairs, "jaccard", lit(1.0d), maxGroupExpand)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Fan a narrow scan out to the session's default parallelism before a
    * CPU-heavy per-row pass (shingling, n-gram hashing, all-pairs cosine).
    * The validation tables are single-row-group parquet files, so their
    * scans yield 1–3 partitions and an O(rows·work) map would run on as
    * many cores; the exchange is a few MB and buys full-width execution.
    * SCALE-SAFE no-op: when the input already has at least
    * `defaultParallelism` partitions (any real multi-file corpus), nothing
    * is added — this never COALESCES a wide scan. Row set unchanged.
    */
  private def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Sound Jaccard upper-bound prefilter on array SIZES: for distinct sets,
    * |a ∩ b| ≤ min(|a|,|b|) and |a ∪ b| ≥ max(|a|,|b|), so
    * j ≤ min/max — a pair whose size ratio cannot reach `threshold` can be
    * dropped WITHOUT touching the arrays. Safe in floating point: real
    * j ≤ real min/max and double division rounds monotonically, so
    * fl(j) ≤ fl(min/max) — a pair this drops would have failed the
    * downstream `jaccard >= threshold` filter too. The `max = 0` case
    * (both sets empty, j defined as 1.0) is kept explicitly. Evaluates as
    * two int comparisons + one division per pair, vs a full sorted-merge —
    * the cheap cut the all-pairs verification jobs apply before scoring.
    */
  private def sizeBoundReaches(nA: Column, nB: Column, threshold: Double): Column = {
    val mn = least(nA, nB).cast("double")
    val mx = greatest(nA, nB).cast("double")
    (mx === 0.0d) || (mn / mx >= threshold)
  }

  /** SimHash near-dup pairs: signature-distinct representatives bucketed by
    * the four 16-bit slices (LSH for hamming space ≤3 needs any one slice
    * equal... with 4 slices and ≤3 flipped bits, at least one slice is
    * untouched — recall 1.0 within the cap), hamming verified via
    * bit_count(sig_a ^ sig_b). Column-only: no typed map, no collect_list.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 4096, maxGroupExpand: Int = 64,
                   /** Same contract as [[minhashPairs]]'s stagingDir: the
                     * signature table (doc_id, sig — 16 bytes/row) feeds the
                     * group-agg and the member-join branches; lazily each
                     * branch re-scans the corpus TEXT and re-hashes it.
                     * Staged, the text is read once and every branch reads
                     * the slim parquet. Caller owns the (unique, initially
                     * empty) path; None returns the lazy plan.
                     */
                   stagingDir: Option[String] = None): DataFrame = {
    require(maxHamming <= 3, "4×16-bit banding guarantees recall only for hamming ≤ 3")
    val sigsPlan = documents.select(col("doc_id"),
      graft.functions.functions.simhash64(col("text")).as("sig"))
    val sigs = stagedOr(sigsPlan, stagingDir, "sigs")

    // signature-identical collapse (identical texts have identical sigs)
    val groups = sigs.groupBy("sig")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("grp_n"))
    val members = sigs.join(groups, "sig").select("doc_id", "rep_id", "grp_n")
    val uniq = groups.select(col("rep_id").as("doc_id"), col("sig"))

    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bucket"))
    }
    val banded = uniq
      .select(col("doc_id"), col("sig"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("doc_id"), col("sig"))

    val repPairs = bucketPairs(banded, maxBucket, stagingDir, "sig")
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a").as("rep_a"), col("id_b").as("rep_b"), col("hamming"))
      .distinct()

    expandPairs(members, repPairs, "hamming", lit(0), maxGroupExpand)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
  }

  /** Embedding-cosine near-duplicate pairs — the scale path: multi-table
    * random-hyperplane LSH buckets the corpus, candidate pairs form within
    * capped buckets, and exact cosine verifies each candidate. Recall
    * follows the standard multi-table LSH S-curve (1-(1-p^b)^L); the exact
    * twin below is the oracle.
    *
    * The buckets are [[Similarity.lshIndex]]'s, so the planes are the ANN
    * index's; its table id (the bucket's high 32 bits) is the band.
    *
    * Payload shape (the 100 TB bytes-moved budget): banding, the bucket cap
    * window, and the within-bucket self-join all run on SLIM (band, bucket,
    * doc_id) rows — round 3 shipped the full embedding through all of them
    * ×nTables, i.e. 8–12 corpus-sized vector payloads per run. The vector
    * corpus now crosses an exchange exactly twice, joining back onto the
    * DISTINCT candidate pairs for the exact-cosine verification.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double = 0.3,
                            nBits: Int = 4, nTables: Int = 8,
                            maxBucket: Int = 4096): DataFrame = {
    val banded = Similarity.lshIndex(embeddings, nBits, nTables)
      .select(shiftrightunsigned(col("bucket"), 32).as("band"), col("bucket"), col("id").as("doc_id"))
    val candidates = bucketPairs(banded, maxBucket, None).select("id_a", "id_b").distinct()

    val vecs = embeddings.filter(col("embedding").isNotNull).select(col("vec_id"), col("embedding"))
    candidates
      .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.functions.cosine_similarity(col("emb_a"), col("emb_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Exact all-pairs embedding-cosine twin: the O(n²) labeled baseline and
    * the DuckDB-verifiable oracle for the LSH path above.
    */
  def embeddingNearDupBrute(embeddings: DataFrame, threshold: Double = 0.3): DataFrame = {
    // same null guard as the LSH path, so the d7 recall gate's exact and
    // approximate sides see identical inputs
    val nonNull = embeddings.filter(col("embedding").isNotNull)
    // the streamed (left) side fans out so the O(n²) cosine loop runs on
    // every core instead of the scan's 1–2 partitions; the right side stays
    // the broadcast build side
    val a = fanOut(nonNull.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")))
    val b = nonNull.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.functions.cosine_similarity(col("emb_a"), col("emb_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Collapse verified near-duplicate PAIRS into canonical clusters: the
    * keep/drop decision a dedup pipeline actually emits. Connected
    * components over the undirected pair graph; the representative is the
    * SMALLEST doc_id in each component (transitively: a~b, b~c ⇒ a,b,c one
    * cluster even if a~c was never scored). Returns (doc_id, rep_id) for
    * every document that appears in at least one pair — docs with
    * rep_id != doc_id are the drop list.
    *
    * Transitive closure is the one dedup step DataFrame algebra cannot
    * express (it is inherently iterative), so this uses the platform's
    * native answer: GraphX Pregel connected components — O(diameter)
    * supersteps, each a pregel message exchange, no driver-side loop over
    * collected data. Component ids from GraphX are already the minimum
    * vertex id, which is exactly the min-doc_id-survives convention the
    * exact/normalized dedup operators use.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].rdd
    // SIZE the Pregel graph to the pair set: every connected-components
    // superstep schedules a task per partition, so a few-thousand-edge
    // graph spread over the join's shuffle width pays ~number-of-supersteps
    // × width in pure task overhead (measured 1.3–2.9 s as-is vs 0.37 s
    // coalesced at the d8 validation pair set). Target ≈ 16 MB of edges per
    // partition from the OPTIMIZER'S size estimate — no extra job; computed
    // (non-scan) inputs without a usable estimate keep their width
    // (conservative no-op), and coalesce never increases partitions, so a
    // corpus-scale pair set keeps its parallelism. Result is unchanged:
    // connected components and the min-id representative are
    // partition-invariant.
    val bytes = pairs.queryExecution.optimizedPlan.stats.sizeInBytes
    val perPart = BigInt(16L << 20)
    val target =
      if (bytes <= 0 || bytes >= perPart * edges.getNumPartitions) edges.getNumPartitions
      else ((bytes + perPart - 1) / perPart).toInt.max(1)
    val sized = if (target < edges.getNumPartitions) edges.coalesce(target) else edges
    org.apache.spark.graphx.Graph.fromEdgeTuples(sized, defaultValue = 1)
      .connectedComponents()
      .vertices
      .toDF("doc_id", "rep_id")
  }

  /** Exact character-k-shingle Jaccard pairs, blocked by `source` to bound
    * the pair space — the TRUTH SET the d9/d10 driver gates measure the
    * MinHash/SimHash scale paths against. This is the similarity MinHash
    * approximates (same [[shingleHashes]] normalization and shingling), it
    * is labeled O(n²)-within-block (oracle twin, never a scale path), and
    * its semantics are plain list algebra, so DuckDB recomputes it exactly
    * from the text — which finally puts the two heaviest dedup operators on
    * the driver's hard correctness signal instead of rows-only checks.
    *
    * VALIDATION-SCALE CONTRACT: each source block is capped at its
    * `maxBlock` lowest doc_ids before the self-join, so pointing a larger
    * corpus at this gate degrades it to a (deterministic, documented)
    * lowest-id sample per block instead of silently going quadratic —
    * within-block work is bounded by maxBlock². The d9/d10/d11 DuckDB
    * oracles mirror the cap (QUALIFY row_number() per source). A LOWEST-ID
    * sample is deliberately NOT an unbiased one (on id-correlated corpora it
    * can drop exactly the duplicate rows a gate wants to find), so a capped
    * truth set must never grade silently: the d9/d10/d11 gates carry a
    * `truth_capped` flag whose oracle pins FALSE — a corpus big enough to
    * trip the cap turns those gates red instead of vacuously green.
    */
  val TruthMaxBlock = 4096

  def shingleJaccardPairs(documents: DataFrame, k: Int = 5,
                          threshold: Double = 0.8, maxBlock: Int = TruthMaxBlock): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val slim = documents.select("doc_id", "source", "text")
    // ADAPTIVE CAP: the row_number window pays an exchange + sort that both
    // join sides re-execute (~10% of this staging job, measured in
    // BENCH/BASELINE.md §0e), yet at any scale this gate is ALLOWED to run
    // at (truth_capped pinned false) no block exceeds maxBlock and the
    // window is an exact no-op. One column-pruned partial-agg count decides
    // — orders cheaper than the window it skips — and the capped branch is
    // byte-identical to always-windowing when a block does exceed the cap.
    // DELIBERATE EAGER ACTION at construction time (same contract as the
    // bounded auto-stage probe above): this builder exists to be executed
    // immediately — its one production caller stages the result to parquet
    // and memoizes it per process — so the probe runs once, not per gate.
    val needsCap = slim.groupBy("source").count()
      .filter(col("count") > maxBlock).limit(1).count() > 0
    val capped =
      if (!needsCap) slim
      else {
        val wB = Window.partitionBy("source").orderBy("doc_id")
        slim.withColumn("_rn", row_number().over(wB))
          .filter(col("_rn") <= maxBlock)
          .drop("_rn")
      }
    blockedJaccard(fanOut(capped).as[(Long, String, String)]
      .map { case (id, src, t) => (id, src, shingleHashes(t, k)) }
      .toDF("doc_id", "source", "set"), threshold)
  }

  /** Exact Jaccard >= `threshold` pairs (id_a, id_b, jaccard) of sorted
    * distinct `set`s within a `source` block of (doc_id, source, set).
    * The scoring predicates live IN the join condition, in this explicit
    * order: same block, cheap ordered-pair cut, then the two-int size bound
    * (sound — see [[sizeBoundReaches]]), then the sorted-merge only for
    * pairs that survive all three. (Applied as separate .filter()s,
    * Catalyst merged them into the join condition with jaccard_sorted
    * FIRST — the merge then ran for both (a,b) and (b,a) orderings of every
    * pair; conjuncts keep their written order, so this shape guarantees the
    * expensive kernel evaluates last.) Scoring is pure Column algebra, so
    * whole-stage codegen runs it end to end: a per-pair typed `.map` would
    * deserialize both arrays out of Tungsten for every O(n²)-within-block
    * pair.
    */
  private def blockedJaccard(sets: DataFrame, threshold: Double): DataFrame = {
    val sized = sets.withColumn("n", size(col("set")))
    def side(s: String): DataFrame = sized.select(col("source").as(s"src_$s"),
      col("doc_id").as(s"id_$s"), col("set").as(s"set_$s"), col("n").as(s"n_$s"))
    val jac = graft.functions.functions.jaccard_sorted(col("set_a"), col("set_b"))
    side("a").join(side("b"), col("src_a") === col("src_b") && col("id_a") < col("id_b") &&
        sizeBoundReaches(col("n_a"), col("n_b"), threshold) && jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
  }

  /** Word n-gram Jaccard similarity, blocked by `source` to bound the pair
    * space (exact within blocks — the brute-force comparison baseline, and
    * the one dedup operator simple enough for a full DuckDB oracle).
    */
  def ngramJaccardPairs(documents: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    blockedJaccard(fanOut(documents.select("doc_id", "source", "text")).as[(Long, String, String)]
      .map { case (id, src, text) =>
        val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val gs: Array[Long] =
          if (words.length < n) Array(graft.functions.SimHash64.wordHash(words.mkString(" ")))
          else words.sliding(n).map(g => graft.functions.SimHash64.wordHash(g.mkString(" "))).toArray
        java.util.Arrays.sort(gs)
        (id, src, gs.distinct)
      }.toDF("doc_id", "source", "set"), threshold)
  }
}
