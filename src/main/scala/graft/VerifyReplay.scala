package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import graft.functions.SimHash64
import graft.operators.{Dedup, Similarity}

/** Sequential (single-threaded) replays of the five driver queries whose
  * raw outputs are not ANSI-SQL-expressible — MinHash/SimHash LSH pair sets
  * (d3/d4) and the three staged ANN top-k sets (s2/s3/s6). Same pattern as
  * Verify's m1 replay: every transformation below is a plain driver loop
  * composed from the SAME pure per-row kernels the distributed operators
  * broadcast (shingle/minhash/simhash/planes/centroid/ADC functions of
  * seeded state), so the staged parquet these produce pins Spark's
  * distributed plans — collapse staging, bucket caps, candidate joins,
  * per-partition heaps, broadcast re-ranks, window cuts — against an
  * implementation with none of that machinery. Spark is used only to READ
  * the input parquet (a bounded collect at verify scale) and to WRITE the
  * replay result; no computation runs in an executor.
  *
  * Determinism contract: all five paths order ties explicitly
  * (score desc, id asc / lowest-id caps / hash-ordered caps), so the
  * sequential result is exactly the distributed result, not merely
  * statistically close. Double arithmetic replicates the distributed
  * operation order (same kernels, same accumulation sequence) so the
  * rounded scores are bit-identical.
  */
object VerifyReplay {

  /** Spark's round(col, 4) twin for DOUBLE (BigDecimal HALF_UP). */
  private def r4(v: Double): Double =
    java.math.BigDecimal.valueOf(v).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** [[graft.functions.CosineSimilarity.compute]] twin over plain arrays —
    * identical operation order, so the doubles are bit-identical to the
    * codegen'd expression the re-rank joins evaluate.
    */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; nx += x * x; ny += y * y
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  /** (score desc, id asc) — the total order every top-k window applies. */
  private val scoreOrd: Ordering[(Long, Double)] =
    Ordering.fromLessThan[(Long, Double)] { case ((i1, s1), (i2, s2)) =>
      s1 > s2 || (s1 == s2 && i1 < i2)
    }

  private def topK(qid: Long, scored: Seq[(Long, Double)], k: Int): Seq[(Long, Int, Long, Double)] =
    scored.sorted(scoreOrd).take(k).zipWithIndex.map { case ((id, s), i) =>
      (qid, i + 1, id, r4(s))
    }

  // ------------------------------------------------------------ inputs --

  def readDocs(spark: SparkSession, sfDir: String): Seq[(Long, String)] =
    spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
      .collect().iterator.map(r => (r.getLong(0), r.getString(1))).toVector

  /** Sequential twin of SparkEntry.docsWithDups / DocsWithDupsSql — the
    * deterministic duplicate injection both engines apply.
    */
  def withDups(docs: Seq[(Long, String)]): Seq[(Long, String)] =
    docs ++
      docs.filter(_._1 % 5 == 0).map { case (id, t) => (id + 100000L, t) } ++
      docs.filter(_._1 % 7 == 0).map { case (id, t) => (id + 200000L, t.replaceAll("table", "tables")) }

  def readEmbeddings(spark: SparkSession, sfDir: String): Seq[(Long, Array[Float])] =
    spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
      .collect().iterator
      .filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toVector

  // ------------------------------------------------- d3: minhash pairs --

  /** Sequential [[Dedup.minhashPairs]] (defaults of the d3 driver query):
    * exact-text collapse → minhash banding on representatives → lowest-id
    * bucket cap → candidate pairs → exact-Jaccard verify → linear group
    * expansion. Returns (id_a, id_b, jaccard).
    */
  def d3Pairs(docs: Seq[(Long, String)], threshold: Double = 0.8, numHashes: Int = 128,
              bands: Int = 16, shingleK: Int = 5, maxBucket: Int = 4096,
              maxGroupExpand: Int = 64): Seq[(Long, Long, Double)] = {
    val rows = numHashes / bands
    // collapse groups by the text itself — the semantics the distributed
    // 96-bit textKey encodes (a key collision there would be a real bug,
    // and this oracle would catch it)
    val groups = docs.groupBy(_._2).map { case (text, ms) =>
      (ms.iterator.map(_._1).min, ms.length.toLong, text)
    }.toVector
    val repPairs = verifiedRepPairs(groups.map { case (rep, _, text) => (rep, text) },
      threshold, numHashes, bands, rows, shingleK, maxBucket)
    expand(docs, groups, repPairs, exactScore = 1.0, maxGroupExpand)
      .map { case (a, b, j) => (a, b, r4(j)) }
  }

  private def verifiedRepPairs(reps: Seq[(Long, String)], threshold: Double, numHashes: Int,
                               bands: Int, rows: Int, shingleK: Int,
                               maxBucket: Int): Seq[(Long, Long, Double)] = {
    val banded = reps.flatMap { case (rep, text) =>
      val sig = Dedup.minhashSignature(Dedup.shingleHashes(text, shingleK), numHashes)
      (0 until bands).map { b =>
        var h = 1125899906842597L
        var r = 0
        while (r < rows) { h = h * 31 + sig(b * rows + r); r += 1 }
        ((b, h), rep)
      }
    }
    val candidates = banded.groupBy(_._1).valuesIterator.flatMap { ms =>
      val ids = ms.map(_._2).sorted.take(maxBucket)
      for (i <- ids.indices.iterator; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.toSet
    val sh = reps.map { case (rep, text) => rep -> Dedup.shingleHashes(text, shingleK) }.toMap
    candidates.iterator.flatMap { case (a, b) =>
      val j = Dedup.exactJaccard(sh(a), sh(b))
      if (j >= threshold) Some((a, b, j)) else None
    }.toVector
  }

  // ------------------------------------------------- d4: simhash pairs --

  /** Sequential [[Dedup.simhashPairs]] (d4 defaults): signature-identical
    * collapse → 4×16-bit banding → lowest-id bucket cap → hamming verify →
    * linear group expansion. Returns (id_a, id_b, hamming).
    */
  def d4Pairs(docs: Seq[(Long, String)], maxHamming: Int = 3, maxBucket: Int = 4096,
              maxGroupExpand: Int = 64): Seq[(Long, Long, Int)] = {
    val sigs = docs.map { case (id, t) => (id, SimHash64.compute(t)) }
    val groups = sigs.groupBy(_._2).map { case (sig, ms) =>
      (ms.iterator.map(_._1).min, ms.length.toLong, sig)
    }.toVector
    val banded = groups.flatMap { case (rep, _, sig) =>
      (0 until 4).map(b => ((b, (sig >>> (b * 16)) & 0xFFFFL), (rep, sig)))
    }
    val sigOf = groups.map { case (rep, _, sig) => rep -> sig }.toMap
    val candidates = banded.groupBy(_._1).valuesIterator.flatMap { ms =>
      val ids = ms.map(_._2._1).sorted.take(maxBucket)
      for (i <- ids.indices.iterator; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.toSet
    val repPairs = candidates.iterator.flatMap { case (a, b) =>
      val h = SimHash64.hamming(sigOf(a), sigOf(b))
      if (h <= maxHamming) Some((a, b, h.toDouble)) else None
    }.toVector
    // members are keyed by signature-identity here (not text-identity)
    val repOfSig = groups.map { case (rep, _, sig) => sig -> rep }.toMap
    val nOfSig = groups.map { case (rep, n, sig) => sig -> n }.toMap
    val members = sigs.map { case (id, sig) => (id, repOfSig(sig), nOfSig(sig)) }
    expandMembers(members, repPairs, exactScore = 0.0, maxGroupExpand)
      .map { case (a, b, h) => (a, b, h.toInt) }
  }

  // --------------------------------------------- shared pair expansion --

  private def expand(docs: Seq[(Long, String)], groups: Seq[(Long, Long, String)],
                     repPairs: Seq[(Long, Long, Double)], exactScore: Double,
                     maxGroupExpand: Int): Seq[(Long, Long, Double)] = {
    val repOfText = groups.map { case (rep, _, text) => text -> rep }.toMap
    val nOfText = groups.map { case (_, n, text) => text -> n }.toMap
    val members = docs.map { case (id, text) => (id, repOfText(text), nOfText(text)) }
    expandMembers(members, repPairs, exactScore, maxGroupExpand)
  }

  /** Sequential twin of Dedup.expandPairs over (doc_id, rep_id, grp_n)
    * membership rows: small groups emit all in-group pairs, large groups
    * emit rep→member star pairs, and rep-level near pairs cross-expand to
    * members (small groups) or just the rep (large groups).
    */
  private def expandMembers(members: Seq[(Long, Long, Long)],
                            repPairs: Seq[(Long, Long, Double)], exactScore: Double,
                            maxGroupExpand: Int): Seq[(Long, Long, Double)] = {
    val byRep = members.groupBy(_._2)
    val inGroup = byRep.toSeq.flatMap { case (rep, ms) =>
      val n = ms.head._3
      if (n <= maxGroupExpand) {
        val ids = ms.map(_._1).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j), exactScore)
      } else ms.iterator.map(_._1).filter(_ != rep).map(m => (rep, m, exactScore)).toSeq
    }
    val expandable: Map[Long, Seq[Long]] = byRep.map { case (rep, ms) =>
      rep -> (if (ms.head._3 <= maxGroupExpand) ms.map(_._1) else Seq(rep))
    }
    val cross = repPairs.flatMap { case (ra, rb, s) =>
      for (ma <- expandable(ra); mb <- expandable(rb))
        yield (math.min(ma, mb), math.max(ma, mb), s)
    }
    inGroup ++ cross
  }

  // ------------------------------------------------------- s2: LSH kNN --

  /** Sequential [[Similarity.lshIndex]]+[[Similarity.lshKnnIndexed]] at the
    * s2 driver query's operating point (nBits=4, nTables=4, k=5, queries =
    * vec_id < 10, hash-ordered probe-time bucket cap). Returns
    * (query_id, rank, neighbor_id, score).
    */
  def s2Knn(emb: Seq[(Long, Array[Float])], k: Int = 5, nBits: Int = 4, nTables: Int = 4,
            maxBucket: Int = 4096): Seq[(Long, Int, Long, Double)] = {
    if (emb.isEmpty) return Nil
    val dim = emb.head._2.length
    val planes = Similarity.tablePlanes(nBits, nTables, dim)
    // xxhash64(id, 17) twin: Spark folds children left to right from seed 42
    def capKey(id: Long): (Long, Long) = (XXH64.hashInt(17, XXH64.hashLong(id, 42L)), id)
    // probe-time cap per bucket, hash-ordered, BEFORE the per-query fanout
    // and before the self-filter — the same order lshKnnIndexed applies
    val index: Map[Long, Seq[Long]] = emb.flatMap { case (id, v) =>
      planes.iterator.zipWithIndex.map { case (p, t) =>
        ((t.toLong << 32) | Similarity.signBucket(v, p).toLong, id)
      }
    }.groupBy(_._1).map { case (b, ms) => b -> ms.map(_._2).sortBy(capKey).take(maxBucket) }
    val vecs = emb.toMap
    emb.filter(_._1 < 10).flatMap { case (qid, qv) =>
      val cands = planes.iterator.zipWithIndex.flatMap { case (p, t) =>
        val b0 = Similarity.signBucket(qv, p)
        (Seq(b0) ++ (0 until nBits).map(i => b0 ^ (1 << i))).distinct
          .flatMap(b => index.getOrElse((t.toLong << 32) | b.toLong, Nil))
      }.toVector.distinct.filter(_ != qid)
      topK(qid, cands.map(id => (id, cosine(qv, vecs(id)))), k)
    }
  }

  // ------------------------------------------------------- s3: IVF kNN --

  /** Sequential [[Similarity.ivfIndex]]+[[Similarity.ivfKnnIndexed]] around
    * the SAME centroid model the staged s3 query uses (the model is a
    * dataset artifact; this replay pins the distributed cell assignment,
    * probe join and re-rank). s3 operating point: k=5, nProbe=6.
    */
  def s3Knn(emb: Seq[(Long, Array[Float])], centroids: Array[Array[Float]],
            k: Int = 5, nProbe: Int = 6): Seq[(Long, Int, Long, Double)] = {
    val unit = Similarity.unitize(centroids)
    val byCell = emb.groupBy { case (_, v) => Similarity.nearestCellDot(v, unit) }
    val vecs = emb.toMap
    emb.filter(_._1 < 10).flatMap { case (qid, qv) =>
      val probed = centroids.indices.map(c => (c, Similarity.cos(qv, centroids(c))))
        .sortBy(-_._2).take(nProbe).map(_._1)
      val cands = probed.flatMap(c => byCell.getOrElse(c, Nil).map(_._1))
        .distinct.filter(_ != qid)
      topK(qid, cands.map(id => (id, cosine(qv, vecs(id)))), k)
    }
  }

  // ---------------------------------------- s12: filtered two-level kNN --

  /** Sequential [[Similarity.ivfIndex]] + [[Similarity.ivfKnnIndexed]]
    * around the SAME staged two-level model the s9/s12 queries use: routed
    * assignment ([[Similarity.TopSuper]] = 2), routed probes ranked by
    * (-dot, cell), the metadata predicate applied to candidates before
    * scoring, exact re-rank. s12 operating point: k=5, nProbe=6,
    * nProbeSuper=3, allowed = label < 5.
    */
  def s12Knn(emb: Seq[(Long, Array[Float])], model: Similarity.IvfTwoLevel,
             allowed: Long => Boolean, k: Int = 5, nProbe: Int = 6,
             nProbeSuper: Int = 3): Seq[(Long, Int, Long, Double)] = {
    val byCell = emb.groupBy { case (_, v) => model.assign(v) }
    val vecs = emb.toMap
    emb.filter(_._1 < 10).flatMap { case (qid, qv) =>
      val scored = model.topSupers(qv, nProbeSuper).iterator.flatMap { s =>
        model.childUnit(s).indices.iterator.map { c =>
          val u = model.childUnit(s)(c); var d = 0.0; var j = 0
          val lim = math.min(qv.length, u.length)
          while (j < lim) { d += qv(j).toDouble * u(j); j += 1 }
          (s * model.kChild + c, d)
        }
      }.toVector
      val probed = scored.sortBy { case (cell, d) => (-d, cell) }.take(nProbe).map(_._1)
      val cands = probed.flatMap(c => byCell.getOrElse(c, Nil).map(_._1))
        .distinct.filter(_ != qid).filter(allowed)
      topK(qid, cands.map(id => (id, cosine(qv, vecs(id)))), k)
    }
  }

  // ---------------------------------------------------- s6: IVF-PQ kNN --

  /** Sequential [[Similarity.ivfPqIndex]]+[[Similarity.ivfPqKnnIndexed]]
    * around the staged query's coarse + PQ models: residual encode, ADC
    * scoring with the same LUT/accumulation order, global top-(k·rerank)
    * cut by (approx desc, id asc) — provably what the distributed
    * per-partition heaps + window produce — then exact re-rank. s6
    * operating point: k=5, nProbe=6, rerank=40.
    */
  def s6Knn(emb: Seq[(Long, Array[Float])], centroids: Array[Array[Float]],
            pq: Similarity.PqModel, k: Int = 5, nProbe: Int = 6,
            rerank: Int = 40): Seq[(Long, Int, Long, Double)] = {
    val r = k * rerank
    val unit = Similarity.unitize(centroids)
    val indexRows = emb.map { case (id, v) =>
      val cell = Similarity.nearestCellDot(v, unit)
      (cell, id, Similarity.pqEncode(Similarity.subtractCentroid(v, centroids(cell)), pq),
        Similarity.l2norm(v))
    }
    val byCell = indexRows.groupBy(_._1)
    val vecs = emb.toMap
    emb.filter(_._1 < 10).flatMap { case (qid, qv) =>
      val probed = centroids.indices.map(c => (c, Similarity.cos(qv, centroids(c))))
        .sortBy(-_._2).take(nProbe).map(_._1)
      val lut = Similarity.adcLut(qv, pq)
      val qNorm = Similarity.l2norm(qv)
      val approx = probed.flatMap { cell =>
        val cc = centroids(cell)
        var d = 0.0; var i = 0
        val lim = math.min(qv.length, cc.length)
        while (i < lim) { d += qv(i).toDouble * cc(i); i += 1 }
        byCell.getOrElse(cell, Nil).iterator
          .filter(_._2 != qid)
          .map { case (_, id, codes, norm) =>
            var ip = d
            var m = 0
            while (m < pq.nSub) { ip += lut(m * pq.k + (codes(m) & 0xFF)); m += 1 }
            val denom = qNorm.toDouble * norm
            (id, if (denom == 0) 0.0 else ip / denom)
          }.toVector
      }
      val candidates = approx.sorted(scoreOrd).take(r).map(_._1)
      topK(qid, candidates.map(id => (id, cosine(qv, vecs(id)))), k)
    }
  }
}
