package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths Spark lacks built-ins for.
  * Preference order per the build brief: compose built-ins, else a custom
  * Expression (these), before any UDF. All evaluate directly over Tungsten
  * representations (ArrayData / UTF8String) — no boxing, no Row copy — and
  * stay null-safe. Each implements `doGenCode` as an inlined call to a
  * static kernel, so the expression participates in whole-stage codegen:
  * no per-row virtual dispatch through `Expression.eval`, no boxed
  * `InternalRow` hand-off (the round-2 CodegenFallback path boxed both
  * operands per call — measurable when cosine sits inside the d6/d7/s1–s5
  * candidate loops at millions of pairs).
  */

/** Cosine similarity between two ARRAY<FLOAT> columns (returns DOUBLE).
  * Used by the similarity-search operators: brute-force top-k baseline and
  * the LSH re-rank step. Other numeric arrays are implicitly cast to
  * ARRAY<FLOAT>; a non-array argument fails at analysis.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineSimilarity.compute($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_similarity"
}

object CosineSimilarity {
  /** Static kernel shared by interpreted eval and generated code. Reads
    * elements in place (`getFloat`) — no `toFloatArray` copy per call.
    */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val a = x.getFloat(i).toDouble
      val b = y.getFloat(i).toDouble
      dot += a * b; nx += a * a; ny += b * b
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }
}

/** Exact Jaccard similarity of two SORTED-DISTINCT ARRAY<BIGINT> columns
  * (returns DOUBLE): |a ∩ b| via a linear sorted-merge walk, |a ∪ b| =
  * |a| + |b| − |a ∩ b|; empty∪empty = 1.0, matching
  * [[graft.operators.Dedup.exactJaccard]] bit for bit. PRECONDITION: both
  * arrays ascending and duplicate-free ([[graft.operators.Dedup.shingleHashes]]
  * and the n-gram builder emit exactly that) — on unsorted input the merge
  * undercounts. Replaces two slower shapes on the dedup hot paths: the
  * `array_intersect`-based Column composition (hash-set build per row) and
  * the typed `Dataset.map` over `exactJaccard` (encoder deserializes both
  * arrays out of Tungsten per PAIR — the dominant per-pair cost in the
  * all-pairs verification jobs). Reads elements in place (`getLong`), no
  * copies, inlined into whole-stage codegen. Other integral arrays are
  * implicitly cast to ARRAY<BIGINT> (an ARRAY<INT> read with `getLong`
  * would misread its packed elements); a non-array argument fails at
  * analysis.
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardSorted.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaccardSorted.compute($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_sorted"
}

object JaccardSorted {
  /** Static kernel shared by interpreted eval and generated code. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val a = x.getLong(i); val b = y.getLong(j)
      if (a == b) { inter += 1; i += 1; j += 1 }
      else if (a < b) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }
}

/** 64-bit SimHash over whitespace-separated lowercase words of a STRING
  * column. Deterministic (splitmix64-mixed word hashes), so results are
  * stable across runs/partitionings — required for the dedup oracle tests.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SimHash64.compute(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash64"
}

object SimHash64 {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** FNV-1a over UTF-8 bytes, then splitmix finalizer. */
  def wordHash(w: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    mix(h)
  }
  def compute(text: String): Long = {
    val counts = new Array[Int](64)
    var i = 0
    val n = text.length
    val sb = new java.lang.StringBuilder(16)
    def flush(): Unit = {
      if (sb.length() > 0) {
        val h = wordHash(sb.toString)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        sb.setLength(0)
      }
    }
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) flush()
      else sb.append(Character.toLowerCase(c))
      i += 1
    }
    flush()
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}

/** Winnowing-style document fingerprint: minimum polynomial hash over all
  * `window`-word windows of the lowercased text (short docs: one window of
  * all words). The hash is `h = (h*31 + codepoint) mod 1e9+7` over the
  * window string (words joined by one space) — deliberately chosen to be
  * expressible in ANSI-ish SQL so the DuckDB oracle can recompute it
  * exactly (a wrapping 64-bit hash cannot be, BIGINT multiply overflows).
  * Native expression: no encoder round trip, stays inside the row pipeline.
  */
case class Fingerprint(child: Expression, window: Int = 4)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Fingerprint.compute(v.asInstanceOf[UTF8String].toString, window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fingerprint.compute($c.toString(), $window)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "doc_fingerprint"
}

object Fingerprint {
  val Mod = 1000000007L

  /** Polynomial 31-hash of a string's code points, mod 1e9+7. */
  def polyHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  def compute(text: String, window: Int): Long = {
    val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (words.length < window) polyHash(words.mkString(" "))
    else {
      var minH = Long.MaxValue
      var i = 0
      val sb = new java.lang.StringBuilder(64)
      while (i + window <= words.length) {
        sb.setLength(0)
        var j = i
        while (j < i + window) {
          if (j > i) sb.append(' ')
          sb.append(words(j))
          j += 1
        }
        val h = polyHash(sb.toString)
        if (h < minH) minH = h
        i += 1
      }
      minH
    }
  }
}

/** Character-level Shannon entropy (nats) of a STRING column: counts per
  * code point, H = ln(n) − (Σ c·ln c)/n. NULL for the empty string (no
  * characters → entropy undefined; matches the explode-formulation and the
  * DuckDB oracle, where an empty text simply produces no group).
  *
  * This replaces round 2's `explode(split(text, ''))` formulation, whose
  * plan shuffled ONE ROW PER INPUT CHARACTER on (doc_id, ch) — a
  * full-corpus-cardinality exchange to compute a per-row scalar. As a unary
  * expression it is O(len) per row with ZERO shuffles, the same single-pass
  * shape as the reference's scan (dfa.rs:250-413 compiles once, then one
  * pass over input bytes).
  */
case class CharEntropy(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    if (u.numBytes() == 0) null else CharEntropy.compute(u)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.numBytes() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.CharEntropy.compute($c);
         |}
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "char_entropy"
}

object CharEntropy {
  /** Static kernel: per-code-point counts (dense 0..127 array for ASCII,
    * spill map beyond), then H = ln(n) − (Σ c·ln c)/n over the counts.
    * Counting per code point matches the oracle's `(?s).` extraction.
    */
  def compute(u: UTF8String): Double = {
    val s = u.toString
    val ascii = new Array[Int](128)
    var other: java.util.HashMap[Integer, Integer] = null
    var n = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap[Integer, Integer]()
        other.merge(cp, 1, (a, b) => a + b)
      }
      n += 1
      i += Character.charCount(cp)
    }
    var sumCLnC = 0.0
    var c = 0
    while (c < 128) {
      val k = ascii(c)
      if (k > 0) sumCLnC += k * math.log(k.toDouble)
      c += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) { val k = it.next(); sumCLnC += k * math.log(k.toDouble) }
    }
    math.log(n.toDouble) - sumCLnC / n
  }
}

object functions {
  import org.apache.spark.sql.GraftBridge.{column, expression}
  def cosine_similarity(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def jaccard_sorted(a: Column, b: Column): Column =
    column(JaccardSorted(expression(a), expression(b)))
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def doc_fingerprint(c: Column, window: Int = 4): Column =
    column(Fingerprint(expression(c), window))
  def char_entropy(c: Column): Column = column(CharEntropy(expression(c)))
}
