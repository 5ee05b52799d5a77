package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{CosineSimilarity, ParseTurnExpression, SimHash64}
import graft.lexer.PatternBank

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so the whole surface is reachable from
  * plain `spark.sql(...)`:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   or SparkSession.builder().withExtensions(new GraftExtensions)
  *
  *   SELECT simhash64(text), cosine_similarity(a, b),
  *          parse_turn(text, role, tool) FROM ...
  *
  * `parse_turn` uses the schema YAML named by the session conf
  * `spark.graft.schema.path` (compiled once per path and cached); without
  * the conf it falls back to the embedded example schema.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(simhashDesc)
    ext.injectFunction(cosineDesc)
    ext.injectFunction(entropyDesc)
    ext.injectFunction(fingerprintDesc)
    ext.injectFunction(jaccardSortedDesc)
    ext.injectFunction(parseTurnDesc)
  }
}

object GraftExtensions {
  /** Session conf key naming the schema YAML for SQL `parse_turn`. */
  val SchemaPathConf = "spark.graft.schema.path"

  private lazy val exampleBank: PatternBank = PatternBank.example
  // one entry per path holding ((mtime, length), bank): editing the schema
  // file in a long-lived session recompiles instead of silently parsing
  // with the stale bank, and the superseded bank is dropped (a keyed-on-
  // version map would leak every previous compilation for the process
  // lifetime). mtime ALONE misses a rewrite within the filesystem's mtime
  // granularity (1 s on some filesystems) and lastModified()'s 0-on-IO-
  // error; pairing it with the byte length catches the realistic same-
  // second edit (schema edits virtually never preserve exact length, and a
  // length-preserving one still changes mtime on the next tick).
  private val bankCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), PatternBank)]()

  /** Bank for the current session: the conf-named YAML (compiled once per
    * path + (mtime, length) version, process-wide) or the example schema.
    * Resolved at expression-build (analysis) time, so different sessions of
    * one JVM can parse with different schemas.
    */
  private def sessionBank(): PatternBank =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption(SchemaPathConf))
      .map { p =>
        val f = new java.io.File(p)
        val version = (f.lastModified(), f.length())
        bankCache.compute(p, (path, cur) =>
          if (cur != null && cur._1 == version) cur
          else (version, PatternBank.compile(graft.schema.SchemaConfig.fromFile(path))))._2
      }
      .getOrElse(exampleBank)

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression =
    args =>
      if (args.length == n) build(args)
      else throw new IllegalArgumentException(
        s"$name requires exactly $n argument(s), got ${args.length}")

  val simhashDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(text) - 64-bit SimHash of the text's words"),
      arity("simhash64", 1)(args => SimHash64(args.head)))

  val cosineDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity", "cosine_similarity(a, b) - cosine of two float arrays"),
      arity("cosine_similarity", 2)(args => CosineSimilarity(args(0), args(1))))

  val entropyDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("char_entropy"),
      info("char_entropy", "char_entropy(text) - Shannon entropy (nats) over code points"),
      arity("char_entropy", 1)(args => graft.functions.CharEntropy(args.head)))

  val fingerprintDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("doc_fingerprint"),
      info("doc_fingerprint", "doc_fingerprint(text) - winnowing min-hash fingerprint (4-word windows)"),
      arity("doc_fingerprint", 1)(args => graft.functions.Fingerprint(args.head)))

  val jaccardSortedDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("jaccard_sorted"),
      info("jaccard_sorted",
        "jaccard_sorted(a, b) - exact Jaccard of two sorted-distinct BIGINT arrays; " +
          "unsorted or duplicated input undercounts the intersection"),
      arity("jaccard_sorted", 2)(args => graft.functions.JaccardSorted(args(0), args(1))))

  val parseTurnDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("parse_turn"),
      info("parse_turn", "parse_turn(text, role, tool) - tokenize + extract routing fields"),
      arity("parse_turn", 3)(args => ParseTurnExpression(args(0), args(1), args(2), sessionBank())))
}
