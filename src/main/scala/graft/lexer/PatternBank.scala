package graft.lexer

import graft.automata.DenseDfa
import graft.schema.SchemaConfig

/** Compiled, serializable pattern bank: the two merged matcher tables
  * (timestamps, variables) plus the delimiter bitmap and variable names.
  *
  * Compiled ONCE on the driver and shipped to executors via
  * `sparkContext.broadcast` — the Spark analogue of the reference sharing
  * `Rc<SchemaConfig>` across its lexer/parser
  * (/root/reference/src/parser/schema_parser/parser.rs:87-98). At 100 TB /
  * 1000 executors this keeps pattern compilation O(1) per job instead of
  * O(rows), and the dense Int tables (DenseDfa) make the per-byte scan a
  * single array read.
  */
final class PatternBank(
    val tsDfa: DenseDfa,
    val varDfa: DenseDfa,
    val delimiters: Array[Boolean],
    val tsPatterns: Array[String],
    val varNames: Array[String],
    /** Variable id carrying the log level (routes ERROR/FATAL turns);
      * -1 when the schema has none.
      */
    val loglevelVarId: Int,
    /** Bracketed variable id carrying the tool invocation on tool turns.
      * Resolved at compile time from the schema's `routing:` overrides or
      * the known aliases — the reference names it `thread_identifier` in
      * docs/Schema.md:67 but `field_identifier` in examples/schema.yaml:20,
      * so both work by default. -1 when absent.
      */
    val bracketVarId: Int
) extends Serializable {
  @inline def isDelimiter(c: Int): Boolean = c >= 0 && c < 128 && delimiters(c)
  def varName(id: Int): String = if (id >= 0 && id < varNames.length) varNames(id) else null
}

object PatternBank {
  def compile(config: SchemaConfig): PatternBank = {
    val names = config.varNames
    def resolve(routingKey: String, aliases: Seq[String]): Int =
      config.routing.get(routingKey) match {
        case Some(n) =>
          val idx = names.indexOf(n)
          // an explicit override that matches no variable is a config bug —
          // fail at compile time instead of silently disabling routing
          require(idx >= 0,
            s"routing: $routingKey names unknown variable '$n' (have: ${names.mkString(", ")})")
          idx
        case None => aliases.iterator.map(names.indexOf).find(_ >= 0).getOrElse(-1)
      }
    new PatternBank(
      DenseDfa.compile(config.tsPatterns),
      DenseDfa.compile(config.varSchemas.map(_._2)),
      config.delimiters,
      config.tsPatterns.toArray,
      names.toArray,
      resolve("loglevel", Seq("loglevel")),
      resolve("tool_field", Seq("thread_identifier", "field_identifier"))
    )
  }

  lazy val example: PatternBank = compile(SchemaConfig.example)
}
