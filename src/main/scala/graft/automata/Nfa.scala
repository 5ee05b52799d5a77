package graft.automata

import graft.regex.Ast
import scala.collection.mutable.ArrayBuffer

/** ε-NFA built by Thompson construction from a schema-dialect regex AST.
  *
  * Behavioural re-expression of the reference's construction
  * (/root/reference/src/nfa/nfa.rs:142-332): states are dense Ints, symbol
  * sets are 128-bit ASCII masks (lo/hi Long pair, the `u128` analogue),
  * ε-transitions carry an all-zero mask. Only used driver-side at
  * pattern-bank compile time, so clarity over micro-optimisation.
  */
final class Nfa {
  import Nfa.Trans

  val start = 0
  val accept = 1
  private[this] var numStates = 2
  private[this] val trans = ArrayBuffer[ArrayBuffer[Trans]](ArrayBuffer.empty, ArrayBuffer.empty)

  def stateCount: Int = numStates
  def transitionsFrom(s: Int): ArrayBuffer[Trans] = trans(s)

  def newState(): Int = {
    trans += ArrayBuffer.empty
    numStates += 1
    numStates - 1
  }

  def addEpsilon(from: Int, to: Int): Unit = trans(from) += Trans(0L, 0L, to)
  def addSymbol(from: Int, to: Int, lo: Long, hi: Long): Unit = trans(from) += Trans(lo, hi, to)

  /** Wire `ast` between `from` and `to`. */
  def add(ast: Ast, from: Int, to: Int): Unit = ast match {
    case cls: Ast.Cls => addSymbol(from, to, cls.lo, cls.hi)
    case Ast.Grp(inner) => add(inner, from, to)
    case Ast.Concat(items) =>
      if (items.isEmpty) addEpsilon(from, to)
      else {
        var cur = from
        items.zipWithIndex.foreach { case (item, idx) =>
          val next = if (idx == items.length - 1) to else newState()
          add(item, cur, next)
          cur = next
        }
      }
    case Ast.Alt(branches) =>
      branches.foreach { b =>
        val s = newState(); val e = newState()
        addEpsilon(from, s); addEpsilon(e, to)
        add(b, s, e)
      }
    case Ast.Rep(item, min, maxOpt) =>
      // Same shape as the reference (nfa.rs:220-278): a "bound" state after
      // the mandatory `min` copies; unbounded → self-loop on the bound state;
      // bounded → (max-min) optional copies each with an ε-exit.
      val bound = newState()
      if (min == 0) addEpsilon(from, bound)
      else {
        var cur = from
        var i = 1
        while (i < min) { val mid = newState(); add(item, cur, mid); cur = mid; i += 1 }
        add(item, cur, bound)
      }
      addEpsilon(bound, to)
      maxOpt match {
        case None => add(item, bound, bound)
        case Some(max) if max == min => ()
        case Some(max) =>
          var cur = bound
          var i = min
          while (i < max) {
            val mid = newState()
            add(item, cur, mid)
            addEpsilon(mid, to)
            cur = mid
            i += 1
          }
      }
  }
}

object Nfa {
  final case class Trans(lo: Long, hi: Long, to: Int) {
    def isEpsilon: Boolean = lo == 0L && hi == 0L
  }

  def compile(ast: Ast): Nfa = {
    val nfa = new Nfa
    nfa.add(ast, nfa.start, nfa.accept)
    nfa
  }
}
