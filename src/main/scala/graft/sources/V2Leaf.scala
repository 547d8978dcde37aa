package graft.sources

import org.apache.spark.sql.connector.expressions.{Literal, NamedReference, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.filter.Predicate

/** The one reader of a V2 predicate leaf (the metrics feed's static and
  * runtime pushdown, MemTables' DELETE interpreter and index hints): a
  * comparison of a non-literal term with one literal on either side,
  * `term IN (lits)`, or IS_NULL / IS_NOT_NULL, read as (term, op, literal
  * values). Callers decide which terms they accept: a column (`column`),
  * or a richer one such as the feed's `id % m`. */
object V2Leaf {
  /** The operator seen from the other side: `lit op term` ≡ `term flip(op) lit`. */
  private def flip(op: String): String = op match {
    case "<" => ">"
    case "<=" => ">="
    case ">" => "<"
    case ">=" => "<="
    case other => other // =, <=> and <> are symmetric
  }

  def unapply(p: Predicate): Option[(V2Expression, String, Seq[Any])] = {
    val kids = p.children()
    def isLit(e: V2Expression) = e.isInstanceOf[Literal[_]]
    p.name() match {
      case op @ ("=" | "<=>" | "<>" | "<" | "<=" | ">" | ">=") => kids match {
        case Array(t, l: Literal[_]) if !isLit(t) => Some((t, op, Seq(l.value)))
        case Array(l: Literal[_], t) if !isLit(t) => Some((t, flip(op), Seq(l.value)))
        case _ => None
      }
      case "IN" if kids.nonEmpty && kids.tail.forall(isLit) =>
        Some((kids.head, "IN", kids.tail.toSeq.map(_.asInstanceOf[Literal[_]].value)))
      case op @ ("IS_NULL" | "IS_NOT_NULL") if kids.length == 1 =>
        Some((kids.head, op, Seq.empty))
      case _ => None
    }
  }

  /** A leaf whose term is a column: (dotted field name, op, literal values). */
  def column(p: Predicate): Option[(String, String, Seq[Any])] = p match {
    case V2Leaf(r: NamedReference, op, vs) => Some((r.fieldNames.mkString("."), op, vs))
    case _ => None
  }
}
