package graft.iql

import org.apache.spark.sql.functions._
import Ast._

/** `.why` / `.why_not` provenance by backward chaining over rules +
  * materialized relations — the same architecture as the reference,
  * which does NOT compute provenance inside the dataflow either
  * (`src/provenance/backward_chaining.rs`, blocker analysis
  * `src/provenance/why_not.rs:19-40`).
  */
object Provenance {

  sealed trait Proof {
    def render(indent: Int = 0): Seq[String]
    protected def pad(n: Int): String = "  " * n
    /** Wire-serializable form (reference `QueryResult.proof_trees`,
      * `src/protocol/wire.rs:323-325`, node shape
      * `src/provenance/proof_tree.rs:394-404`): nested maps the JSON
      * codec renders directly. */
    def json: Map[String, Any]
  }

  /** Tuple present as a base (EDB) fact. */
  final case class FactLeaf(rel: String, values: Seq[Any]) extends Proof {
    def render(indent: Int): Seq[String] =
      Seq(s"${pad(indent)}fact ${rel}(${values.mkString(", ")})")
    def json: Map[String, Any] = Map(
      "kind" -> "fact", "relation" -> rel, "values" -> values)
  }

  /** Tuple derived by a rule from child proofs. */
  final case class Derived(rel: String, values: Seq[Any], rule: Rule,
                           children: Seq[Proof]) extends Proof {
    def render(indent: Int): Seq[String] =
      s"${pad(indent)}${rel}(${values.mkString(", ")}) <= ${Printer.rule(rule)}" +:
        children.flatMap(_.render(indent + 1))
    def json: Map[String, Any] = Map(
      "kind" -> "rule", "relation" -> rel, "values" -> values,
      "rule" -> Printer.rule(rule), "children" -> children.map(_.json))
  }

  /** A satisfied negation / comparison inside a proof. */
  final case class SideCondition(desc: String) extends Proof {
    def render(indent: Int): Seq[String] = Seq(s"${pad(indent)}check: $desc")
    def json: Map[String, Any] = Map("kind" -> "check", "description" -> desc)
  }

  /** Explain why `rel(values...)` holds. None = it doesn't. */
  def why(engine: Engine, atom: Atom, maxDepth: Int = 32): Option[Proof] = {
    val consts = atom.args.map {
      case Const(v) => v
      case other => throw new IllegalArgumentException(
        s".why takes a fully-ground atom, got $other")
    }
    explain(engine, atom.rel, consts, maxDepth,
      Set.empty)
  }

  private def explain(engine: Engine, rel: String, values: Seq[Any],
                      depth: Int, visiting: Set[(String, Seq[Any])]): Option[Proof] = {
    // a job-group cancel stops only the running job; poll before the next
    graft.QueryGuard.checkCancelled()
    if (depth <= 0 || visiting((rel, values))) return None
    val cat = engine.catalog
    // EDB fact?
    cat.relation(rel).foreach { base =>
      val hit = values.zipWithIndex.foldLeft(base) { case (df, (v, i)) =>
        df.filter(col(df.columns(i)) === lit(v))
      }
      if (!hit.isEmpty) return Some(FactLeaf(rel, values))
    }
    val rules = engine.currentRules.filter(_.head.rel == rel)
      .sortBy(_.body.exists { case Pos(a) => a.rel == rel; case _ => false }) // base rules first
    val resolve = engine.newResolver()

    def tryRule(r: Rule): Option[Proof] = {
      if (r.head.args.exists(_.isInstanceOf[Agg])) return None
      // bind head args to the tuple's values; constant mismatch → skip rule
      val constraints = Seq.newBuilder[(String, Any)]
      r.head.args.zipWithIndex.foreach {
        case (Var(v), i) => constraints += (v -> values(i))
        case (Const(c), i) => if (c != values(i)) return None
        case (_, i) => constraints += (s"__h$i" -> values(i)) // computed head term
      }
      try {
        var body = RuleCompiler.compileBody(r.body, resolve)
        r.head.args.zipWithIndex.foreach {
          case (t@(Arith(_, _, _) | Func(_, _)), i) =>
            body = body.withColumn(s"__h$i", RuleCompiler.term(t, body))
          case _ => ()
        }
        val bound = constraints.result().foldLeft(body) { case (df, (c, v)) =>
          if (df.columns.contains(c)) df.filter(col(c) === lit(v)) else df
        }
        bound.limit(1).collect().headOption.flatMap { bindingRow =>
          val binding = bound.columns.zip(bindingRow.toSeq).toMap
          val children = Seq.newBuilder[Proof]
          var ok = true
          r.body.foreach {
            case Pos(a) if ok =>
              val childVals = a.args.map {
                case Var(v) => binding(v)
                case Const(c) => c
                case _ => null
              }
              if (!childVals.contains(null)) {
                explain(engine, a.rel, childVals, depth - 1,
                  visiting + ((rel, values))) match {
                  case Some(p) => children += p
                  case None => ok = false
                }
              } else children += SideCondition(s"${a.rel} matched")
            case Neg(a) if ok =>
              children += SideCondition(s"no ${Printer.atom(a)} exists")
            case Cmp(op, l, r2) if ok =>
              children += SideCondition(s"${Printer.term(l)} $op ${Printer.term(r2)}")
            case _ => ()
          }
          if (ok) Some(Derived(rel, values, r, children.result())) else None
        }
      } catch { case _: IllegalArgumentException => None }
    }

    rules.foreach { r => tryRule(r).foreach(p => return Some(p)) }
    None
  }

  /** Explain why `rel(values...)` does NOT hold: per candidate rule, the
    * first body atom that kills all bindings (reference why_not blocker
    * analysis). */
  def whyNot(engine: Engine, atom: Atom): Seq[String] = {
    val consts = atom.args.map {
      case Const(v) => v
      case other => throw new IllegalArgumentException(
        s".why_not takes a fully-ground atom, got $other")
    }
    if (why(engine, atom).isDefined)
      return Seq(s"${Printer.atom(atom)} IS derivable — use .why")
    val rules = engine.currentRules.filter(_.head.rel == atom.rel)
    val resolve = engine.newResolver()
    val out = Seq.newBuilder[String]
    if (rules.isEmpty && engine.catalog.relation(atom.rel).isEmpty)
      out += s"relation ${atom.rel} does not exist"
    if (engine.catalog.relation(atom.rel).isDefined)
      out += s"not among the base facts of ${atom.rel}"
    rules.foreach { r =>
      val headOk = r.head.args.zipWithIndex.forall {
        case (Const(c), i) => c == consts(i)
        case _ => true
      }
      if (!headOk) out += s"rule `${Printer.rule(r)}`: head constants do not match"
      else {
        val bindings = r.head.args.zipWithIndex.collect {
          case (Var(v), i) => v -> consts(i)
        }.toMap
        // add positive atoms one at a time; first one that empties = blocker
        var blocked = false
        val positives = r.body.collect { case p: Pos => p }
        (1 to positives.length).foreach { n =>
          if (!blocked) {
            val prefix: Seq[BodyElem] = positives.take(n)
            try {
              val df = RuleCompiler.compileBody(prefix, resolve)
              val bound = bindings.foldLeft(df) { case (d, (v, value)) =>
                if (d.columns.contains(v)) d.filter(col(v) === lit(value)) else d
              }
              if (bound.isEmpty) {
                blocked = true
                out += s"rule `${Printer.rule(r)}`: blocked at ${Printer.bodyElem(positives(n - 1))} (no matching tuples under ${bindings.mkString(", ")})"
              }
            } catch {
              case e: IllegalArgumentException =>
                blocked = true
                out += s"rule `${Printer.rule(r)}`: ${e.getMessage}"
            }
          }
        }
        if (!blocked)
          out += s"rule `${Printer.rule(r)}`: positive body satisfiable — blocked by a negation or comparison"
      }
    }
    out.result()
  }
}
