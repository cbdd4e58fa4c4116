package graft.iql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import graft.plans.SparkValues

import Ast._

/** Driver-local semi-naive evaluation for recursive SCCs whose rules are
  * PURE POSITIONAL conjunctive Datalog — `Pos`-only bodies with
  * Var/Const/Wildcard args and Var/Const heads — over small inputs.
  *
  * The reference evaluates every fixpoint in-process
  * (`src/code_generator/mod.rs:1033-1250`); on Spark the distributed
  * semi-naive loop pays 2-4 jobs PER ITERATION (~0.1-0.5 s each), three
  * orders of magnitude more than computing a small fixpoint on the
  * driver. This is the general-rule sibling of `Fixpoint`'s specialized
  * local closure paths: same gating idea (collect bounded inputs, solve
  * in-memory, parallelize the result back), but for arbitrary rule
  * shapes — mutual recursion, non-linear rules, magic-rewritten
  * programs — instead of just linear TC.
  *
  * Correctness contract: the local evaluator replicates the distributed
  * path's semantics EXACTLY or bails (returns None / throws Bail → the
  * caller falls back to the distributed loop):
  *  - atom constants, within-atom repeated variables, and shared-variable
  *    joins use Spark `EqualTo` semantics: null never matches anything
  *    (x/0-derived null tuples project through but never join);
  *  - NaN equals NaN and -0.0 is normalized to 0.0 (Spark join/distinct
  *    semantics for doubles);
  *  - set semantics via hash-set dedup (matches `distinct`/null-safe
  *    anti-join accumulation);
  *  - anything that would require Spark's implicit casts — a column
  *    mixing value kinds, or a join across long- and double-typed
  *    columns — bails rather than approximating them.
  *
  * Termination: arithmetic-free programs cannot invent values (finite
  * Herbrand universe), but Arith bindings/heads CAN — `tick(N+1)` style
  * counters run unboundedly. The derived-size budget (`MaxDerived`,
  * checked between rounds AND mid-round every ~8k emissions alongside
  * the cooperative cancel flag) is therefore LOAD-BEARING: it is what
  * bounds driver memory and guarantees the loop yields to the
  * distributed path (which Spark's job-group cancel can kill) or to the
  * query timeout. Do not remove it.
  */
object LocalEval {

  /** Total derived-tuple budget across the SCC; past it the distributed
    * loop must run (matches the spirit of `Fixpoint.LocalTcNodes`'s
    * output bound — local results must fit comfortably on the driver). */
  private[graft] val MaxDerived = 2000000L

  private final class Bail extends RuntimeException(null, null, false, false)
  private def bail(): Nothing = throw new Bail

  // value kinds (per store column); NULL means "no non-null value seen yet"
  private final val KNull = 0
  private final val KLong = 1
  private final val KDouble = 2
  private final val KString = 3
  private final val KBool = 4

  private def kindOf(v: Any): Int = v match {
    case null => KNull
    case _: Long => KLong
    case _: Double => KDouble
    case _: String => KString
    case _: Boolean => KBool
    case _ => bail() // vectors, timestamps, … — distributed path handles
  }

  /** Normalize collected/constant values to the widened kinds the
    * distributed path's unions settle on (Int→Long), and doubles to
    * their [[SparkValues.key]] so hash-set dedup matches Spark's
    * normalized comparison (a freshly boxed NaN would never dedup and
    * churn every round until MaxDerived). Float scalars bail:
    * `RuleCompiler.cmpTyped` applies the 1e-10 tolerance only to static
    * DoubleType, so a Float-sourced column compares exactly distributed
    * but would compare tolerantly here. */
  private def norm(v: Any): Any = v match {
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case d: Double => SparkValues.key(d)
    case _: Long | _: String | _: Boolean | null => v
    case _ => bail() // Float scalars, vectors, timestamps, … — distributed path handles
  }

  /** Static shape gate for the RECURSIVE rules of the SCC (base rules are
    * derived by the normal compiler and only their rows are collected).
    * Allowed: positive atoms (Var/Const/Wildcard args), negated non-SCC
    * atoms, comparison/binding predicates and head terms over
    * Var/Const/Arith expressions — exactly the surface whose runtime
    * semantics [[cmpVal]]/[[evalTerm]] replicate. Anything else (builtin
    * functions, ranking/aggregate heads, unbound expression vars) bails
    * to the distributed compiler, which either handles it or raises the
    * proper error. */
  def shapeOk(scc: Set[String], recRules: Seq[Rule]): Boolean =
    recRules.nonEmpty && recRules.forall(ruleOk(scc, _))

  /** [[ruleOk]] plus a driving requirement: base (non-recursive) rules
    * are evaluated in-process by enumerating their FIRST positive atom,
    * so one must exist. */
  def baseRuleOk(scc: Set[String], r: Rule): Boolean =
    r.body.exists(_.isInstanceOf[Pos]) && ruleOk(scc, r)

  private def ruleOk(scc: Set[String], r: Rule): Boolean = {
    def argOk(t: Term): Boolean = t match {
      case _: Var | _: Const => true
      case Wildcard => true
      case _ => false
    }
    def exprOk(t: Term, bound: Set[String]): Boolean = t match {
      case Var(n) => bound(n)
      case _: Const => true
      case Arith(_, l, r) => exprOk(l, bound) && exprOk(r, bound)
      case _ => false
    }
    locally {
      val posVars = r.body.collect { case Pos(a) =>
        a.args.collect { case Var(n) => n } }.flatten.toSet
      val atomsOk = r.body.forall {
        case Pos(a) =>
          !RuleCompiler.BoolBuiltins(a.rel.toLowerCase) &&
          !RuleCompiler.SpecialNames(a.rel.toLowerCase) &&
          a.args.forall(argOk)
        case Neg(a) =>
          // compileBody REQUIRES a negated atom to share a variable with
          // the positive body (or carry no variables at all) — programs
          // violating that must reach the distributed compiler's
          // range-restriction error, not evaluate existentially here
          val negVars = a.args.collect { case Var(n) => n }
          !scc(a.rel) && a.args.forall(argOk) &&
            (negVars.isEmpty || negVars.exists(posVars))
        case _: Cmp => true
      }
      // simulate RuleCompiler's in-order binding: positive-atom vars are
      // bound, then `V = expr` / `expr = V` with V unbound binds V
      var bound = r.body.collect { case Pos(a) =>
        a.args.collect { case Var(n) => n } }.flatten.toSet
      val cmpsOk = atomsOk && r.body.forall {
        case Cmp("=", Var(v), rhs) if !bound(v) =>
          val ok = exprOk(rhs, bound); bound += v; ok
        case Cmp("=", lhs, Var(v)) if !bound(v) =>
          val ok = exprOk(lhs, bound); bound += v; ok
        case Cmp(_, l, rr) => exprOk(l, bound) && exprOk(rr, bound)
        case _ => true
      }
      cmpsOk && r.head.args.forall(exprOk(_, bound))
    }
  }

  /** Arithmetic with the dialect's exact semantics
    * (`RuleCompiler.arith`): null-propagating; `/` is ALWAYS double with
    * /0 → null; `%` by 0 → null, long%long stays long; `+ - *` keep long
    * when both sides are long (ANSI overflow bails — the distributed
    * path raises Spark's proper overflow error), promote to double
    * otherwise. */
  private def evalTerm(t: Term, env: collection.Map[String, Any]): Any = t match {
    case Var(n) => env(n)
    case Const(c) => norm(c)
    case Arith(op, lt, rt) =>
      val a = evalTerm(lt, env)
      val b = evalTerm(rt, env)
      if (a == null || b == null) return null
      def toD(v: Any): Double = v match {
        case l: Long => l.toDouble
        case d: Double => d
        case _ => bail()
      }
      op match {
        case "/" =>
          val bd = toD(b)
          if (bd == 0.0) null else toD(a) / bd
        case "%" => (a, b) match {
          case (_, y: Long) if y == 0L => null
          case (_, y: Double) if y == 0.0 => null
          case (x: Long, y: Long) => x % y
          case _ => toD(a) % toD(b)
        }
        case _ => (a, b) match {
          case (x: Long, y: Long) =>
            try op match {
              case "+" => Math.addExact(x, y)
              case "-" => Math.subtractExact(x, y)
              case "*" => Math.multiplyExact(x, y)
              case _ => bail()
            } catch { case _: ArithmeticException => bail() }
          case _ =>
            val (x, y) = (toD(a), toD(b))
            op match {
              case "+" => x + y
              case "-" => x - y
              case "*" => x * y
              case _ => bail()
            }
        }
      }
    case _ => bail()
  }

  /** Comparison with the dialect's exact semantics
    * (`RuleCompiler.cmpTyped`): `=`/`!=` are null-safe, and use the
    * reference's 1e-10 tolerance when either side is a double; ordered
    * comparisons are SQL-style (null operand → not selected). Cross-kind
    * comparisons (string vs number) would go through Spark's implicit
    * casts — bail. Ordered comparisons use Spark's order
    * ([[SparkValues.compare]]). */
  private def cmpVal(op: String, a: Any, b: Any): Boolean = {
    val isD = a.isInstanceOf[Double] || b.isInstanceOf[Double]
    if (op == "=" || op == "!=") {
      val eq =
        if (a == null && b == null) true
        else if (a == null || b == null) false
        else if (isD) {
          val (x, y) = (numD(a), numD(b))
          math.abs(x - y) < 1e-10
        } else (a, b) match {
          case (x: Long, y: Long) => x == y
          case (x: String, y: String) => x == y
          case (x: Boolean, y: Boolean) => x == y
          case _ => bail()
        }
      if (op == "=") eq else !eq
    } else {
      if (a == null || b == null) return false
      val c = (a, b) match {
        case (_: Long, _: Long) | (_: String, _: String) |
             (_: Boolean, _: Boolean) => SparkValues.compare(a, b)
        case _ if isD => SparkValues.compare(numD(a), numD(b))
        case _ => bail()
      }
      op match {
        case "<" => c < 0
        case "<=" => c <= 0
        case ">" => c > 0
        case ">=" => c >= 0
        case _ => bail()
      }
    }
  }

  private def numD(v: Any): Double = v match {
    case l: Long => l.toDouble
    case d: Double => d
    case _ => bail()
  }

  /** One relation's tuples + per-column kind lattice + lazy hash indexes
    * (maintained incrementally so deep recursions never rebuild). */
  private final class Store(val arity: Int) {
    val kinds = new Array[Int](arity)
    val tuples = mutable.ArrayBuffer.empty[ArraySeq[Any]]
    val set = mutable.HashSet.empty[ArraySeq[Any]]
    private val indexes =
      mutable.HashMap.empty[List[Int], mutable.HashMap[List[Any], mutable.ArrayBuffer[ArraySeq[Any]]]]

    def size: Int = tuples.size

    def add(t: ArraySeq[Any]): Boolean = {
      if (!set.add(t)) return false
      var i = 0
      while (i < arity) {
        val k = kindOf(t(i))
        if (k != KNull) {
          if (kinds(i) == KNull) kinds(i) = k
          else if (kinds(i) != k) bail() // mixed-kind column → Spark casts
        }
        i += 1
      }
      tuples += t
      indexes.foreach { case (mask, ix) =>
        val key = mask.map(t(_))
        ix.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += t
      }
      true
    }

    /** Rows whose `mask` positions equal `key` exactly. A null in the key
      * matches nothing (EqualTo); a kind mismatch vs the column bails
      * (Spark would implicitly cast). */
    def lookup(mask: List[Int], key: List[Any]): Iterator[ArraySeq[Any]] = {
      if (mask.isEmpty) return tuples.iterator
      var k = key
      var m = mask
      while (m.nonEmpty) {
        val v = k.head
        if (v == null) return Iterator.empty
        val vk = kindOf(v)
        val ck = kinds(m.head)
        if (ck == KNull) return Iterator.empty // column is all-null
        if (vk != ck) bail()
        k = k.tail; m = m.tail
      }
      val ix = indexes.getOrElseUpdate(mask, {
        val built = mutable.HashMap.empty[List[Any], mutable.ArrayBuffer[ArraySeq[Any]]]
        tuples.foreach { t =>
          built.getOrElseUpdate(mask.map(t(_)), mutable.ArrayBuffer.empty) += t
        }
        built
      })
      ix.get(key).map(_.iterator).getOrElse(Iterator.empty)
    }
  }

  /** One recursive-rule evaluation plan for a designated delta occurrence:
    * the delta atom is enumerated first, the remaining positive atoms
    * join in greedy most-bound-first order with statically-known bound
    * masks (same heuristic as `RuleCompiler.compileBody`); comparison /
    * binding predicates then apply in body order and stratified negation
    * checks last — compileBody's exact phase order. */
  private final case class AtomStep(atom: Atom, rel: String, isScc: Boolean, mask: List[Int])
  private sealed trait PostStep
  private final case class BindStep(v: String, expr: Term) extends PostStep
  private final case class FilterStep(op: String, l: Term, r: Term) extends PostStep
  private final case class NegStep(atom: Atom) extends PostStep
  private final case class OccPlan(rule: Rule, deltaAtom: Atom, deltaRel: String,
                                   steps: List[AtomStep], post: List[PostStep])

  private def planOcc(r: Rule, dIdx: Int, scc: Set[String]): OccPlan = {
    val pos = r.body.zipWithIndex.collect { case (Pos(a), i) => (a, i) }
    val deltaAtom = pos.find(_._2 == dIdx).get._1
    var bound = deltaAtom.args.collect { case Var(n) => n }.toSet
    val remaining = mutable.ArrayBuffer.from(pos.filterNot(_._2 == dIdx))
    val steps = mutable.ListBuffer.empty[AtomStep]
    while (remaining.nonEmpty) {
      val idx = remaining.indices.maxBy { i =>
        remaining(i)._1.args.count {
          case Var(n) => bound(n)
          case _: Const => true
          case _ => false
        }
      }
      val (a, _) = remaining.remove(idx)
      val seenInAtom = mutable.HashSet.empty[String]
      val mask = a.args.zipWithIndex.collect {
        case (_: Const, i) => i
        case (Var(n), i) if bound(n) && seenInAtom.add(n) => i
      }.toList
      steps += AtomStep(a, a.rel, scc(a.rel), mask)
      bound ++= a.args.collect { case Var(n) => n }
    }
    // binds/filters in body order (bind-vs-filter decided with the same
    // incremental bound set compileBody uses), then negations
    var cmpBound = pos.flatMap(_._1.args.collect { case Var(n) => n }).toSet
    val post = mutable.ListBuffer.empty[PostStep]
    r.body.foreach {
      case Cmp("=", Var(v), rhs) if !cmpBound(v) =>
        post += BindStep(v, rhs); cmpBound += v
      case Cmp("=", lhs, Var(v)) if !cmpBound(v) =>
        post += BindStep(v, lhs); cmpBound += v
      case Cmp(op, l, rr) => post += FilterStep(op, l, rr)
      case _ => ()
    }
    r.body.foreach {
      case Neg(a) => post += NegStep(a)
      case _ => ()
    }
    OccPlan(r, deltaAtom, deltaAtom.rel, steps.toList, post.toList)
  }

  /** Apply post steps to a completed positive-atom binding. */
  private def applyPost(post: List[PostStep], env0: Map[String, Any],
                        ext: Map[String, Store]): Option[Map[String, Any]] = {
    var env = env0
    var ps = post
    while (ps.nonEmpty) {
      ps.head match {
        case BindStep(v, expr) => env = env.updated(v, evalTerm(expr, env))
        case FilterStep(op, l, r) =>
          if (!cmpVal(op, evalTerm(l, env), evalTerm(r, env))) return None
        case NegStep(a) =>
          // left_anti on the shared (bound) vars: reject when ANY negated
          // row unifies (unbound vars are existential; a null binding
          // never matches — EqualTo join semantics)
          val st = ext(a.rel)
          val seenInAtom = mutable.HashSet.empty[String]
          val mask = a.args.zipWithIndex.collect {
            case (_: Const, i) => i
            case (Var(n), i) if env.contains(n) && seenInAtom.add(n) => i
          }.toList
          val key = mask.map(i => a.args(i) match {
            case Const(c) => norm(c)
            case Var(n) => SparkValues.key(env(n))
            case _ => bail()
          })
          val it = st.lookup(mask, key)
          while (it.hasNext) {
            if (tryBind(a.args, it.next(), env).isDefined) return None
          }
      }
      ps = ps.tail
    }
    Some(env)
  }

  /** Run the local fixpoint. `baseRows`: initial tuples per SCC relation
    * (already set-deduped by the caller); `nonScc`: collected rows of the
    * non-SCC relations referenced by recursive-rule bodies; `arities`:
    * per-relation arity for every SCC and non-SCC relation involved.
    * Returns a frame per SCC relation, or None when a
    * semantics-preserving local run is impossible. */
  def run(spark: SparkSession, scc: Set[String], recRules: Seq[Rule],
          arities: Map[String, Int],
          baseRows: Map[String, Array[Row]],
          nonScc: Map[String, Array[Row]],
          baseRules: Seq[Rule] = Seq.empty,
          rowsOut: mutable.Map[String, Array[Row]] = null): Option[Map[String, DataFrame]] =
    try {
      val acc = scc.map(r => r -> new Store(arities(r))).toMap
      val ext = nonScc.map { case (r, rows) =>
        val s = new Store(arities.getOrElse(r, bail()))
        rows.foreach(row => s.add(ArraySeq.unsafeWrapArray(
          Array.tabulate(s.arity)(i => norm(row.get(i))))))
        r -> s
      }
      // rule arity guard: every body atom must match its store
      val plans: Seq[OccPlan] = recRules.flatMap { r =>
        r.body.zipWithIndex.collect { case (Pos(a), i) if scc(a.rel) => i }
          .map(planOcc(r, _, scc))
      }
      // base (non-recursive) rules run in-process too, driven once from
      // their first positive atom's collected store — [[baseRuleOk]]
      // gates the shape, the caller collects the body relations
      val basePlans: Seq[OccPlan] = baseRules.map { r =>
        val firstPos = r.body.zipWithIndex
          .collectFirst { case (Pos(_), i) => i }.getOrElse(bail())
        planOcc(r, firstPos, scc)
      }
      (plans ++ basePlans).foreach { p =>
        val negAtoms = p.post.collect { case NegStep(a) => a }
        (p.deltaAtom :: p.steps.map(_.atom) ::: negAtoms).foreach { a =>
          val st = acc.getOrElse(a.rel, ext.getOrElse(a.rel, bail()))
          if (st.arity != a.args.length) bail()
        }
        if (p.rule.head.args.length != arities(p.rule.head.rel)) bail()
      }

      val seeded = mutable.HashMap.empty[String, mutable.ArrayBuffer[ArraySeq[Any]]]
      def seed(rel: String, t: ArraySeq[Any]): Unit =
        if (acc(rel).add(t)) seeded.getOrElseUpdate(rel, mutable.ArrayBuffer.empty) += t
      baseRows.foreach { case (rel, rows) =>
        val st = acc(rel)
        rows.foreach { row =>
          seed(rel, ArraySeq.unsafeWrapArray(Array.tabulate(st.arity)(i => norm(row.get(i)))))
        }
      }
      var baseEmitted = 0L
      basePlans.foreach { p =>
        ext.get(p.deltaRel).foreach { st =>
          val headRel = p.rule.head.rel
          st.tuples.foreach { t =>
            tryBind(p.deltaAtom.args, t, Map.empty).foreach { env0 =>
              enumerate(p.steps, env0, acc, ext) { envPos =>
                baseEmitted += 1
                if ((baseEmitted & 0x1FFF) == 0L) graft.QueryGuard.checkCancelled()
                applyPost(p.post, envPos, ext).foreach { env =>
                  seed(headRel, ArraySeq.unsafeWrapArray(
                    p.rule.head.args.map(a => norm(evalTerm(a, env))).toArray[Any]))
                }
              }
            }
          }
        }
        if (acc.valuesIterator.map(_.size.toLong).sum > MaxDerived) bail()
      }
      var delta: Map[String, IndexedSeq[ArraySeq[Any]]] =
        seeded.iterator.map { case (rel, ts) => rel -> ts.toIndexedSeq }
          .filter(_._2.nonEmpty).toMap

      val accTotal = () => acc.valuesIterator.map(_.size.toLong).sum
      while (delta.nonEmpty) {
        graft.QueryGuard.checkCancelled()
        val pend = mutable.HashMap.empty[String, mutable.LinkedHashSet[ArraySeq[Any]]]
        // mid-round guard: a single round of a high-fanout join can emit
        // unboundedly — poll cancellation and the derived-size budget
        // every few thousand emissions, not just between rounds
        var emitted = 0L
        var pendTotal = 0L
        plans.foreach { p =>
          delta.get(p.deltaRel).foreach { dRows =>
            val headRel = p.rule.head.rel
            val out = pend.getOrElseUpdate(headRel, mutable.LinkedHashSet.empty)
            dRows.foreach { t =>
              tryBind(p.deltaAtom.args, t, Map.empty).foreach { env0 =>
                enumerate(p.steps, env0, acc, ext) { envPos =>
                  emitted += 1
                  if ((emitted & 0x1FFF) == 0L) {
                    graft.QueryGuard.checkCancelled()
                    if (accTotal() + pendTotal > MaxDerived) bail()
                  }
                  applyPost(p.post, envPos, ext).foreach { env =>
                    // norm: head arithmetic can produce -0.0, which
                    // Spark's distinct folds into 0.0
                    val tup = ArraySeq.unsafeWrapArray(
                      p.rule.head.args.map(a => norm(evalTerm(a, env))).toArray[Any])
                    if (!acc(headRel).set.contains(tup) && out.add(tup))
                      pendTotal += 1
                  }
                }
              }
            }
          }
        }
        delta = pend.iterator.map { case (rel, tuples) =>
          val st = acc(rel)
          rel -> tuples.iterator.filter(st.add).toIndexedSeq
        }.filter(_._2.nonEmpty).toMap
        if (accTotal() > MaxDerived) bail()
      }

      Some(acc.map { case (rel, st) =>
        val rows = st.tuples.map(t => Row.fromSeq(t)).toArray
        if (rowsOut != null) rowsOut(rel) = rows
        rel -> toFrame(spark, st, rows)
      })
    } catch { case _: Bail => None }

  /** Enumerate all bindings of the remaining atoms (depth-first with hash
    * lookups on the statically-bound positions). */
  private def enumerate(steps: List[AtomStep], env: Map[String, Any],
                        acc: Map[String, Store], ext: Map[String, Store])(
                        emit: Map[String, Any] => Unit): Unit = steps match {
    case Nil => emit(env)
    case step :: rest =>
      val store = if (step.isScc) acc(step.rel) else ext(step.rel)
      val key = step.mask.map(i => step.atom.args(i) match {
        case Const(c) => norm(c)
        case Var(n) => env(n)
        case _ => bail()
      })
      val it = store.lookup(step.mask, key)
      while (it.hasNext) {
        tryBind(step.atom.args, it.next(), env).foreach(enumerate(rest, _, acc, ext)(emit))
      }
  }

  /** Unify an atom's args against a tuple under `env`. EqualTo semantics:
    * null never matches a constant or an already-bound variable (either
    * side); fresh variables DO bind null (projection lets it through). */
  private def tryBind(args: Seq[Term], t: ArraySeq[Any],
                      env0: Map[String, Any]): Option[Map[String, Any]] = {
    var env = env0
    var i = 0
    while (i < args.length) {
      args(i) match {
        case Wildcard => ()
        case Const(c) =>
          val v = t(i)
          if (v == null || norm(c) != v) return None
        case Var(n) =>
          val v = t(i)
          env.get(n) match {
            case Some(b) =>
              if (b == null || v == null || SparkValues.key(b) != v) return None
            case None => env = env.updated(n, v)
          }
        case _ => bail()
      }
      i += 1
    }
    Some(env)
  }

  private def toFrame(spark: SparkSession, st: Store, rows: Array[Row]): DataFrame = {
    val fields = (0 until st.arity).map { i =>
      val dt = st.kinds(i) match {
        case KLong => LongType
        case KDouble => DoubleType
        case KString => StringType
        case KBool => BooleanType
        case _ => NullType
      }
      StructField(s"c$i", dt, nullable = true)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq,
        graft.plans.Fixpoint.parallelizeParts(rows.length.toLong)),
      StructType(fields))
  }
}
