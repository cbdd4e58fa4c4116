package graft.iql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Ast._
import graft.functions.{LshFunctions => LF, TemporalFunctions => TempF,
  TextFunctions => TxtF, VectorFunctions => VF}

/** Compiles one rule body (a conjunction of atoms, negated atoms, and
  * comparison/binding predicates) into a DataFrame whose columns are the
  * body's variables.
  *
  * This is the AST→DataFrame analogue of the reference's IR builder +
  * codegen (`src/ir_builder/mod.rs:185-1274`, `src/code_generator/mod.rs`):
  * scans → equi-joins on shared variables → computed bindings →
  * comparison filters → antijoins. We emit declarative DataFrame ops and
  * let Catalyst do join strategy, pushdown, and codegen — the reference's
  * optimizer passes (`src/optimizer/mod.rs`) are Catalyst built-ins here.
  */
object RuleCompiler {

  /** Resolve a relation name (with the referencing atom's arity — needed
    * so empty-placeholder relations can materialize a frame of the right
    * width) to its DataFrame. */
  type Resolver = (String, Int) => DataFrame

  /** Resolver binding body element `dIdx` (a positive atom) to `bound`
    * and everything else to `fallback`. Relies on the [[compileBody]]
    * invariant that positive atoms resolve IN BODY ORDER: the n-th
    * resolve call for the target's relation is its n-th body
    * occurrence. Every delta / over-deletion / aggregate-loop
    * derivation shares this decorator, so that invariant — and the
    * safety argument for occurrence counting — lives in one place. */
  def bindOccurrence(r: Rule, dIdx: Int, bound: => DataFrame,
                     fallback: (String, Int) => DataFrame): Resolver = {
    val target = r.body(dIdx) match { case Pos(a) => a.rel; case _ => "" }
    val occIdx = r.body.zipWithIndex.collect {
      case (Pos(a), i) if a.rel == target => i
    }
    var occ = -1
    (nm, ar) =>
      if (nm == target) {
        occ += 1
        // resolves past the positive occurrences are the target inside
        // NEGATED atoms (compileBody resolves negations after all
        // positives) — those always take the fallback, never the bound
        // delta
        if (occ < occIdx.length && occIdx(occ) == dIdx) bound
        else fallback(nm, ar)
      } else fallback(nm, ar)
  }

  /** Builtin boolean functions that may appear in ATOM position in a body
    * (`recent(Id) <- events(Id, Ts), within_last(Ts, Now, D)`) — they are
    * filters, not relation scans (reference BodyPredicate builtins). */
  private[iql] val BoolBuiltins = Set("within_last", "time_before", "time_after",
    "time_between", "intervals_overlap", "interval_contains", "point_in_interval")

  /** Special body predicates that aren't relation scans or filters: the
    * engine supplies a frame-producing callback (reference
    * `BodyPredicate::HnswNearest`, `src/ast/mod.rs:964-982`). The
    * callback sees the body frame built so far (None when the special
    * atom is the only positive) so a query VARIABLE can be resolved
    * against already-bound columns. */
  type SpecialAtoms = (Atom, Option[DataFrame]) => DataFrame
  private[iql] val SpecialNames = Set("hnsw_nearest")

  /** Compile a body; returns a frame with one column per variable. */
  def compileBody(body0: Seq[BodyElem], resolve: Resolver,
                  special: SpecialAtoms = null,
                  relRows: String => Option[Long] = _ => None): DataFrame = {
    val body = body0.map {
      case Pos(Atom(n, args)) if BoolBuiltins(n.toLowerCase) =>
        Cmp("=", Func(n, args), Const(true))
      case other => other
    }
    val (specials, positives) = body.collect { case Pos(a) => a }
      .partition(a => SpecialNames(a.rel.toLowerCase))
    require(positives.nonEmpty || specials.nonEmpty,
      "rule body needs at least one positive atom (range restriction)")
    specials.headOption.foreach { a =>
      require(special != null, s"${a.rel} is not supported in this context")
    }

    // 1. positive atoms: greedy connected-atom ordering — always join the
    //    remaining atom that shares the MOST variables with what's bound
    //    (the reference's max-spanning-tree heuristic over shared
    //    variables, `src/join_planning/mod.rs:1-70`; Catalyst can't fix a
    //    bad order itself: in-memory frames carry no stats to reorder by).
    //    An adversarial order like `a(X), c(Z), b(X,Z)` therefore joins
    //    a⋈b then ⋈c instead of building the a×c cartesian product first.
    //    When the catalog has ANALYZE stats (`relRows` — reference
    //    `src/statistics.rs`), the START atom is the smallest analyzed
    //    relation and equal-connectivity ties break toward smaller
    //    relations; without stats, ties (and the start atom) keep body
    //    order exactly as before (unanalyzed rows = ∞). Special
    //    predicates (index probes) join AFTER the plain scans so their
    //    query variables are already bound.
    var cur: DataFrame = null
    if (positives.nonEmpty) {
      val remaining = scala.collection.mutable.ArrayBuffer.from(
        positives.map(a => (a.rel, atomFrame(a, resolve))))
      def rowsOf(rel: String): Long = relRows(rel).getOrElse(Long.MaxValue)
      val start = remaining.indices.minBy(i => (rowsOf(remaining(i)._1), i))
      cur = remaining.remove(start)._2
      while (remaining.nonEmpty) {
        val bound = cur.columns.toSet
        // minBy keeps the FIRST minimum → stable body order among full
        // ties; when nothing connects, the smallest/first remains (cross
        // product of genuinely disconnected subgoals)
        val idx = remaining.indices.minBy { i =>
          (-remaining(i)._2.columns.count(bound), rowsOf(remaining(i)._1), i)
        }
        val af = remaining.remove(idx)._2
        val shared = cur.columns.intersect(af.columns).toSeq
        cur = if (shared.nonEmpty) {
          val (lf, rf) = alignShared(cur, af, shared)
          lf.join(rf, shared)
        } else cur.crossJoin(af)
      }
    }
    specials.foreach { a =>
      val af = special(a, Option(cur))
      if (cur == null) cur = af
      else {
        val shared = cur.columns.intersect(af.columns).toSeq
        cur = if (shared.nonEmpty) cur.join(af, shared) else cur.crossJoin(af)
      }
    }

    // 2. comparisons and computed bindings, in body order: `V = expr`
    //    with V unbound appends a column (Compute); anything else filters.
    body.foreach {
      case Cmp("=", Var(v), rhs) if !cur.columns.contains(v) =>
        cur = cur.withColumn(v, term(rhs, cur))
      case Cmp("=", lhs, Var(v)) if !cur.columns.contains(v) =>
        cur = cur.withColumn(v, term(lhs, cur))
      case Cmp(op, l, r) =>
        cur = cur.filter(cmpTyped(op, term(l, cur), term(r, cur), cur))
      case _ => ()
    }

    // 3. stratified negation last (all its variables are now bound):
    //    left_anti on the shared columns (reference antijoin,
    //    `src/code_generator/mod.rs:2085-2236`).
    body.foreach {
      case Neg(a) =>
        val af = atomFrame(a, resolve)
        val shared = cur.columns.intersect(af.columns).toSeq
        require(shared.nonEmpty || af.columns.isEmpty,
          s"negated atom !${a.rel} shares no variables with the positive body")
        val (lf, rf) = alignShared(cur, af, shared)
        cur = lf.join(rf, shared, "left_anti")
      case _ => ()
    }
    cur
  }

  /** Dynamic-type join harmonization: a shared column that is AnyValue-
    * encoded on one side wraps the other side's statically typed column,
    * so the reference's `Value` equality applies when a mixed-type
    * relation joins a typed one (an int fact matches an int key; a
    * string never matches a numeric key). No-op when types agree. */
  private def alignShared(l: DataFrame, r: DataFrame,
                          shared: Seq[String]): (DataFrame, DataFrame) = {
    var lf = l; var rf = r
    shared.foreach { c =>
      val lt = lf.schema(c).dataType; val rt = rf.schema(c).dataType
      if (AnyValue.isAny(lt) && !AnyValue.isAny(rt))
        rf = rf.withColumn(c, AnyValue.encodeCol(col(c), rt))
      else if (AnyValue.isAny(rt) && !AnyValue.isAny(lt))
        lf = lf.withColumn(c, AnyValue.encodeCol(col(c), lt))
    }
    (lf, rf)
  }

  /** One atom → frame keyed by its variable names. Constants filter,
    * repeated variables filter-by-equality, wildcards drop. */
  private def atomFrame(a: Atom, resolve: Resolver): DataFrame = {
    val df = resolve(a.rel, a.args.length)
    require(df.columns.length == a.args.length,
      s"${a.rel} has arity ${df.columns.length}, atom uses ${a.args.length}")
    var out = df
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    a.args.zipWithIndex.foreach {
      case (Const(v), i) if AnyValue.isAny(df.schema(i).dataType) =>
        out = out.filter(col(df.columns(i)) === AnyValue.litOf(v))
      case (Const(sq: Seq[_]), i) =>
        out = out.filter(col(df.columns(i)) === term(Const(sq), out))
      case (Const(v), i) => out = out.filter(col(df.columns(i)) === lit(v))
      case (Var(name), i) =>
        seen.get(name) match {
          case Some(first) => out = out.filter(col(df.columns(i)) === col(df.columns(first)))
          case None => seen(name) = i
        }
      case (Wildcard, _) => ()
      case (other, i) =>
        throw new IllegalArgumentException(
          s"body atom ${a.rel} arg $i must be a variable or constant, got $other " +
            "(bind computed values with `V = expr` predicates)")
    }
    out.select(seen.map { case (name, i) => col(df.columns(i)).as(name) }.toSeq: _*)
  }

  /** Like [[cmp]], but float (in)equality uses the reference's 1e-10
    * tolerance (`src/code_generator/mod.rs:88-95`). */
  def cmpTyped(op: String, l: Column, r: Column, frame: DataFrame): Column = {
    def dtOf(c: Column): Option[org.apache.spark.sql.types.DataType] =
      try Some(frame.select(c).schema.head.dataType)
      catch { case _: Throwable => None }
    // a dynamically-typed side lifts the other side into the AnyValue
    // encoding: <, <=, >, >= then follow the reference's cross-type
    // total order (struct field order IS that order), equality is
    // same-tag + same-payload. Float tolerance does not apply (the
    // reference's tolerant eq lives in its static-float codegen path).
    val lDt = dtOf(l); val rDt = dtOf(r)
    val lAny = lDt.exists(AnyValue.isAny); val rAny = rDt.exists(AnyValue.isAny)
    if (lAny || rAny) {
      val le = if (lAny) l else AnyValue.encodeCol(l, lDt.getOrElse(
        org.apache.spark.sql.types.StringType))
      val re = if (rAny) r else AnyValue.encodeCol(r, rDt.getOrElse(
        org.apache.spark.sql.types.StringType))
      return cmp(op, le, re)
    }
    def isDouble(c: Column): Boolean =
      dtOf(c).contains(org.apache.spark.sql.types.DoubleType)
    // = / != are NULL-SAFE (reference: null != 0 is true, null = null true)
    if ((op == "=" || op == "!=") && (isDouble(l) || isDouble(r))) {
      val eq = when(l.isNull && r.isNull, lit(true))
        .when(l.isNull || r.isNull, lit(false))
        .otherwise(abs(l.cast("double") - r.cast("double")) < lit(1e-10))
      if (op == "=") eq else !eq
    } else op match {
      case "=" => l <=> r
      case "!=" => !(l <=> r)
      case _ => cmp(op, l, r)
    }
  }

  def cmp(op: String, l: Column, r: Column): Column = op match {
    case "=" => l === r
    case "!=" => l =!= r
    case "<" => l < r
    case "<=" => l <= r
    case ">" => l > r
    case ">=" => l >= r
    case _ => throw new IllegalArgumentException(s"unknown comparison $op")
  }

  /** Scalar term → Column against the current frame. */
  def term(t: Term, frame: DataFrame): Column = t match {
    case Var(v) =>
      require(frame.columns.contains(v), s"unbound variable $v in expression")
      col(v)
    case Const(s: Seq[_]) => typedLit(s.map {
      case f: Float => f; case d: Double => d.toFloat; case l: Long => l.toFloat
      case other => other.toString.toFloat
    })
    case Const(v) => lit(v)
    case Wildcard => throw new IllegalArgumentException("wildcard in expression position")
    case Arith(op, l, r) => arith(op, t, frame)
    case Func(name, args) => builtin(name.toLowerCase, args.map(term(_, frame)))
    case Agg(f, _) => throw new IllegalArgumentException(s"aggregate $f<> outside rule head")
  }

  /** Int/float promotion like the reference (`code_generator/mod.rs:3510-3558`).
    * Division is ALWAYS float — the reference's own snapshot corpus shows
    * `7 / 3 = 2.3333...` (examples/iql/15_arithmetic/31_division_truncation
    * .iql.out), matching its as_f64 coercion. */
  private def arith(op: String, t: Term, frame: DataFrame): Column = {
    val Arith(_, lt, rt) = t: @unchecked
    val (l, r) = (term(lt, frame), term(rt, frame))
    op match {
      case "+" => l + r
      case "-" => l - r
      case "*" => l * r
      case "%" =>
        // modulo by zero yields null, like division (reference corpus)
        when(r.cast("double") === 0.0, lit(null)).otherwise(l % r)
      case "/" =>
        // division by zero yields null (reference numeric safety — its
        // corpus shows 100/0 → null, `tests/numeric_safety_tests.rs`)
        val (ld, rd) = (l.cast("double"), r.cast("double"))
        when(rd === 0.0, lit(null)).otherwise(ld / rd)
      case _ => throw new IllegalArgumentException(s"unknown arithmetic op $op")
    }
  }

  private lazy val lshBucketUdf =
    udf((v: Seq[Float], t: Long, n: Long) => LF.RefLsh.bucket(v, t, n.toInt))
  private lazy val lshProbesUdf =
    udf((b: Long, n: Long, np: Long) => LF.RefLsh.probes(b, n.toInt, np.toInt))
  private lazy val lshMultiProbeUdf =
    udf((v: Seq[Float], t: Long, n: Long, np: Long) => LF.RefLsh.multiProbe(v, t, n.toInt, np.toInt))

  /** Builtin scalar function registry (reference BuiltinFunc inventory,
    * `src/ast/mod.rs:58-197`; vector ops `src/vector_ops.rs`; temporal
    * `src/temporal_ops.rs`). All compile to native Column expressions. */
  def builtin(name: String, a: Seq[Column]): Column = (name, a) match {
    // math (floor/ceil return int64 in the reference)
    case ("abs", Seq(x)) => abs(x)
    case ("abs_int64", Seq(x)) => abs(x.cast("long"))
    case ("abs_float64", Seq(x)) => abs(x.cast("double"))
    case ("sqrt", Seq(x)) => sqrt(x)
    case ("pow", Seq(x, y)) => pow(x, y)
    case ("log", Seq(x)) => log(x)
    case ("exp", Seq(x)) => exp(x)
    case ("sin", Seq(x)) => sin(x)
    case ("cos", Seq(x)) => cos(x)
    case ("tan", Seq(x)) => tan(x)
    case ("floor", Seq(x)) => floor(x).cast("long")
    case ("ceil", Seq(x)) => ceil(x).cast("long")
    case ("sign", Seq(x)) => signum(x).cast("long")
    case ("min_val", xs) if xs.size >= 2 => least(xs: _*)
    case ("max_val", xs) if xs.size >= 2 => greatest(xs: _*)
    // conversion
    case ("to_float", Seq(x)) => x.cast("double")
    case ("to_int", Seq(x)) => x.cast("long")
    // string (reference substr is 0-based start; Spark is 1-based)
    case ("len", Seq(x)) => length(x).cast("long")
    case ("upper", Seq(x)) => upper(x)
    case ("lower", Seq(x)) => lower(x)
    case ("trim", Seq(x)) => trim(x)
    case ("substr", Seq(s, st, ln)) => substring(s, (st + lit(1)).cast("int"), ln.cast("int"))
    case ("replace", Seq(s, f, r)) => regexp_replace(s, regexp_quote_lit(f), r)
    case ("concat", xs) => concat(xs: _*)
    // temporal (ms-since-epoch longs)
    case ("time_now", Seq()) => TempF.timeNow()
    case ("time_diff", Seq(x, y)) => TempF.timeDiff(x, y)
    case ("time_add", Seq(x, y)) => TempF.timeAdd(x, y)
    case ("time_sub", Seq(x, y)) => TempF.timeSub(x, y)
    case ("time_decay", Seq(t0, now, hl)) => TempF.timeDecay(t0, now, hl)
    case ("time_decay_linear", Seq(t0, now, ma)) => TempF.timeDecayLinear(t0, now, ma)
    case ("time_before", Seq(x, y)) => TempF.timeBefore(x, y)
    case ("time_after", Seq(x, y)) => TempF.timeAfter(x, y)
    case ("time_between", Seq(t0, s, e)) => TempF.timeBetween(t0, s, e)
    case ("within_last", Seq(t0, now, w)) => TempF.withinLast(t0, now, w)
    case ("intervals_overlap", Seq(a1, b1, a2, b2)) => TempF.intervalsOverlap(a1, b1, a2, b2)
    case ("interval_contains", Seq(a1, b1, a2, b2)) => TempF.intervalContains(a1, b1, a2, b2)
    case ("interval_duration", Seq(s, e)) => TempF.intervalDuration(s, e)
    case ("point_in_interval", Seq(t0, s, e)) => TempF.pointInInterval(t0, s, e)
    // vector
    case ("euclidean", Seq(x, y)) => VF.euclidean(x, y)
    // LSH — reference-EXACT bucket values (SipHash-1-3-derived
    // hyperplanes, `src/vector_ops.rs:891-927`; the reference's own
    // snapshot corpus asserts concrete bucket ids, 31_lsh). Row-wise
    // UDFs with a per-JVM hyperplane cache — the same shape as the
    // reference's native row loop + LRU plane cache; dialect surface
    // only, the distributed dedup/ANN operators use the codegen'd
    // static-dim family in LshFunctions.
    case ("lsh_bucket", Seq(v, t, n)) =>
      lshBucketUdf(v, t.cast("long"), n.cast("long"))
    case ("lsh_probes", Seq(b, n, np)) =>
      lshProbesUdf(b.cast("long"), n.cast("long"), np.cast("long"))
    case ("lsh_multi_probe", Seq(v, t, n, np)) =>
      lshMultiProbeUdf(v, t.cast("long"), n.cast("long"), np.cast("long"))
    case ("cosine", Seq(x, y)) => VF.cosineDistance(x, y)
    case ("dot", Seq(x, y)) => VF.dot(x, y)
    case ("manhattan", Seq(x, y)) => VF.manhattan(x, y)
    case ("hamming", Seq(x, y)) => VF.hammingInt64(x, y)
    case ("normalize", Seq(x)) => VF.normalize(x)
    case ("vec_dim", Seq(x)) => VF.vecDim(x)
    case ("vec_add", Seq(x, y)) => VF.vecAdd(x, y)
    case ("vec_scale", Seq(x, s)) => VF.vecScale(x, s)
    case ("quantize_symmetric", Seq(x)) => VF.quantizeSymmetric(x)
    case ("quantize_linear", Seq(x)) => VF.quantizeLinearAuto(x)
    case ("quantize_linear", Seq(v, s, z)) => VF.quantizeLinear(v, s, z)
    case ("dequantize", Seq(q)) => VF.dequantizeCast(q)
    case ("dequantize", Seq(q, s, z)) => VF.dequantize(q, s, z)
    case ("dequantize_scaled", Seq(q, s)) => VF.dequantizeScaled(q, s)
    case ("euclidean_int8", Seq(x, y)) => VF.euclidean(x, y)
    case ("cosine_int8", Seq(x, y)) => VF.cosineDistance(x, y)
    case ("dot_int8", Seq(x, y)) => VF.dot(x, y)
    case ("manhattan_int8", Seq(x, y)) => VF.manhattan(x, y)
    // text-pipeline builtins (beyond the reference surface — graft's
    // training-data operators exposed to the dialect, so quality
    // filtering / language routing / PII scrubbing compose with rules)
    case ("token_count", Seq(x)) => TxtF.tokenCount(x)
    case ("regex_token_count", Seq(x)) => TxtF.regexTokenCount(x)
    case ("quality_score", Seq(x)) => TxtF.qualityScore(x)
    case ("lang_id", Seq(x)) => TxtF.langId(x)
    case ("stopword_ratio", Seq(x)) => TxtF.stopwordRatio(x)
    case ("punct_ratio", Seq(x)) => TxtF.punctRatio(x)
    case ("upper_ratio", Seq(x)) => TxtF.upperRatio(x)
    case ("mean_token_length", Seq(x)) => TxtF.meanTokenLength(x)
    case ("doc_fingerprint", Seq(x)) => TxtF.docFingerprint(x)
    case ("pii_scrub", Seq(x)) => TxtF.piiScrubText(x)
    case _ => throw new IllegalArgumentException(
      s"unknown builtin $name/${a.size}")
  }

  /** `replace` is literal in the reference; regexp_replace is regex —
    * quote the pattern. */
  private def regexp_quote_lit(c: Column): Column =
    regexp_replace(c, "([\\\\.\\[\\]{}()*+?^$|])", "\\\\$1")
}
