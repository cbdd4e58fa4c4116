package graft.iql

import Ast._

/** Hand-rolled tokenizer + recursive-descent parser for the IQL surface
  * (reference: ~1845-LoC hand-written parser `src/parser/mod.rs`;
  * statement grammar `src/statement/parser.rs`). Covers the query/rule/
  * fact sub-language:
  *
  *   +edge(1, 2)                      insert fact
  *   +edge[(1,2),(2,3)]               batch insert
  *   -edge(1, 2)                      delete fact
  *   -edge(X) <- cond                 conditional delete
  *   -edge                            drop relation
  *   +path(X,Y) <- edge(X,Y)          persistent rule
  *   path(X,Z) <- path(X,Y), edge(Y,Z)   session rule
  *   ?path(1, Y)                      query (shorthand)
  *   ?- path(X,Y), X < 3, !blocked(Y), limit(10, 2)
  *   ?q(X:desc, Y)                    sort annotations
  *
  * Body elements: atoms, `!atom` negation, comparisons (= != < <= > >=)
  * over arithmetic expressions (+ - * / %) with builtin function calls
  * `f(args)` and head aggregates `sum<X>` etc.
  */
object Parser {

  // ----------------------------------------------------------------- lexer
  sealed trait Tok
  case class TIdent(s: String) extends Tok
  case class TInt(v: Long) extends Tok
  case class TFloat(v: Double) extends Tok
  case class TStr(s: String) extends Tok
  case class TSym(s: String) extends Tok // punctuation / operators
  case object TEnd extends Tok

  private val symbols = Seq("<-", "<=", ">=", "!=", "(", ")", "[", "]",
    "<", ">", ",", "=", "+", "-", "*", "/", "%", "!", "?", ":", ".", ";")

  /** Tokens after which a newline is a CONTINUATION, not a statement
    * separator (IQL is line-oriented like the reference: `+a(1)` on the
    * next line starts a new statement, it is not `... + a(1)` arithmetic). */
  private val continuers: Set[Tok] = Set("<-", ",", "=", "!=", "<", "<=", ">",
    ">=", "+", "-", "*", "/", "%", "!", "(", "[", ";", ":").map(TSym(_): Tok)

  def tokenize(src: String): Vector[Tok] = {
    var depth = 0 // () / [] nesting; newlines inside are never separators
    var toks = Vector.empty[Tok]
    val out = new {
      def +=(t: Tok): Unit = {
        t match {
          case TSym("(") | TSym("[") => depth += 1
          case TSym(")") | TSym("]") => depth = math.max(0, depth - 1)
          case _ => ()
        }
        toks = toks :+ t
      }
      def result(): Vector[Tok] = toks
    }
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src(i)
      if (c == '\n') {
        if (depth == 0 && toks.nonEmpty && !continuers(toks.last) && toks.last != TEnd)
          out += TSym(";")
        i += 1
      } else if (c.isWhitespace) i += 1
      else if (c == '#' || (c == '/' && i + 1 < n && src(i + 1) == '/')) {
        while (i < n && src(i) != '\n') i += 1
      } else if (c == '"') {
        val sb = new StringBuilder
        i += 1
        while (i < n && src(i) != '"') {
          if (src(i) == '\\' && i + 1 < n) {
            sb.append(src(i + 1) match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case other => other
            })
            i += 2
          } else { sb.append(src(i)); i += 1 }
        }
        if (i >= n) throw new IllegalArgumentException("unterminated string literal")
        i += 1
        out += TStr(sb.toString)
      } else if (c.isDigit || (c == '.' && i + 1 < n && src(i + 1).isDigit)) {
        val start = i
        while (i < n && (src(i).isDigit || src(i) == '.' || src(i) == 'e' || src(i) == 'E' ||
          ((src(i) == '+' || src(i) == '-') && i > start && (src(i - 1) == 'e' || src(i - 1) == 'E')))) i += 1
        val s = src.substring(start, i)
        if (s.contains('.') || s.toLowerCase.contains('e')) out += TFloat(s.toDouble)
        else out += TInt(s.toLong)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (src(i).isLetterOrDigit || src(i) == '_')) i += 1
        out += TIdent(src.substring(start, i))
      } else {
        symbols.find(s => src.startsWith(s, i)) match {
          case Some(s) => out += TSym(s); i += s.length
          case None => throw new IllegalArgumentException(s"unexpected character '$c' at $i")
        }
      }
    }
    out += TEnd
    out.result()
  }

  // ---------------------------------------------------------------- parser
  final class P(toks: Vector[Tok]) {
    private var pos = 0
    def peek: Tok = toks(pos)
    def peek2: Tok = toks(math.min(pos + 1, toks.length - 1))
    def lookahead(n: Int): Tok = toks(math.min(pos + n, toks.length - 1))
    def next(): Tok = { val t = toks(pos); pos += 1; t }
    def expectSym(s: String): Unit = next() match {
      case TSym(`s`) => ()
      case t => fail(s"expected '$s', got $t")
    }
    def acceptSym(s: String): Boolean = peek match {
      case TSym(`s`) => pos += 1; true
      case _ => false
    }
    def fail(msg: String): Nothing = throw new IllegalArgumentException(s"parse error: $msg")
    def atEnd: Boolean = peek == TEnd
  }

  private val AggFuncs = Set("sum", "count", "count_distinct", "min", "max", "avg")
  private val RankFuncs = Set("top_k", "top_k_threshold", "within_radius")
  private val CmpOps = Set("=", "!=", "<", "<=", ">", ">=")

  /** Parse a whole program: statements separated by newlines are already
    * merged by the tokenizer, so statements are recognized by prefix and
    * optionally separated by `;` or `.`. */
  def parseProgram(src: String): Program = {
    val p = new P(tokenize(src))
    val stmts = Seq.newBuilder[Statement]
    while (p.acceptSym(";") || p.acceptSym(".")) () // leading separators
    while (!p.atEnd) {
      stmts += parseStatement(p)
      while (p.acceptSym(";") || p.acceptSym(".")) ()
    }
    Program(stmts.result())
  }

  def parseStatement(p: P): Statement = p.peek match {
    case TIdent("type") if p.peek2.isInstanceOf[TIdent] =>
      // `type Email: string` named alias (reference `src/statement/types.rs`)
      p.next(); val alias = ident(p); p.expectSym(":"); val base = ident(p)
      TypeAlias(alias, base)
    case TSym("+") => p.next(); parsePlus(p)
    case TSym("-") => p.next(); parseMinus(p)
    case TSym("?") =>
      p.next()
      if (p.acceptSym("-")) parseQueryBody(p)
      else parseQueryShorthand(p)
    case TIdent(_) =>
      // session rule `head(...) <- body` or ephemeral fact `rel(1, 2)`
      val head = parseAtom(p)
      if (p.acceptSym("<-")) RuleDef(Rule(head, parseBody(p), persistent = false))
      else {
        val consts = head.args.map {
          case Const(v) => v
          case other => p.fail(s"session fact arguments must be constants, got $other")
        }
        SessionFact(head.rel, consts)
      }
    case t => p.fail(s"unexpected token $t at statement start")
  }

  /** `+rel(...)`, `+rel[(...),...]`, `+head(...) <- body`, or a schema
    * declaration `+Rel(field: type, ...)`. */
  private def parsePlus(p: P): Statement = {
    val name = ident(p)
    p.peek match {
      case TSym("[") =>
        p.next()
        val rows = Seq.newBuilder[Seq[Any]]
        while (!p.acceptSym("]")) {
          p.expectSym("(")
          rows += parseConstRow(p)
          p.acceptSym(",")
          ()
        }
        InsertFacts(name, rows.result()) // may be empty: `+rel[]`
      case TSym("(") =>
        // schema decl iff first arg looks like `ident : typename`
        if (p.peek2.isInstanceOf[TIdent] && isSchemaDecl(p)) parseSchemaDecl(p, name)
        else {
          val atom = parseAtomArgs(p, name)
          if (p.acceptSym("<-")) RuleDef(Rule(atom, parseBody(p), persistent = true))
          else {
            val consts = atom.args.map {
              case Const(v) => v
              case other => p.fail(s"fact arguments must be constants, got $other")
            }
            InsertFacts(name, Seq(consts))
          }
        }
      case t => p.fail(s"expected '(' or '[' after +$name, got $t")
    }
  }

  private def isSchemaDecl(p: P): Boolean = p.lookahead(2) == TSym(":")

  private def parseSchemaDecl(p: P, name: String): SchemaDecl = {
    p.expectSym("(")
    val fields = Seq.newBuilder[(String, String)]
    var done = false
    while (!done) {
      val fname = ident(p)
      p.expectSym(":")
      val tname = ident(p) // builtin type or a named alias (resolved at declare)
      // vector[dim]
      val full = if (tname == "vector" && p.acceptSym("[")) {
        val d = p.next() match { case TInt(v) => v; case t => p.fail(s"expected dim, got $t") }
        p.expectSym("]")
        s"vector[$d]"
      } else tname
      fields += ((fname, full))
      if (!p.acceptSym(",")) { p.expectSym(")"); done = true }
    }
    SchemaDecl(name, fields.result())
  }

  /** `-rel(...)` (exact or pattern delete), `-rel[(..),(..)]` (batch),
    * `-rel(X) <- body`, `-old(..), +new(..) <- body` (atomic update), or
    * `-rel` (drop). */
  private def parseMinus(p: P): Statement = {
    val name = ident(p)
    p.peek match {
      case TSym("[") =>
        p.next()
        val rows = Seq.newBuilder[Seq[Any]]
        while (!p.acceptSym("]")) {
          p.expectSym("(")
          rows += parseConstRow(p)
          p.acceptSym(",")
          ()
        }
        DeleteFacts(name, rows.result())
      case TSym("(") =>
        val atom0 = parseAtomArgs(p, name)
        // wildcards in delete patterns become fresh variables
        val atom = atom0.copy(args = atom0.args.zipWithIndex.map {
          case (Wildcard, i) => Var(s"_d$i")
          case (t, _) => t
        })
        if (p.acceptSym(",")) {
          p.expectSym("+")
          val ins = parseAtom(p)
          p.expectSym("<-")
          Update(atom, ins, parseBody(p))
        } else if (p.acceptSym("<-")) DeleteWhere(atom, parseBody(p))
        else if (atom.args.forall(_.isInstanceOf[Const])) {
          DeleteFacts(name, Seq(atom.args.map {
            case Const(v) => v
            case other => throw new IllegalStateException( // unreachable: guarded by forall above
              s"non-constant $other in all-const delete")
          }))
        } else DeleteWhere(atom, Seq(Pos(atom))) // pattern delete: -rel(Id, "a", V)
      case _ => DropRelation(name)
    }
  }

  /** `?rel(args...)` — shorthand (reference transform_query_shorthand,
    * `protocol/handler.rs:4753`): constants become equality filters. */
  private def parseQueryShorthand(p: P): Query = {
    val sorts = scala.collection.mutable.ArrayBuffer.empty[SortKey]
    val atom0 = parseAtomArgs(p, ident(p), sorts)
    // wildcards become fresh variables so their values survive into the
    // result tuple (the shorthand result keeps the goal's full arity)
    val atom = atom0.copy(args = atom0.args.zipWithIndex.map {
      case (Wildcard, i) => Var(s"_w$i")
      case (t, _) => t
    })
    val (lim, off, rest) = parseQueryTail(p)
    Query(Pos(atom) +: rest, sorts.toSeq, lim, off, goal = Some(atom))
  }

  /** `?- conj` full query body. */
  private def parseQueryBody(p: P): Query = {
    val body = parseBody(p)
    // limit(N[,Off]) pseudo-predicate is parsed inside the body
    val (limits, rest) = body.partition {
      case Pos(Atom("limit", _)) => true
      case _ => false
    }
    val (lim, off) = limits.lastOption match {
      case Some(Pos(Atom(_, args))) =>
        val nums = args.map { case Const(v: Long) => v.toInt; case x => p.fail(s"limit() takes int literals, got $x") }
        (nums.headOption, nums.lift(1))
      case None => (None, None)
    }
    Query(rest, Seq.empty, lim, off)
  }

  private def parseQueryTail(p: P): (Option[Int], Option[Int], Seq[BodyElem]) = {
    // after ?goal(...), allow `, extra, limit(n, off)` continuation
    val rest = Seq.newBuilder[BodyElem]
    var lim: Option[Int] = None
    var off: Option[Int] = None
    while (p.acceptSym(",")) {
      parseBodyElem(p) match {
        case Pos(Atom("limit", args)) =>
          val nums = args.map { case Const(v: Long) => v.toInt; case x => p.fail(s"limit() takes int literals, got $x") }
          lim = nums.headOption; off = nums.lift(1)
        case e => rest += e
      }
    }
    (lim, off, rest.result())
  }

  def parseBody(p: P): Seq[BodyElem] = {
    val out = Seq.newBuilder[BodyElem]
    out += parseBodyElem(p)
    while (p.acceptSym(",")) out += parseBodyElem(p)
    out.result()
  }

  def parseBodyElem(p: P): BodyElem = p.peek match {
    case TSym("!") => p.next(); Neg(parseAtom(p))
    case _ =>
      // either atom(...) or comparison expr OP expr
      val isAtom = p.peek match {
        case TIdent(_) => p.peek2 == TSym("(")
        case _ => false
      }
      if (isAtom) {
        val atom = parseAtom(p)
        // function-call-looking atoms in comparison position: f(X) < 3
        p.peek match {
          case TSym(op) if CmpOps(op) =>
            p.next()
            val rhs = parseExpr(p)
            Cmp(op, Func(atom.rel, atom.args), rhs)
          case _ => Pos(atom)
        }
      } else {
        val lhs = parseExpr(p)
        val op = p.next() match {
          case TSym(s) if CmpOps(s) => s
          case t => p.fail(s"expected comparison operator, got $t")
        }
        val rhs = parseExpr(p)
        Cmp(op, lhs, rhs)
      }
  }

  def parseAtom(p: P): Atom = parseAtomArgs(p, ident(p))

  private def parseAtomArgs(p: P, name: String,
      sorts: scala.collection.mutable.ArrayBuffer[SortKey] = null): Atom = {
    p.expectSym("(")
    val args = Seq.newBuilder[Term]
    if (!p.acceptSym(")")) {
      args += parseHeadTerm(p, sorts)
      var more = p.acceptSym(",")
      while (more && !(p.peek == TSym(")"))) { // tolerate trailing comma: (1,)
        args += parseHeadTerm(p, sorts)
        more = p.acceptSym(",")
      }
      p.expectSym(")")
    }
    Atom(name, args.result())
  }

  /** Head/atom argument: term, aggregate `agg<X>`, or sort-annotated var
    * `X:desc` (annotations collected into `sorts` when provided —
    * reference `src/statement/parser.rs:533-583`). */
  private def parseHeadTerm(p: P,
      sorts: scala.collection.mutable.ArrayBuffer[SortKey]): Term = p.peek match {
    case TIdent(f) if RankFuncs(f) && p.peek2 == TSym("<") =>
      p.next(); p.expectSym("<")
      // terms with optional :asc/:desc annotations, ">"-terminated
      val items = Seq.newBuilder[(Term, Option[String])]
      var done = false
      while (!done) {
        val t = parseExpr(p)
        val ann = if (p.acceptSym(":")) Some(ident(p)) else None
        items += ((t, ann))
        if (!p.acceptSym(",")) { p.expectSym(">"); done = true }
      }
      val all = items.result()
      val nParams = if (f == "top_k") 1 else if (f == "top_k_threshold") 2 else 1
      val params = all.take(nParams).map {
        case (Const(v: Long), _) => v.toDouble
        case (Const(v: Double), _) => v
        case (t, _) => p.fail(s"$f parameter must be a numeric literal, got $t")
      }
      val rest = all.drop(nParams)
      if (rest.isEmpty) p.fail(s"$f needs at least an order/distance variable")
      val (ordTerm, ordAnn) = rest.last
      val ordVar = ordTerm match {
        case v: Var => v
        case t => p.fail(s"$f order variable must be a variable, got $t")
      }
      val outs = rest.dropRight(1).map {
        case (v: Var, _) => v
        case (t, _) => p.fail(s"$f output terms must be variables, got $t")
      }
      Rank(f, params, outs, ordVar, ordAnn.contains("desc"))
    case TIdent(f) if AggFuncs(f) && p.peek2 == TSym("<") =>
      p.next(); p.expectSym("<")
      val arg = parseExpr(p)
      p.expectSym(">")
      Agg(f, arg)
    case _ =>
      val t = parseExpr(p)
      if (p.acceptSym(":")) {
        val dir = ident(p)
        (t, sorts) match {
          case (Var(v), s) if s != null => s += SortKey(v, dir == "desc")
          case _ => ()
        }
      }
      t
  }

  // Expression grammar: addsub ::= muldiv (('+'|'-') muldiv)*
  def parseExpr(p: P): Term = {
    var t = parseMul(p)
    var go = true
    while (go) p.peek match {
      case TSym("+") => p.next(); t = Arith("+", t, parseMul(p))
      case TSym("-") => p.next(); t = Arith("-", t, parseMul(p))
      case _ => go = false
    }
    t
  }

  private def parseMul(p: P): Term = {
    var t = parseUnary(p)
    var go = true
    while (go) p.peek match {
      case TSym("*") => p.next(); t = Arith("*", t, parseUnary(p))
      case TSym("/") => p.next(); t = Arith("/", t, parseUnary(p))
      case TSym("%") => p.next(); t = Arith("%", t, parseUnary(p))
      case _ => go = false
    }
    t
  }

  private def parseUnary(p: P): Term = p.peek match {
    case TSym("-") =>
      p.next()
      p.peek match {
        case TInt(v) => p.next(); Const(-v)
        case TFloat(v) => p.next(); Const(-v)
        case _ => Arith("-", Const(0L), parseUnary(p))
      }
    case _ => parsePrimary(p)
  }

  private def parsePrimary(p: P): Term = p.next() match {
    case TInt(v) => Const(v)
    case TFloat(v) => Const(v)
    case TStr(s) => Const(s)
    case TSym("[") => // vector literal [1.0, 2.0, ...] → Seq[Float]
      val elems = Seq.newBuilder[Float]
      if (!p.acceptSym("]")) {
        var done = false
        while (!done) {
          parseUnary(p) match {
            case Const(v: Long) => elems += v.toFloat
            case Const(v: Double) => elems += v.toFloat
            case t => p.fail(s"vector elements must be numeric literals, got $t")
          }
          if (!p.acceptSym(",")) { p.expectSym("]"); done = true }
        }
      }
      Const(elems.result())
    case TIdent("true") => Const(true)
    case TIdent("false") => Const(false)
    case TIdent("_") => Wildcard
    case TIdent(name) =>
      if (p.acceptSym("(")) {
        val args = Seq.newBuilder[Term]
        if (!p.acceptSym(")")) {
          args += parseExpr(p)
          while (p.acceptSym(",")) args += parseExpr(p)
          p.expectSym(")")
        }
        Func(name, args.result())
      } else Var(name)
    case TSym("(") =>
      val t = parseExpr(p)
      p.expectSym(")")
      t
    case t => p.fail(s"unexpected token $t in expression")
  }

  private def parseConstRow(p: P): Seq[Any] = {
    val row = Seq.newBuilder[Any]
    var done = false
    while (!done) {
      parseUnary(p) match {
        case Const(v) => row += v
        case other => p.fail(s"batch-insert rows take constants, got $other")
      }
      if (!p.acceptSym(",")) { p.expectSym(")"); done = true }
      else if (p.acceptSym(")")) done = true // tolerate trailing comma: (1,)
    }
    row.result()
  }

  private def ident(p: P): String = p.next() match {
    case TIdent(s) => s
    case t => p.fail(s"expected identifier, got $t")
  }
}
