package graft.iql

import graft.SparkSpec

/** End-to-end IQL programs — mirrors the reference's snapshot-test
  * categories (`examples/iql/`): joins, filters, negation, recursion,
  * aggregation, arithmetic, strings (reference `TESTING.md:33-37`). */
class EngineSpec extends SparkSpec {

  private def engine = new Engine(new Catalog(spark))

  private def query(src: String, limits: Engine.Limits = Engine.Limits()): Set[Seq[Any]] =
    rows(new Engine(new Catalog(spark), limits).run(src).last)

  test("analyze stats steer the join order toward the smallest relation") {
    import org.apache.spark.sql.functions.col
    val cat = new Catalog(spark)
    import spark.implicits._
    cat.register("big", (1L to 1000L).map(i => (i, i % 7)).toDF("a", "b"))
    cat.register("small", Seq((1L, 2L), (3L, 4L)).toDF("a", "b"))
    val e = new Engine(cat)
    // stats recorded: exact rows, approximate per-column distincts
    val st = cat.analyze("big")
    assert(st.rows == 1000L && st.cols.map(_._1) == Seq("a", "b"))
    assert(cat.analyze("small").rows == 2L)
    // the compiled body starts from the ANALYZED smallest atom: with
    // disconnected subgoals the leftmost leaf of the plan is small's
    // frame even though big comes first in body order
    val df = RuleCompiler.compileBody(
      Seq(Ast.Pos(Ast.Atom("big", Seq(Ast.Var("X"), Ast.Var("Y")))),
        Ast.Pos(Ast.Atom("small", Seq(Ast.Var("U"), Ast.Var("V"))))),
      (name, _) => cat.relation(name).get match {
        case d if name == "big" => d.select(col("a").as("X"), col("b").as("Y"))
        case d => d.select(col("a").as("U"), col("b").as("V"))
      },
      relRows = cat.statRows)
    def leafRows(d: org.apache.spark.sql.DataFrame): Seq[Int] =
      d.queryExecution.analyzed.collectLeaves().map {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.size
        case _ => -1
      }
    assert(leafRows(df) == Seq(2, 1000),
      s"start atom was not the analyzed-smallest: ${leafRows(df)}")
    // and results are unchanged by the reorder
    assert(rows(df).size == 2000)
    // without stats the body order is preserved exactly as before
    val df0 = RuleCompiler.compileBody(
      Seq(Ast.Pos(Ast.Atom("big", Seq(Ast.Var("X"), Ast.Var("Y")))),
        Ast.Pos(Ast.Atom("small", Seq(Ast.Var("U"), Ast.Var("V"))))),
      (name, _) => cat.relation(name).get match {
        case d if name == "big" => d.select(col("a").as("X"), col("b").as("Y"))
        case d => d.select(col("a").as("U"), col("b").as("V"))
      })
    assert(leafRows(df0) == Seq(1000, 2))
    // end-to-end: rules still evaluate correctly with stats present
    e.run("+r(X, U) <- big(X, Y), small(U, V)")
    assert(e.run("?r(X, U)").last.count() == 2000)
  }

  test("insert facts and query with constant filter") {
    assert(query(
      """+edge(1, 2)
        |+edge[(2,3),(1,4)]
        |?edge(1, Y)
        |""".stripMargin) == Set(Seq(1L, 2L), Seq(1L, 4L)))
  }

  test("join via shared variables") {
    assert(query(
      """+parent[("alice","bob"),("bob","carol")]
        |+gp(X, Z) <- parent(X, Y), parent(Y, Z)
        |?gp(X, Z)
        |""".stripMargin) == Set(Seq("alice", "carol")))
  }

  test("stratified negation") {
    assert(query(
      """+person[("a"),("b"),("c")]
        |+banned[("b")]
        |+ok(X) <- person(X), !banned(X)
        |?ok(X)
        |""".stripMargin) == Set(Seq("a"), Seq("c")))
  }

  test("comparisons and computed bindings") {
    assert(query(
      """+n[(1),(2),(3),(4)]
        |+d(X, Y) <- n(X), X < 3, Y = X * 10 + 1
        |?d(X, Y)
        |""".stripMargin) == Set(Seq(1L, 11L), Seq(2L, 21L)))
  }

  test("aggregation with grouping") {
    assert(query(
      """+emp[("eng", 10), ("eng", 20), ("ops", 5)]
        |+tot(D, sum<S>) <- emp(D, S)
        |?tot(D, S)
        |""".stripMargin) == Set(Seq("eng", 30L), Seq("ops", 5L)))
  }

  test("global aggregate and count/avg/min/max") {
    assert(query(
      """+v[(1),(2),(3),(4)]
        |+s(count<X>, sum<X>, min<X>, max<X>, avg<X>) <- v(X)
        |?s(C, S, Mn, Mx, A)
        |""".stripMargin) == Set(Seq(4L, 10L, 1L, 4L, 2.5)))
  }

  test("recursion: transitive closure") {
    assert(query(
      """+edge[(1,2),(2,3),(3,4)]
        |+reach(X, Y) <- edge(X, Y)
        |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
        |?reach(1, Y)
        |""".stripMargin) == Set(Seq(1L, 2L), Seq(1L, 3L), Seq(1L, 4L)))
  }

  test("recursion with cycle terminates") {
    assert(query(
      """+edge[(1,2),(2,3),(3,1)]
        |+reach(X, Y) <- edge(X, Y)
        |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
        |?reach(1, Y)
        |""".stripMargin) == Set(Seq(1L, 1L), Seq(1L, 2L), Seq(1L, 3L)))
  }

  test("mutual recursion (even/odd chain)") {
    // even(X): reachable from 0 in an even number of steps
    assert(query(
      """+succ[(0,1),(1,2),(2,3),(3,4)]
        |+even(0) <- succ(0, _)
        |+odd(Y) <- even(X), succ(X, Y)
        |+even(Y) <- odd(X), succ(X, Y)
        |?even(X)
        |""".stripMargin) == Set(Seq(0L), Seq(2L), Seq(4L)))
  }

  test("aggregation over recursive result") {
    assert(query(
      """+edge[(1,2),(2,3),(3,4)]
        |+reach(X, Y) <- edge(X, Y)
        |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
        |+cnt(X, count<Y>) <- reach(X, Y)
        |?cnt(X, C)
        |""".stripMargin) == Set(Seq(1L, 3L), Seq(2L, 2L), Seq(3L, 1L)))
  }

  test("unstratifiable negation is rejected") {
    assertThrows[IllegalArgumentException](query(
      """+p[(1)]
        |+a(X) <- p(X), !b(X)
        |+b(X) <- p(X), !a(X)
        |?a(X)
        |""".stripMargin))
  }

  test("string and math builtins in rules") {
    assert(query(
      """+w[("hello"),("spark")]
        |+u(X, Y, L) <- w(X), Y = upper(X), L = len(X) + 1
        |?u(X, Y, L)
        |""".stripMargin) == Set(Seq("hello", "HELLO", 6L), Seq("spark", "SPARK", 6L)))
  }

  test("division is always float (reference as_f64 semantics)") {
    assert(query(
      """+n[(7)]
        |+d(A, B) <- n(X), A = X / 2, B = to_int(X / 2)
        |?d(A, B)
        |""".stripMargin) == Set(Seq(3.5, 3L)))
  }

  test("conditional delete") {
    assert(query(
      """+n[(1),(2),(3),(4)]
        |-n(X) <- n(X), X > 2
        |?n(X)
        |""".stripMargin) == Set(Seq(1L), Seq(2L)))
  }

  test("delete fact and drop relation (dropped = empty, Datalog semantics)") {
    val e = engine
    e.run("+a[(1),(2)]\n-a(1)")
    assert(rows(e.run("?a(X)").last) == Set(Seq(2L)))
    e.run("-a")
    assert(rows(e.run("?a(X)").last) == Set.empty[Seq[Any]])
  }

  test("bound recursive query uses demand restriction and matches") {
    // correctness of the demanded result equals post-filtering full TC
    val src =
      """+edge[(1,2),(2,3),(3,4),(10,11),(11,12)]
        |+reach(X, Y) <- edge(X, Y)
        |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
        |""".stripMargin
    assert(query(src + "?reach(10, Y)") == Set(Seq(10L, 11L), Seq(10L, 12L)))
  }

  test("atomic update replaces matching rows transactionally") {
    assert(query(
      """+acct[(1, 100), (2, 50)]
        |-acct(Id, B), +acct(Id, B2) <- acct(Id, B), B >= 100, B2 = B * 2
        |?acct(Id, B)
        |""".stripMargin) == Set(Seq(1L, 200L), Seq(2L, 50L)))
  }

  test("schema declaration validates inserts all-or-nothing") {
    val e = engine
    e.run("+user(id: int, name: string, score: float)")
    e.run("""+user(1, "a", 2.5)""")
    e.run("""+user(2, "b", 3)""") // int→float coercion allowed
    assertThrows[IllegalArgumentException](e.run("""+user("bad", "c", 1.0)"""))
    assert(rows(e.run("?user(I, N, S)").last).map(_.head) == Set(1L, 2L))
  }

  test("sort annotations and limit order the result") {
    val e = engine
    e.run("+s[(1, 10), (2, 30), (3, 20)]")
    val r = e.run("?s(X, Y:desc), limit(2)").last.collect().map(_.toSeq.toVector)
    assert(r.toSeq == Seq(Vector(2L, 30L), Vector(3L, 20L)))
  }

  test("re-query caching: unchanged catalog serves cached derivations, changes invalidate") {
    val e = engine
    e.run(
      """+edge[(1,2),(2,3)]
        |+reach(X, Y) <- edge(X, Y)
        |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?reach(X, Y)").last).size == 3)
    val v1 = e.catalog.version
    assert(e.matCache.contains(("reach", v1)))
    val cached = e.matCache(("reach", v1))
    assert(rows(e.run("?reach(X, Y)").last).size == 3)
    assert(e.matCache(("reach", v1)) eq cached) // same frame reused
    e.run("+edge(3, 4)")
    assert(e.catalog.version > v1)
    assert(rows(e.run("?reach(X, Y)").last).size == 6) // recomputed on new version
    assert(!e.matCache.contains(("reach", v1)))        // old version evicted
  }

  test("top_k ranking aggregate: k best rows per group") {
    assert(query(
      """+emp[("eng","a",10),("eng","b",30),("eng","c",20),("ops","d",5),("ops","e",7)]
        |+best(D, top_k<2, N, S:desc>) <- emp(D, N, S)
        |?best(D, N, S)
        |""".stripMargin) == Set(
      Seq("eng", "b", 30L), Seq("eng", "c", 20L),
      Seq("ops", "e", 7L), Seq("ops", "d", 5L)))
  }

  test("top_k_threshold also enforces the score bound") {
    assert(query(
      """+emp[("eng","a",10),("eng","b",30),("eng","c",20)]
        |+best(D, top_k_threshold<2, 15, N, S:desc>) <- emp(D, N, S)
        |?best(D, N, S)
        |""".stripMargin) == Set(Seq("eng", "b", 30L), Seq("eng", "c", 20L)))
    assert(query(
      """+emp[("eng","a",10),("eng","b",30),("eng","c",20)]
        |+best(D, top_k_threshold<2, 25, N, S:desc>) <- emp(D, N, S)
        |?best(D, N, S)
        |""".stripMargin) == Set(Seq("eng", "b", 30L)))
  }

  test("ungrouped top_k compiles to TakeOrderedAndProject, not a global window") {
    val e = engine
    e.run("""+pt[("a", 1.0), ("b", 3.0), ("c", 0.5)]""")
    val df = e.run("""+near(top_k<2, N, D:asc>) <- pt(N, D)
                     |?near(N, D)""".stripMargin).last
    assert(rows(df) == Set(Seq("c", 0.5), Seq("a", 1.0)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan) // no single-partition global window
  }

  test("within_radius keeps all rows under the bound") {
    assert(query(
      """+pt[("a", 1.0), ("b", 3.0), ("c", 0.5)]
        |+near(top_k<10, N, D:asc>) <- pt(N, D)
        |+close(within_radius<1.5, N, D>) <- pt(N, D)
        |?close(N, D)
        |""".stripMargin) == Set(Seq("a", 1.0), Seq("c", 0.5)))
  }

  test("float equality uses the 1e-10 tolerance") {
    assert(query(
      """+m[(1, 0.3)]
        |+hit(X) <- m(X, V), V = 0.1 + 0.2
        |?hit(X)
        |""".stripMargin) == Set(Seq(1L))) // 0.1+0.2 != 0.3 in IEEE754 without tolerance
  }

  test("query over registered external DataFrame") {
    import spark.implicits._
    val cat = new Catalog(spark)
    cat.register("nums", Seq((1L, "one"), (2L, "two")).toDF("n", "name"))
    val e = new Engine(cat)
    assert(rows(e.run("?nums(N, S), N > 1").last) == Set(Seq(2L, "two")))
  }

  test("repeated variable in atom forces equality") {
    assert(query(
      """+p[(1,1),(1,2),(3,3)]
        |+eq(X) <- p(X, X)
        |?eq(X)
        |""".stripMargin) == Set(Seq(1L), Seq(3L)))
  }

  test("cartesian product when no shared vars") {
    assert(query(
      """+a[(1),(2)]
        |+b[(10)]
        |+c(X, Y) <- a(X), b(Y)
        |?c(X, Y)
        |""".stripMargin) == Set(Seq(1L, 10L), Seq(2L, 10L)))
  }

  test("atomic update does not duplicate an already-existing tuple") {
    val e = new Engine(new Catalog(spark))
    e.run("+acct[(1, 10), (2, 20)]")
    e.run("-acct(1, B), +acct(2, 20) <- acct(1, B)")
    val df = e.run("?acct(X, Y)").last
    assert(df.count() == 1) // set semantics: (2,20) exists once, not twice
    assert(rows(df) == Set(Seq(2L, 20L)))
  }

  test("recursive rule deriving a null tuple terminates") {
    // x/0 is null in the dialect; the null tuple must match the
    // accumulator (null-safe anti-join) or the delta never drains
    assert(query(
      """+seed[(4)]
        |+p(X) <- seed(X)
        |+p(X / 0) <- p(X)
        |?p(X)
        |""".stripMargin) == Set(Seq(4.0), Seq(null)))
  }

  test("recursive min aggregate: shortest path converges on a cyclic graph") {
    assert(query(
      """+edge[(1,2),(2,3),(3,1),(2,4)]
        |+source[(1, 0)]
        |+sp(X, D) <- source(X, D)
        |+sp(Y, min<D + 1>) <- sp(X, D), edge(X, Y)
        |?sp(X, D)
        |""".stripMargin) ==
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 2L), Seq(4L, 2L)))
  }

  test("recursive min aggregate: weighted shortest path picks the cheaper route") {
    assert(query(
      """+wedge[(1,2,10),(1,3,1),(3,2,1),(2,4,1)]
        |+sp(1, 0)
        |+sp(Y, min<D + W>) <- sp(X, D), wedge(X, Y, W)
        |?sp(X, D)
        |""".stripMargin) ==
      Set(Seq(1L, 0L), Seq(3L, 1L), Seq(2L, 2L), Seq(4L, 3L)))
  }

  test("recursive min aggregate: distributed path (shape the local solver rejects)") {
    // the computed binding in the body falls outside the 2-atom local
    // fast-path shape, so this exercises the Spark value-iteration loop
    assert(query(
      """+wedge[(1,2,10),(1,3,1),(3,2,1),(2,4,1)]
        |+sp(1, 0)
        |+sp(Y, min<D2>) <- sp(X, D), wedge(X, Y, W), D2 = D + W
        |?sp(X, D)
        |""".stripMargin) ==
      Set(Seq(1L, 0L), Seq(3L, 1L), Seq(2L, 2L), Seq(4L, 3L)))
  }

  test("recursive max aggregate: longest path on a DAG") {
    assert(query(
      """+edge[(1,2),(2,3),(1,3)]
        |+lp[(1, 0)]
        |+lp(Y, max<D + 1>) <- lp(X, D), edge(X, Y)
        |?lp(X, D)
        |""".stripMargin) ==
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 2L)))
  }

  test("incremental maintenance: inserts extend a cached recursive closure") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1,2),(2,3)]
        |+reach(X, Y) <- edge(X, Y)
        |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?reach(X, Y)").last).size == 3) // materializes + caches
    e.run("+edge[(3,4)]") // monotone change
    val after = rows(e.run("?reach(X, Y)").last)
    assert(after == Set(Seq(1L,2L), Seq(1L,3L), Seq(1L,4L),
      Seq(2L,3L), Seq(2L,4L), Seq(3L,4L)))
    assert(e.maintainedCount >= 1, "second query should delta-extend, not recompute")
  }

  test("incremental maintenance: non-recursive join view and unrelated inserts") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+person[("a", 1), ("b", 2)]
        |+score[(1, 10)]
        |+ps(N, S) <- person(N, I), score(I, S)
        |""".stripMargin)
    assert(rows(e.run("?ps(N, S)").last) == Set(Seq("a", 10L)))
    // unrelated relation: cache stays valid, no recompute; the view is
    // re-stamped, which is not a maintenance round
    e.run("+other[(99)]")
    assert(rows(e.run("?ps(N, S)").last) == Set(Seq("a", 10L)))
    val c1 = e.maintainedCount
    assert(c1 == 0)
    // insert into each side of the join
    e.run("+score[(2, 20)]")
    assert(rows(e.run("?ps(N, S)").last) == Set(Seq("a", 10L), Seq("b", 20L)))
    e.run("""+person[("c", 1)]""")
    assert(rows(e.run("?ps(N, S)").last) ==
      Set(Seq("a", 10L), Seq("b", 20L), Seq("c", 10L)))
    assert(e.maintainedCount > c1)
  }

  test("incremental maintenance: sum/count/min/max views merge per-group deltas") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+emp[(1, "eng", 10), (2, "eng", 20), (3, "ops", 5)]
        |+tot(D, sum<S>, count<S>, min<S>, max<S>) <- emp(I, D, S)
        |""".stripMargin)
    assert(rows(e.run("?tot(D, S, C, Mn, Mx)").last) ==
      Set(Seq("eng", 30L, 2L, 10L, 20L), Seq("ops", 5L, 1L, 5L, 5L)))
    e.run("""+emp[(4, "eng", 1), (5, "qa", 7)]""") // existing + brand-new group
    assert(rows(e.run("?tot(D, S, C, Mn, Mx)").last) ==
      Set(Seq("eng", 31L, 3L, 1L, 20L), Seq("ops", 5L, 1L, 5L, 5L),
        Seq("qa", 7L, 1L, 7L, 7L)))
    assert(e.maintainedCount >= 1, "aggregate view should merge, not recompute")
    // GLOBAL avg has no group keys to dirty-partition: falls back to
    // recompute, stays correct
    val e2 = new Engine(new Catalog(spark))
    e2.run("+v[(1, 2.0), (2, 4.0)]\n+a(avg<X>) <- v(I, X)")
    assert(rows(e2.run("?a(X)").last) == Set(Seq(3.0)))
    e2.run("+v[(3, 9.0)]")
    assert(rows(e2.run("?a(X)").last) == Set(Seq(5.0)))
  }

  test("linear-TC deletes maintain through the distributed affected-source path past the local cap") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+ed[(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)]
        |+r(X, Y) <- ed(X, Y)
        |+r(X, Z) <- r(X, Y), ed(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?r(X, Y)").last).size == 9)
    val before = e.maintainedCount
    e.limits = Engine.Limits(Engine.Tier.Distributed) // pin the distributed path
    // delete inside the 1-2-3-4 chain: the 10-11-12 component is
    // UNAFFECTED and must pass through verbatim (the anti-join side)
    e.run("-ed[(2, 3)]")
    assert(rows(e.run("?r(X, Y)").last) == Set(
      Seq(1L, 2L), Seq(3L, 4L),
      Seq(10L, 11L), Seq(10L, 12L), Seq(11L, 12L)))
    assert(e.maintainedCount == before + 1,
      "distributed affected-source delete should maintain, not recompute")
    // mixed round: delete one component's edge + insert a bridge
    e.run("-ed[(10, 11)]\n+ed[(2, 4)]")
    assert(rows(e.run("?r(X, Y)").last) == Set(
      Seq(1L, 2L), Seq(1L, 4L), Seq(2L, 4L), Seq(3L, 4L), Seq(11L, 12L)))
    assert(e.maintainedCount == before + 2)
  }

  test("two engines on one session maintain a TC view in parallel, each under its own limits") {
    // run at the same time on the shared session, each engine's delete
    // round takes the path its OWN closure cap picks
    val Seq(capped, default) = Seq(Engine.Limits(Engine.Tier.Distributed), Engine.Limits())
      .map(l => new Engine(new Catalog(spark), l))
    val results = new java.util.concurrent.ConcurrentHashMap[Engine, Set[Seq[Any]]]()
    inParallel(Seq(capped, default), threads = 2) { e =>
      assert(rows(e.run("+ed[(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)]\n" +
        "+r(X, Y) <- ed(X, Y)\n+r(X, Z) <- r(X, Y), ed(Y, Z)\n?r(X, Y)").last).size == 9)
      val before = e.maintainedCount
      e.run("-ed[(2, 3)]")
      results.put(e, rows(e.run("?r(X, Y)").last))
      assert(e.maintainedCount == before + 1, "a delete round recomputed")
    }
    assert(results.get(capped) == results.get(default))
    assert(results.get(capped) == Set(Seq(1L, 2L), Seq(3L, 4L),
      Seq(10L, 11L), Seq(10L, 12L), Seq(11L, 12L)))
    assert(capped.tcLocalRounds == 0L, "capped engine maintained driver-locally")
    assert(default.tcLocalRounds == 1L, "default engine left the driver-local pass")
  }

  test("negation-dependent maintenance: inserts into a negated rel kill, removals create") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+cand[(1), (2), (3), (4)]
        |+vip[(3)]
        |+blocked[(2)]
        |+ok(X) <- cand(X), !blocked(X)
        |+ok(X) <- vip(X)
        |""".stripMargin)
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(3L), Seq(4L)))
    val m0 = e.maintainedCount
    // INSERT into the negated rel = a kill; ok(3) must SURVIVE via its
    // vip derivation (DRed re-derivation), ok(4) dies outright
    e.run("+blocked[(3), (4)]")
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(3L)))
    assert(e.maintainedCount == m0 + 1, "negated-rel insert should maintain, not recompute")
    // REMOVAL from the negated rel = a create
    e.run("-blocked[(2)]")
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(2L), Seq(3L)))
    assert(e.maintainedCount == m0 + 2, "negated-rel removal should maintain, not recompute")
    // MIXED batch across both signs: new candidate, a positive-side
    // delete, and a negated-side insert in one transaction
    e.run(
      """+cand[(5)]
        |-cand[(1)]
        |+blocked[(5)]
        |""".stripMargin)
    assert(rows(e.run("?ok(X)").last) == Set(Seq(2L), Seq(3L)))
    assert(e.maintainedCount == m0 + 3, "mixed-sign batch should maintain, not recompute")
    // delete-then-reinsert of a blocked tuple in ONE batch is a net
    // no-op: the create side must bind removed ∖ current, not removed
    e.run("-blocked[(3)]\n+blocked[(3)]")
    assert(rows(e.run("?ok(X)").last) == Set(Seq(2L), Seq(3L)))
  }

  test("negation-dependent maintenance through a DERIVED negated relation (diffed delta)") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+p[(1), (2), (3), (4)]
        |+flag[(2)]
        |+bad(X) <- p(X), flag(X)
        |+ok(X) <- p(X), !bad(X)
        |""".stripMargin)
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(3L), Seq(4L)))
    val m0 = e.maintainedCount
    // insert into flag reaches ok only THROUGH the derived bad: bad's
    // delta is diffed from its cached materialization and flip-routed
    // as a kill (round 12; previously any change through a derived
    // negated dep recomputed the view)
    e.run("+flag[(3)]")
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(4L)))
    val m1 = e.maintainedCount
    assert(m1 > m0, "change through a derived negated dep should maintain, not recompute")
    // removal from flag shrinks bad = a create downstream
    e.run("-flag[(2)]")
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(2L), Seq(4L)))
    val m2 = e.maintainedCount
    assert(m2 > m1)
    // MIXED batch: +flag(4) kills ok(4), -flag(3) creates ok(3), and a
    // new base tuple p(5) arrives in the same transaction
    e.run("+flag[(4)]\n-flag[(3)]\n+p[(5)]")
    assert(rows(e.run("?ok(X)").last) ==
      Set(Seq(1L), Seq(2L), Seq(3L), Seq(5L)))
    assert(e.maintainedCount > m2)
    // a batch that leaves bad UNCHANGED (flag insert of a non-p value)
    // must not disturb the view
    e.run("+flag[(99)]")
    assert(rows(e.run("?ok(X)").last) ==
      Set(Seq(1L), Seq(2L), Seq(3L), Seq(5L)))
  }

  test("two derived negated deps changing in ONE batch: kills see the sibling's old state") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+p[(1), (2), (3)]
        |+f1[(9)]
        |+f2[(9)]
        |+b1(X) <- p(X), f1(X)
        |+b2(X) <- p(X), f2(X)
        |+ok(X) <- p(X), !b1(X), !b2(X)
        |""".stripMargin)
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(2L), Seq(3L)))
    // both derived negated deps gain the SAME tuple in one batch: the
    // kill driven through b1 must evaluate sibling !b2 at the OLD state
    // (and vice versa) or neither driver kills ok(3) — under-deletion
    e.run("+f1[(3)]\n+f2[(3)]")
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(2L)))
    // and the reverse direction: both lose the tuple in one batch
    e.run("-f1[(3)]\n-f2[(3)]")
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(2L), Seq(3L)))
  }

  test("derived negated dep depending on ANOTHER derived negated dep diffs both correctly") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+p[(1), (2)]
        |+f[(9)]
        |+g[(99)]
        |+n1(X) <- p(X), f(X)
        |+n2(X) <- n1(X), g(X)
        |+ok(X) <- p(X), !n1(X), !n2(X)
        |""".stripMargin)
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(2L)))
    // resolving n2's new state transitively maintains n1 — n1's OLD
    // snapshot must be taken before that displaces it, or n1's diff
    // comes out empty and the kill is dropped
    e.run("+f[(1)]")
    assert(rows(e.run("?ok(X)").last) == Set(Seq(2L)))
    e.run("-f[(1)]")
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(2L)))
  }

  test("negation-dependent maintenance through a recursive view") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1, 2), (2, 3), (3, 4)]
        |+dead[(9)]
        |+reach(X, Y) <- edge(X, Y), !dead(Y)
        |+reach(X, Z) <- reach(X, Y), edge(Y, Z), !dead(Z)
        |""".stripMargin)
    assert(rows(e.run("?reach(X, Y)").last) == Set(
      Seq(1L, 2L), Seq(1L, 3L), Seq(1L, 4L),
      Seq(2L, 3L), Seq(2L, 4L), Seq(3L, 4L)))
    val m0 = e.maintainedCount
    // killing node 3 must CASCADE: paths ending at 3 die directly, and
    // paths THROUGH 3 (1→4, 2→4) die because their only derivations ran
    // through the over-deleted reach(·,3)
    e.run("+dead[(3)]")
    assert(rows(e.run("?reach(X, Y)").last) == Set(Seq(1L, 2L), Seq(3L, 4L)))
    assert(e.maintainedCount == m0 + 1, "recursive negated kill should maintain")
    // reviving node 3 must re-derive the closure THROUGH the recursion:
    // the flip-bound seeds land reach(·,3), and the semi-naive
    // continuation rebuilds reach(1,4)/reach(2,4) from them
    e.run("-dead[(3)]")
    assert(rows(e.run("?reach(X, Y)").last) == Set(
      Seq(1L, 2L), Seq(1L, 3L), Seq(1L, 4L),
      Seq(2L, 3L), Seq(2L, 4L), Seq(3L, 4L)))
    assert(e.maintainedCount == m0 + 2, "recursive negated revive should maintain")
  }

  test("subtractable aggregates: deletes decrement per group, riding the carried support table") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+emp[(1, "eng", 10), (2, "eng", 20), (3, "ops", 5), (4, "qa", 7), (5, "qa", 9)]
        |+tot(D, count<S>, sum<S>) <- emp(I, D, S)
        |""".stripMargin)
    assert(rows(e.run("?tot(D, C, S)").last) ==
      Set(Seq("eng", 2L, 30L), Seq("ops", 1L, 5L), Seq("qa", 2L, 16L)))
    val (m0, d0, s0) = (e.maintainedCount, e.aggDecrementCount, e.auxSupportSeeds)
    // round 1: delete kills the whole ops group — the row must VANISH
    // (support hit 0), which the decrement path decides from the
    // freshly-seeded support table
    e.run("""-emp(3, "ops", 5)""")
    assert(rows(e.run("?tot(D, C, S)").last) ==
      Set(Seq("eng", 2L, 30L), Seq("qa", 2L, 16L)))
    assert(e.aggDecrementCount == d0 + 1, "delete should decrement, not dirty-group")
    assert(e.auxSupportSeeds == s0 + 1)
    // round 2: second delete RIDES the carried-forward table (no reseed)
    e.run("""-emp[(4, "qa", 7)]""")
    assert(rows(e.run("?tot(D, C, S)").last) ==
      Set(Seq("eng", 2L, 30L), Seq("qa", 1L, 9L)))
    assert(e.aggDecrementCount == d0 + 2 && e.auxSupportSeeds == s0 + 1,
      "second delete round must ride the carried support table")
    // round 3: an insert round keeps the table current (no reseed)...
    e.run("""+emp[(6, "ops", 11), (7, "eng", 2)]""")
    assert(rows(e.run("?tot(D, C, S)").last) ==
      Set(Seq("eng", 3L, 32L), Seq("qa", 1L, 9L), Seq("ops", 1L, 11L)))
    // ...so round 4's delete still decrements without reseeding
    e.run("""-emp[(6, "ops", 11), (5, "qa", 9)]""")
    assert(rows(e.run("?tot(D, C, S)").last) == Set(Seq("eng", 3L, 32L)))
    assert(e.auxSupportSeeds == s0 + 1, "insert between deletes must not force a reseed")
    assert(e.maintainedCount == m0 + 4, "every round maintained, none recomputed")
    // phantom delete (tuple never present) is a no-op, not a decrement
    e.run("""-emp[(99, "eng", 1000)]""")
    assert(rows(e.run("?tot(D, C, S)").last) == Set(Seq("eng", 3L, 32L)))
    // conditional delete (replace logs exact removals) decrements too
    val d1 = e.aggDecrementCount
    e.run("-emp(I, D, S) <- emp(I, D, S), S > 15")
    assert(rows(e.run("?tot(D, C, S)").last) == Set(Seq("eng", 2L, 12L)))
    assert(e.aggDecrementCount == d1 + 1 && e.auxSupportSeeds == s0 + 1,
      "conditional delete should decrement on the carried table")
    // this support table is far under the resident-copy cap, so every
    // riding round should have committed via the driver copy (a literal
    // support frame, no support-sized Spark action)
    assert(e.aggLocalRounds >= 2,
      "riding rounds should commit through the resident support copy")
  }

  test("avg deletes decrement through the carried sum/count support table") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+aemp[(1, "eng", 10), (2, "eng", 20), (3, "eng", 60), (4, "ops", 5), (5, "qa", 7)]
        |+av(D, avg<S>, count<S>) <- aemp(I, D, S)
        |""".stripMargin)
    assert(rows(e.run("?av(D, A, N)").last) ==
      Set(Seq("eng", 30.0, 3L), Seq("ops", 5.0, 1L), Seq("qa", 7.0, 1L)))
    val d0 = e.aggDecrementCount
    val s0 = e.auxSupportSeeds
    // avg = carried decimal sum / nn — a delete DECREMENTS instead of
    // dirty-group recomputing (round 11; avg views previously fell back)
    e.run("""-aemp[(3, "eng", 60)]""")
    assert(rows(e.run("?av(D, A, N)").last) ==
      Set(Seq("eng", 15.0, 2L), Seq("ops", 5.0, 1L), Seq("qa", 7.0, 1L)))
    assert(e.aggDecrementCount == d0 + 1 && e.auxSupportSeeds == s0 + 1,
      "avg delete should decrement, seeding the support table once")
    // round 2 rides the carried table (no reseed); a whole group dies
    e.run("""-aemp[(4, "ops", 5)]""")
    assert(rows(e.run("?av(D, A, N)").last) ==
      Set(Seq("eng", 15.0, 2L), Seq("qa", 7.0, 1L)))
    assert(e.aggDecrementCount == d0 + 2 && e.auxSupportSeeds == s0 + 1,
      "second avg delete round must ride the carried table")
    // f64 args: the decimal-carried sums subtract exactly (quarters are
    // exactly representable, so avg and sum match recompute bit for bit)
    e.run(
      """+bemp[(1, "a", 1.25), (2, "a", 2.5), (3, "b", 3.75)]
        |+av2(D, avg<S>, sum<S>) <- bemp(I, D, S)
        |""".stripMargin)
    assert(rows(e.run("?av2(D, A, S)").last) ==
      Set(Seq("a", 1.875, 3.75), Seq("b", 3.75, 3.75)))
    e.run("""-bemp[(2, "a", 2.5)]""")
    assert(rows(e.run("?av2(D, A, S)").last) ==
      Set(Seq("a", 1.25, 1.25), Seq("b", 3.75, 3.75)))
    assert(e.aggDecrementCount == d0 + 3,
      "f64 avg+sum delete should decrement on the carried decimal sums")
  }

  test("min/max deletes decrement through the carried top-2 support, promoting the runner-up") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+xemp[(1, "eng", 10), (2, "eng", 10), (3, "eng", 20), (4, "eng", 30), (5, "ops", 5)]
        |+mm(D, min<S>, max<S>, count<S>) <- xemp(I, D, S)
        |""".stripMargin)
    assert(rows(e.run("?mm(D, L, H, C)").last) ==
      Set(Seq("eng", 10L, 30L, 4L), Seq("ops", 5L, 5L, 1L)))
    val (d0, s0) = (e.aggDecrementCount, e.auxSupportSeeds)
    // round 1: a PARTIAL extremum delete — min 10 has two supports, so
    // the value must survive; seeds the top-2 support table
    e.run("""-xemp[(1, "eng", 10)]""")
    assert(rows(e.run("?mm(D, L, H, C)").last) ==
      Set(Seq("eng", 10L, 30L, 3L), Seq("ops", 5L, 5L, 1L)))
    assert(e.aggDecrementCount == d0 + 1 && e.auxSupportSeeds == s0 + 1,
      "min/max delete should decrement via the top-2 carry")
    // round 2: the LAST min support goes — the carried runner-up (20)
    // promotes exactly, riding the carried table (no reseed)
    e.run("""-xemp[(2, "eng", 10)]""")
    assert(rows(e.run("?mm(D, L, H, C)").last) ==
      Set(Seq("eng", 20L, 30L, 2L), Seq("ops", 5L, 5L, 1L)))
    assert(e.aggDecrementCount == d0 + 2 && e.auxSupportSeeds == s0 + 1,
      "runner-up promotion must ride the carried table")
    // round 3: best AND runner-up both died in round 2's promotion
    // bookkeeping (runner-up now unknown for eng) — deleting the new
    // extremum refills top-2 from a key-filtered pass, still a
    // decrement round
    e.run("""-xemp[(3, "eng", 20)]""")
    assert(rows(e.run("?mm(D, L, H, C)").last) ==
      Set(Seq("eng", 30L, 30L, 1L), Seq("ops", 5L, 5L, 1L)))
    assert(e.aggDecrementCount == d0 + 3)
    // round 4: inserts better than both carried values re-rank them
    e.run("""+xemp[(6, "eng", 1), (7, "eng", 2)]""")
    assert(rows(e.run("?mm(D, L, H, C)").last) ==
      Set(Seq("eng", 1L, 30L, 3L), Seq("ops", 5L, 5L, 1L)))
    // round 5: delete the new best — the inserted runner-up (2) promotes
    e.run("""-xemp[(6, "eng", 1)]""")
    assert(rows(e.run("?mm(D, L, H, C)").last) ==
      Set(Seq("eng", 2L, 30L, 2L), Seq("ops", 5L, 5L, 1L)))
    // round 6: whole-group death and a fresh group in one mixed batch
    e.run("-xemp(5, \"ops\", 5)\n+xemp[(8, \"qa\", 40)]")
    assert(rows(e.run("?mm(D, L, H, C)").last) ==
      Set(Seq("eng", 2L, 30L, 2L), Seq("qa", 40L, 40L, 1L)))
    assert(e.auxSupportSeeds == s0 + 1, "all rounds rode one seeded table")
  }

  test("recursive min/max aggregates rank a NaN label greatest on every path (Spark semantics)") {
    // Spark's min/max order NaN above every number. The local solver
    // serves the 2-atom shape; the `D2 = D + 1` binding is a shape it
    // rejects, so that program runs the distributed value-iteration loop.
    import spark.implicits._
    def local(df: org.apache.spark.sql.DataFrame): Boolean =
      graft.plans.Fixpoint.checkpointRddOf(df).isEmpty
    def solve(func: String, seeds: Seq[(Long, Double)], viaLoop: Boolean,
        limits: Engine.Limits): (Set[Seq[Any]], Boolean) = {
      val cat = new Catalog(spark)
      cat.register("seed", seeds.toDF("c0", "c1"))
      val rec =
        if (viaLoop) s"+p(Y, $func<D2>) <- p(X, D), edge(X, Y), D2 = D + 1"
        else s"+p(Y, $func<D + 1>) <- p(X, D), edge(X, Y)"
      val df = new Engine(cat, limits).run(
        s"""+edge[(1, 2), (2, 3)]
           |+p(X, D) <- seed(X, D)
           |$rec
           |?p(X, D)
           |""".stripMargin).last
      (rows(df).map(graft.plans.SparkValues.key(_).asInstanceOf[Seq[Any]]), local(df))
    }
    val nan = graft.plans.SparkValues.key(Double.NaN)
    // min: node 2's NaN seed loses to the derived 1.0; max: node 1's NaN
    // seed wins at node 2 over its 5.0 seed and carries on to node 3
    Seq(
      ("min", Seq(1L -> 0.0, 2L -> Double.NaN),
        Set(Seq[Any](1L, 0.0), Seq[Any](2L, 1.0), Seq[Any](3L, 2.0))),
      ("max", Seq(1L -> Double.NaN, 2L -> 5.0),
        Set(Seq[Any](1L, nan), Seq[Any](2L, nan), Seq[Any](3L, nan)))
    ).foreach { case (func, seeds, expected) =>
      for (limits <- Seq(Engine.Limits(), Engine.Limits(Engine.Tier.Distributed))) {
        val (viaSolver, solverLocal) = solve(func, seeds, viaLoop = false, limits)
        val (viaLoop, loopLocal) = solve(func, seeds, viaLoop = true, limits)
        assert(solverLocal && !loopLocal, s"$func: paths not as intended")
        assert(viaLoop == expected, s"$func distributed loop")
        assert(viaSolver == expected, s"$func local solver under $limits")
      }
    }
  }

  test("f64 min/max deletes decrement with NaN ordered greatest (Spark semantics)") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+fmm[(1, "a", 1.5), (2, "a", 2.5), (3, "a", 3.5)]
        |+fv(G, min<V>, max<V>) <- fmm(I, G, V)
        |""".stripMargin)
    assert(rows(e.run("?fv(G, L, H)").last) == Set(Seq("a", 1.5, 3.5)))
    val d0 = e.aggDecrementCount
    e.run("""-fmm[(1, "a", 1.5)]""")
    assert(rows(e.run("?fv(G, L, H)").last) == Set(Seq("a", 2.5, 3.5)))
    e.run("""-fmm[(3, "a", 3.5)]""")
    assert(rows(e.run("?fv(G, L, H)").last) == Set(Seq("a", 2.5, 2.5)))
    assert(e.aggDecrementCount == d0 + 2,
      "f64 min/max deletes should decrement via the top-2 carry")
  }

  test("top_k deletes maintain through the carried prefix buffer") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+temp[("eng","a",10),("eng","b",30),("eng","c",20),("eng","d",25),("ops","x",5),("ops","y",7)]
        |+best(D, top_k<2, N, S:desc>) <- temp(D, N, S)
        |""".stripMargin)
    assert(rows(e.run("?best(D, N, S)").last) == Set(
      Seq("eng", "b", 30L), Seq("eng", "d", 25L),
      Seq("ops", "y", 7L), Seq("ops", "x", 5L)))
    val (d0, s0) = (e.rankDecrementCount, e.rankBufferSeeds)
    // round 1: delete the eng best — seeds the buffer; the slack row
    // (20) fills the k=2 window without a group recompute
    e.run("""-temp[("eng","b",30)]""")
    assert(rows(e.run("?best(D, N, S)").last) == Set(
      Seq("eng", "d", 25L), Seq("eng", "c", 20L),
      Seq("ops", "y", 7L), Seq("ops", "x", 5L)))
    assert(e.rankDecrementCount == d0 + 1 && e.rankBufferSeeds == s0 + 1,
      "top_k delete should seed the prefix buffer once and decrement")
    // round 2 rides the carried buffer (no reseed)
    e.run("""-temp[("eng","d",25)]""")
    assert(rows(e.run("?best(D, N, S)").last) == Set(
      Seq("eng", "c", 20L), Seq("eng", "a", 10L),
      Seq("ops", "y", 7L), Seq("ops", "x", 5L)))
    assert(e.rankDecrementCount == d0 + 2 && e.rankBufferSeeds == s0 + 1,
      "second top_k delete round must ride the carried buffer")
    // round 3: an insert within the prefix merges into the live buffer
    e.run("""+temp[("eng","e",40)]""")
    assert(rows(e.run("?best(D, N, S)").last) == Set(
      Seq("eng", "e", 40L), Seq("eng", "c", 20L),
      Seq("ops", "y", 7L), Seq("ops", "x", 5L)))
    // round 4: delete the inserted best — the buffer stayed current
    // through the insert, so this round still rides it
    e.run("""-temp[("eng","e",40)]""")
    assert(rows(e.run("?best(D, N, S)").last) == Set(
      Seq("eng", "c", 20L), Seq("eng", "a", 10L),
      Seq("ops", "y", 7L), Seq("ops", "x", 5L)))
    assert(e.rankBufferSeeds == s0 + 1, "all rounds rode one seeded buffer")
    // round 5: whole-group death plus a fresh group in one mixed batch
    e.run("-temp(D, N, S) <- temp(D, N, S), D = \"ops\"\n+temp[(\"qa\",\"q\",1)]")
    assert(rows(e.run("?best(D, N, S)").last) == Set(
      Seq("eng", "c", 20L), Seq("eng", "a", 10L), Seq("qa", "q", 1L)))
    assert(e.rankBufferSeeds == s0 + 1)
  }

  test("top_k delete past the carried slack refills from a key-filtered pass") {
    val e = new Engine(new Catalog(spark))
    // 25 distinct rows in one group; k=1 carries 1+16=17 distinct rows
    val facts = (1 to 25).map(i => s"""("g", "n$i", $i)""").mkString(",")
    e.run(s"+kemp[$facts]\n+kb(D, top_k<1, N, S:desc>) <- kemp(D, N, S)")
    assert(rows(e.run("?kb(D, N, S)").last) == Set(Seq("g", "n25", 25L)))
    val s0 = e.rankBufferSeeds
    // round 1 seeds (buffer = 25..9, tot = 25)
    e.run("""-kemp[("g", "n25", 25)]""")
    assert(rows(e.run("?kb(D, N, S)").last) == Set(Seq("g", "n24", 24L)))
    // round 2: delete everything above 3 — the buffer empties while
    // rows remain beyond it, forcing the refill pass; still no reseed
    e.run("-kemp(D, N, S) <- kemp(D, N, S), S > 3")
    assert(rows(e.run("?kb(D, N, S)").last) == Set(Seq("g", "n3", 3L)))
    assert(e.rankBufferSeeds == s0 + 1,
      "refill must ride the carried buffer, not reseed")
    // round 3: the refilled buffer is exhaustive — rides again
    e.run("""-kemp[("g", "n3", 3)]""")
    assert(rows(e.run("?kb(D, N, S)").last) == Set(Seq("g", "n2", 2L)))
    assert(e.rankBufferSeeds == s0 + 1)
  }

  test("ungrouped top_k refills by whole-view rebuild when the slack empties") {
    val e = new Engine(new Catalog(spark))
    // 25 distinct rows, ungrouped k=1 carries 17; deleting the top 20
    // empties the buffer while rows remain beyond it
    val facts = (1 to 25).map(i => s"""("n$i", $i)""").mkString(",")
    e.run(s"+uk[$facts]\n+ub2(top_k<1, N, S:desc>) <- uk(N, S)")
    assert(rows(e.run("?ub2(N, S)").last) == Set(Seq("n25", 25L)))
    val s0 = e.rankBufferSeeds
    e.run("""-uk[("n25", 25)]""") // seeds
    assert(rows(e.run("?ub2(N, S)").last) == Set(Seq("n24", 24L)))
    e.run("-uk(N, S) <- uk(N, S), S > 5") // past the slack → rebuild
    assert(rows(e.run("?ub2(N, S)").last) == Set(Seq("n5", 5L)))
    assert(e.rankBufferSeeds == s0 + 1,
      "the ungrouped refill is a rebuild inside the riding round, not a reseed")
  }

  test("top_k_threshold deletes ride the buffer and keep the bound") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+zemp[("eng","a",10),("eng","b",30),("eng","c",20),("eng","d",16)]
        |+zb(D, top_k_threshold<2, 15, N, S:desc>) <- zemp(D, N, S)
        |""".stripMargin)
    assert(rows(e.run("?zb(D, N, S)").last) ==
      Set(Seq("eng", "b", 30L), Seq("eng", "c", 20L)))
    val s0 = e.rankBufferSeeds
    // the buffer (and its totals) count only threshold-passing bindings:
    // deleting the best admits d=16 from the slack, never a=10
    e.run("""-zemp[("eng","b",30)]""")
    assert(rows(e.run("?zb(D, N, S)").last) ==
      Set(Seq("eng", "c", 20L), Seq("eng", "d", 16L)))
    assert(e.rankBufferSeeds == s0 + 1)
    // exhausting the above-threshold rows shrinks the view below k
    e.run("""-zemp[("eng","c",20)]""")
    assert(rows(e.run("?zb(D, N, S)").last) == Set(Seq("eng", "d", 16L)))
    assert(e.rankBufferSeeds == s0 + 1, "rounds rode one seeded buffer")
  }

  test("ungrouped top_k deletes ride the buffer; duplicates keep multiplicities") {
    val e = new Engine(new Catalog(spark))
    // two bindings project to the SAME head row ("b", 30): the view is
    // a bag, and a delete removes exactly one copy's binding
    e.run(
      """+uemp[(1, "a", 10), (2, "b", 30), (3, "b", 30), (4, "c", 20)]
        |+ub(top_k<2, N, S:desc>) <- uemp(I, N, S)
        |""".stripMargin)
    val r0 = e.run("?ub(N, S)").last.collect().map(_.toSeq).toSeq
    assert(r0.sortBy(_.toString) == Seq(Seq("b", 30L), Seq("b", 30L)).sortBy(_.toString))
    val s0 = e.rankBufferSeeds
    e.run("""-uemp[(2, "b", 30)]""") // one copy goes; the other stays
    val r1 = e.run("?ub(N, S)").last.collect().map(_.toSeq).toSeq
    assert(r1.sortBy(_.toString) == Seq(Seq("b", 30L), Seq("c", 20L)).sortBy(_.toString))
    e.run("""-uemp[(3, "b", 30)]""") // the last copy; rides the buffer
    val r2 = e.run("?ub(N, S)").last.collect().map(_.toSeq).toSeq
    assert(r2.sortBy(_.toString) == Seq(Seq("c", 20L), Seq("a", 10L)).sortBy(_.toString))
    assert(e.rankBufferSeeds == s0 + 1)
  }

  test("global aggregate views decrement under deletes — the view row is the carry") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+gemp3[(1, 10), (2, 20), (3, 30)]
        |+gt(sum<S>, count<S>) <- gemp3(I, S)
        |""".stripMargin)
    assert(rows(e.run("?gt(S, C)").last) == Set(Seq(60L, 3L)))
    val d0 = e.aggDecrementCount
    e.run("""-gemp3[(2, 20)]""")
    assert(rows(e.run("?gt(S, C)").last) == Set(Seq(40L, 2L)))
    assert(e.aggDecrementCount == d0 + 1,
      "a key-less aggregate delete should decrement, not rescan")
    // mixed round: a delete and an insert net into one arithmetic step
    e.run("-gemp3[(1, 10)]\n+gemp3[(4, 5)]")
    assert(rows(e.run("?gt(S, C)").last) == Set(Seq(35L, 2L)))
    assert(e.aggDecrementCount == d0 + 2)
    // the last rows die: a global aggregate over an empty body is the
    // EMPTY view (reference semantics), not a zero row
    e.run("-gemp3(I, S) <- gemp3(I, S), S > 0")
    assert(rows(e.run("?gt(S, C)").last) == Set.empty[Seq[Any]])
    assert(e.aggDecrementCount == d0 + 3)
    // rebirth through the normal insert path
    e.run("""+gemp3[(9, 7)]""")
    assert(rows(e.run("?gt(S, C)").last) == Set(Seq(7L, 1L)))
  }

  test("agg views maintain dirty-group through negated base-rel changes") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+gemp[(1, "eng", 10), (2, "eng", 20), (3, "ops", 5), (4, "qa", 7)]
        |+gblk[("qa")]
        |+gv(D, sum<S>, count<S>) <- gemp(I, D, S), !gblk(D)
        |""".stripMargin)
    assert(rows(e.run("?gv(D, S, C)").last) ==
      Set(Seq("eng", 30L, 2L), Seq("ops", 5L, 1L)))
    val d0 = e.dirtyGroupMaintains
    // an insert into the negated rel KILLS that dept's bindings — the
    // dirty keys come from the flipped negated occurrence
    e.run("""+gblk[("ops")]""")
    assert(rows(e.run("?gv(D, S, C)").last) == Set(Seq("eng", 30L, 2L)))
    assert(e.dirtyGroupMaintains == d0 + 1,
      "negated-side insert should maintain dirty-group, not recompute")
    // a removal from the negated rel REVIVES the dept
    e.run("""-gblk[("qa")]""")
    assert(rows(e.run("?gv(D, S, C)").last) ==
      Set(Seq("eng", 30L, 2L), Seq("qa", 7L, 1L)))
    assert(e.dirtyGroupMaintains == d0 + 2)
    // mixed round: a negated-side move AND a positive-side insert
    e.run("-gblk[(\"ops\")]\n+gblk[(\"eng\")]\n+gemp[(5, \"qa\", 3)]")
    assert(rows(e.run("?gv(D, S, C)").last) ==
      Set(Seq("ops", 5L, 1L), Seq("qa", 10L, 2L)))
    assert(e.dirtyGroupMaintains == d0 + 3)
  }

  test("views stacked on positive derived deps maintain via stratum diffs") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+semp[(1, "eng", 10), (2, "eng", 20), (3, "ops", 5), (4, "qa", 40)]
        |+s1(D, sum<S>) <- semp(I, D, S)
        |+s2(D, T) <- s1(D, T), T > 12
        |""".stripMargin)
    assert(rows(e.run("?s2(D, T)").last) == Set(Seq("eng", 30L), Seq("qa", 40L)))
    val m0 = e.maintainedCount
    // a base insert maintains s1 (merge) AND s2 (its diff injects as a
    // changed-base-rel delta) — previously s2 recomputed outright
    e.run("""+semp[(5, "ops", 9)]""")
    assert(rows(e.run("?s2(D, T)").last) ==
      Set(Seq("eng", 30L), Seq("qa", 40L), Seq("ops", 14L)))
    assert(e.maintainedCount >= m0 + 2,
      "both strata should maintain, not recompute")
    // a base delete: s1's group shrinks (decrement), s2 sees the diff
    // as a removal (eng,30) plus an insert (eng,10) that fails T > 12
    e.run("""-semp[(2, "eng", 20)]""")
    assert(rows(e.run("?s2(D, T)").last) ==
      Set(Seq("qa", 40L), Seq("ops", 14L)))
    assert(e.maintainedCount >= m0 + 4)
    // an untouched sibling base rel leaves the stack alone
    e.run("""+unrel9[(1)]""")
    assert(rows(e.run("?s2(D, T)").last) ==
      Set(Seq("qa", 40L), Seq("ops", 14L)))
  }

  test("a three-level stack cascades stratum diffs") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+w0[(1, "eng", 10), (2, "eng", 20), (3, "ops", 5), (4, "qa", 40)]
        |+w1(D, sum<S>) <- w0(I, D, S)
        |+w2(D, T) <- w1(D, T), T > 12
        |+w3(D) <- w2(D, T), T < 35
        |""".stripMargin)
    assert(rows(e.run("?w3(D)").last) == Set(Seq("eng")))
    val m0 = e.maintainedCount
    // one base insert ripples: w1 merges, w2 and w3 ride their lower
    // stratum's diff — three maintains, zero recomputes
    e.run("""+w0[(5, "ops", 9)]""")
    assert(rows(e.run("?w3(D)").last) == Set(Seq("eng"), Seq("ops")))
    assert(e.maintainedCount >= m0 + 3,
      "all three strata should maintain")
    // a delete ripples the other way: eng's sum drops below the w2 cut
    e.run("""-w0[(2, "eng", 20)]""")
    assert(rows(e.run("?w3(D)").last) == Set(Seq("ops")))
    assert(e.maintainedCount >= m0 + 6)
  }

  test("rank views over positive derived deps maintain via stratum diffs") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+remp3[(1, "eng", 10), (2, "eng", 30), (3, "ops", 5), (4, "ops", 8), (5, "qa", 2)]
        |+r1(D, sum<S>) <- remp3(I, D, S)
        |+r2(top_k<2, D, T:desc>) <- r1(D, T)
        |""".stripMargin)
    assert(rows(e.run("?r2(D, T)").last) ==
      Set(Seq("eng", 40L), Seq("ops", 13L)))
    val m0 = e.maintainedCount
    // boost qa past ops: r1 maintains, r2 re-ranks from the diff
    e.run("""+remp3[(6, "qa", 20)]""")
    assert(rows(e.run("?r2(D, T)").last) ==
      Set(Seq("eng", 40L), Seq("qa", 22L)))
    assert(e.maintainedCount >= m0 + 2)
  }

  test("agg views maintain dirty-group through DERIVED negated dependencies") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+memp2[(1, "eng", 2), (2, "eng", 20), (3, "ops", 9), (4, "qa", 1), (5, "qa", 8)]
        |+low2(D) <- memp2(I, D, S), S < 5
        |+mv2(D, sum<S>, count<S>) <- memp2(I, D, S), !low2(D)
        |""".stripMargin)
    assert(rows(e.run("?mv2(D, S, C)").last) == Set(Seq("ops", 9L, 1L)))
    val d0 = e.dirtyGroupMaintains
    // deleting eng's low row shrinks the DERIVED low2 — its diff
    // injects as a removal and the flip routing revives eng
    e.run("""-memp2[(1, "eng", 2)]""")
    assert(rows(e.run("?mv2(D, S, C)").last) ==
      Set(Seq("ops", 9L, 1L), Seq("eng", 20L, 1L)))
    assert(e.dirtyGroupMaintains == d0 + 1,
      "derived-negated shrink should maintain dirty-group, not recompute")
    // inserting a low row for ops grows low2 — the diff injects as an
    // insert (a kill) and ops dies, while eng's cached row is kept
    e.run("""+memp2[(6, "ops", 1)]""")
    assert(rows(e.run("?mv2(D, S, C)").last) == Set(Seq("eng", 20L, 1L)))
    assert(e.dirtyGroupMaintains == d0 + 2)
  }

  test("rank views maintain dirty-group through negated base-rel changes") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+hemp[("eng","a",10),("eng","b",30),("ops","x",5),("ops","y",7),("qa","q",9)]
        |+hblk[("qa")]
        |+hb(D, top_k<1, N, S:desc>) <- hemp(D, N, S), !hblk(D)
        |""".stripMargin)
    assert(rows(e.run("?hb(D, N, S)").last) ==
      Set(Seq("eng", "b", 30L), Seq("ops", "y", 7L)))
    val d0 = e.dirtyGroupMaintains
    e.run("""+hblk[("eng")]""") // kills eng
    assert(rows(e.run("?hb(D, N, S)").last) == Set(Seq("ops", "y", 7L)))
    assert(e.dirtyGroupMaintains == d0 + 1,
      "negated-side insert on a rank view should maintain dirty-group")
    e.run("""-hblk[("qa")]""") // revives qa
    assert(rows(e.run("?hb(D, N, S)").last) ==
      Set(Seq("ops", "y", 7L), Seq("qa", "q", 9L)))
    assert(e.dirtyGroupMaintains == d0 + 2)
  }

  test("within_radius deletes subtract the vanished bindings bag-exactly") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+pt2[("a", 1.0), ("b", 3.0), ("c", 0.5), ("d", 1.2)]
        |+close2(within_radius<1.5, N, D>) <- pt2(N, D)
        |""".stripMargin)
    assert(rows(e.run("?close2(N, D)").last) ==
      Set(Seq("a", 1.0), Seq("c", 0.5), Seq("d", 1.2)))
    val d0 = e.rankDecrementCount
    e.run("""-pt2[("c", 0.5)]""")
    assert(rows(e.run("?close2(N, D)").last) ==
      Set(Seq("a", 1.0), Seq("d", 1.2)))
    assert(e.rankDecrementCount == d0 + 1,
      "within_radius delete should subtract, not recompute")
    // mixed batch: a delete and an insert inside the radius in one round
    e.run("-pt2(N, D) <- pt2(N, D), D > 1.1\n+pt2[(\"e\", 0.9)]")
    assert(rows(e.run("?close2(N, D)").last) ==
      Set(Seq("a", 1.0), Seq("e", 0.9)))
    assert(e.rankDecrementCount == d0 + 2)
  }

  test("displaced view materializations retire through the graveyard instead of leaking") {
    val e = new Engine(new Catalog(spark))
    // each round deletes from BOTH body relations (the maux tombstone
    // nets to a no-op), putting it outside the subtractable contract
    // (single changed relation) — deletes stay on the dirty-group
    // path, the shape whose per-round materializations this test pins
    // (string min alone no longer forces it: strings ride the top-2
    // carry since round 12)
    e.run(
      """+m3[(1, "a", "v10"), (2, "a", "v20"), (3, "b", "v07")]
        |+maux[("a"), ("b"), ("c")]
        |+mg(G, min<V>) <- m3(I, G, V), maux(G)
        |""".stripMargin)
    assert(rows(e.run("?mg(G, V)").last) == Set(Seq("a", "v10"), Seq("b", "v07")))
    val r0 = e.viewRetirements
    // round 1: min-delete dirty-group maintenance materializes a new
    // view; the displaced entry was a lazy PLAN (first evaluation) —
    // nothing to retire yet
    e.run("-m3[(1, \"a\", \"v10\")]\n-maux[(\"c\")]\n+maux[(\"c\")]")
    assert(rows(e.run("?mg(G, V)").last) == Set(Seq("a", "v20"), Seq("b", "v07")))
    // round 2: the new materialization displaces round 1's — that one
    // is a checkpoint this cache owns, and it must RETIRE (before this
    // landed, every maintenance round leaked one view-sized checkpoint)
    e.run("-m3[(3, \"b\", \"v07\")]\n-maux[(\"c\")]\n+maux[(\"c\")]")
    assert(rows(e.run("?mg(G, V)").last) == Set(Seq("a", "v20")))
    assert(e.viewRetirements > r0, "displaced materialized view should retire")
    // an UNRELATED rule (head outside mg's closure) leaves the held
    // materialization live — dependency invalidation, not displacement
    val r1 = e.viewRetirements
    e.run("+extra(X) <- m3(X, G, V)")
    assert(rows(e.run("?mg(G, V)").last) == Set(Seq("a", "v20")))
    assert(e.viewRetirements == r1,
      "unrelated rule change must not displace the view's materialization")
    // a DEPENDENT rule change (head m3 is in mg's closure) invalidates;
    // the re-derivation's cachePut displaces the held materialization —
    // retire through the graveyard
    e.run(
      """+extra2[(9)]
        |+m3(X, "c", "a1") <- extra2(X)
        |""".stripMargin)
    assert(rows(e.run("?mg(G, V)").last) == Set(Seq("a", "v20"), Seq("c", "a1")))
    assert(e.viewRetirements > r1,
      "re-derivation after a dependent rule change should retire the displaced view")
  }

  test("fallback after a subtractable round must not free the view's backing blocks") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+emp[(1, "eng", 10), (2, "eng", 20), (3, "ops", 5), (4, "qa", 7)]
        |+dept[("eng"), ("ops"), ("qa")]
        |+tot2(D, count<S>, sum<S>) <- emp(I, D, S), dept(D)
        |""".stripMargin)
    assert(rows(e.run("?tot2(D, C, S)").last) ==
      Set(Seq("eng", 2L, 30L), Seq("ops", 1L, 5L), Seq("qa", 1L, 7L)))
    val d0 = e.aggDecrementCount
    // round 1: subtractable — the served view becomes a projection of
    // the freshly-committed support table (they share one checkpoint)
    e.run("""-emp[(1, "eng", 10)]""")
    assert(rows(e.run("?tot2(D, C, S)").last) ==
      Set(Seq("eng", 1L, 20L), Seq("ops", 1L, 5L), Seq("qa", 1L, 7L)))
    assert(e.aggDecrementCount == d0 + 1)
    // round 2: deletes touch BOTH body rels — outside the subtractable
    // contract (single changed relation), so the round falls back to
    // dirty-group maintenance, which READS the served view. Releasing
    // the support table's checkpoint on that bail froze the view's
    // lineage-truncated blocks out from under the read (lost-block
    // SparkException before the fix).
    e.run("-emp[(3, \"ops\", 5)]\n-dept[(\"ops\")]")
    assert(rows(e.run("?tot2(D, C, S)").last) ==
      Set(Seq("eng", 1L, 20L), Seq("qa", 1L, 7L)))
    // round 3: the next subtractable round reseeds and displaces the
    // stale support table cleanly
    e.run("""-emp[(4, "qa", 7)]""")
    assert(rows(e.run("?tot2(D, C, S)").last) == Set(Seq("eng", 1L, 20L)))
    assert(e.aggDecrementCount == d0 + 2)
  }

  test("no-op delete rounds keep the carried cd pairs tables current") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+ev2[(1, "a", 10), (2, "a", 20), (3, "b", 30)]
        |+cdv3(G, count_distinct<V>) <- ev2(I, G, V)
        |""".stripMargin)
    assert(rows(e.run("?cdv3(G, C)").last) == Set(Seq("a", 2L), Seq("b", 1L)))
    val s0 = e.cdPairsSeeds
    // round 1: real delete seeds the pairs table
    e.run("""-ev2[(3, "b", 30)]""")
    assert(rows(e.run("?cdv3(G, C)").last) == Set(Seq("a", 2L)))
    assert(e.cdPairsSeeds == s0 + 1)
    // round 2: phantom delete nets to nothing — the carried tables must
    // re-stamp to the new version, not strand at the old one
    e.run("""-ev2[(99, "z", 1)]""")
    assert(rows(e.run("?cdv3(G, C)").last) == Set(Seq("a", 2L)))
    // round 3: the next real delete RIDES the carried tables (a strand
    // would force a body-scan reseed here)
    e.run("""-ev2[(1, "a", 10)]""")
    assert(rows(e.run("?cdv3(G, C)").last) == Set(Seq("a", 1L)))
    assert(e.cdPairsSeeds == s0 + 1, "no-op round must not strand the pairs table")
  }

  test("count_distinct deletes decrement via support-counted pairs") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+ev[(1, "a", 10), (2, "a", 10), (3, "a", 20), (4, "b", 30)]
        |+cdv(G, count_distinct<V>, count<V>) <- ev(I, G, V)
        |""".stripMargin)
    assert(rows(e.run("?cdv(G, C, N)").last) ==
      Set(Seq("a", 2L, 3L), Seq("b", 1L, 1L)))
    val (d0, m0) = (e.aggDecrementCount, e.maintainedCount)
    // value 10 has TWO supporting bindings: deleting one must NOT drop
    // the distinct count — the pair survives on its remaining support
    e.run("""-ev[(1, "a", 10)]""")
    assert(rows(e.run("?cdv(G, C, N)").last) ==
      Set(Seq("a", 2L, 2L), Seq("b", 1L, 1L)))
    assert(e.aggDecrementCount == d0 + 1, "cd delete should decrement, not dirty-group")
    // deleting the LAST support of value 10 drops it
    e.run("""-ev[(2, "a", 10)]""")
    assert(rows(e.run("?cdv(G, C, N)").last) ==
      Set(Seq("a", 1L, 1L), Seq("b", 1L, 1L)))
    // whole-group death cleans the pairs away too
    e.run("""-ev[(4, "b", 30)]""")
    assert(rows(e.run("?cdv(G, C, N)").last) == Set(Seq("a", 1L, 1L)))
    // mixed batch: a value dies while a NEW value (two supports) is born
    e.run("-ev[(3, \"a\", 20)]\n+ev[(5, \"a\", 40), (6, \"a\", 40)]")
    assert(rows(e.run("?cdv(G, C, N)").last) == Set(Seq("a", 1L, 2L)))
    assert(e.maintainedCount == m0 + 4, "every cd round maintained, none recomputed")
  }

  test("subtractable aggregates: delete-then-reinsert cancels; null sums go null on last support") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+m[(1, "a", 10), (2, "a", 20), (3, "b", 7)]
        |+agg(G, sum<V>, count<V>) <- m(I, G, V)
        |""".stripMargin)
    assert(rows(e.run("?agg(G, S, C)").last) ==
      Set(Seq("a", 30L, 2L), Seq("b", 7L, 1L)))
    val d0 = e.aggDecrementCount
    // one batch: delete then re-insert the same tuple + a real delete
    e.run(
      """-m(1, "a", 10)
        |+m[(1, "a", 10)]
        |-m(2, "a", 20)
        |""".stripMargin)
    assert(rows(e.run("?agg(G, S, C)").last) ==
      Set(Seq("a", 10L, 1L), Seq("b", 7L, 1L)))
    assert(e.aggDecrementCount == d0 + 1)
  }

  test("dirty-group maintenance: ranked view delete lets an evicted row return") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+emp[("eng","a",10),("eng","b",30),("eng","c",20),("ops","d",5),("ops","e",7)]
        |+best(D, top_k<2, N, S:desc>) <- emp(D, N, S)
        |""".stripMargin)
    assert(rows(e.run("?best(D, N, S)").last) == Set(
      Seq("eng", "b", 30L), Seq("eng", "c", 20L),
      Seq("ops", "e", 7L), Seq("ops", "d", 5L)))
    val before = e.maintainedCount
    // deleting eng's top row must bring previously-evicted "a" back into
    // the eng top-2 — exactly what the insert-only merge cannot do —
    // while ops is untouched and served from the cached rows
    e.run("""-emp("eng", "b", 30)""")
    assert(rows(e.run("?best(D, N, S)").last) == Set(
      Seq("eng", "c", 20L), Seq("eng", "a", 10L),
      Seq("ops", "e", 7L), Seq("ops", "d", 5L)))
    assert(e.maintainedCount == before + 1,
      "ranked-view delete should dirty-group-maintain, not recompute")
  }

  test("dirty-group maintenance: grouped avg view survives a mixed batch incrementally") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+emp[(1, "eng", 10.0), (2, "eng", 20.0), (3, "ops", 5.0), (4, "qa", 8.0)]
        |+m(D, avg<S>, count_distinct<S>) <- emp(I, D, S)
        |""".stripMargin)
    assert(rows(e.run("?m(D, A, C)").last) ==
      Set(Seq("eng", 15.0, 2L), Seq("ops", 5.0, 1L), Seq("qa", 8.0, 1L)))
    val before = e.maintainedCount
    // mixed batch: insert into an existing group, a brand-new group, and
    // delete from another — only eng/ops/new are dirty; qa is untouched
    e.run(
      """-emp(3, "ops", 5.0)
        |+emp[(5, "eng", 40.0), (6, "new", 7.0), (7, "eng", 40.0)]
        |""".stripMargin)
    assert(rows(e.run("?m(D, A, C)").last) ==
      Set(Seq("eng", 27.5, 3L), Seq("qa", 8.0, 1L), Seq("new", 7.0, 1L)))
    assert(e.maintainedCount == before + 1,
      "grouped avg/count_distinct should dirty-group-maintain, not recompute")
    // second round: delete-only batch over the maintained result
    e.run("""-emp(5, "eng", 40.0)""")
    assert(rows(e.run("?m(D, A, C)").last) ==
      Set(Seq("eng", 23.333333333333332, 3L), Seq("qa", 8.0, 1L), Seq("new", 7.0, 1L)))
    assert(e.maintainedCount == before + 2)
  }

  test("count_distinct delta-merge: insert batches maintain through the pairs table") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+emp[(1, "eng", 10.0), (2, "eng", 20.0), (3, "ops", 5.0), (4, "qa", 8.0), (5, "eng", 10.0)]
        |+cd(D, count_distinct<S>, sum<S>, count<S>) <- emp(I, D, S)
        |""".stripMargin)
    assert(rows(e.run("?cd(D, C, S, N)").last) ==
      Set(Seq("eng", 2L, 40.0, 3L), Seq("ops", 1L, 5.0, 1L), Seq("qa", 1L, 8.0, 1L)))
    val before = e.maintainedCount
    val cdBefore = e.cdMergedCount
    // duplicate value into eng (cd must NOT grow), new value into ops,
    // brand-new group
    e.run("""+emp[(6, "eng", 20.0), (7, "ops", 9.0), (8, "new", 1.0)]""")
    assert(rows(e.run("?cd(D, C, S, N)").last) ==
      Set(Seq("eng", 2L, 60.0, 4L), Seq("ops", 2L, 14.0, 2L),
        Seq("qa", 1L, 8.0, 1L), Seq("new", 1L, 1.0, 1L)))
    assert(e.maintainedCount == before + 1)
    assert(e.cdMergedCount == cdBefore + 1,
      "insert-only count_distinct should delta-merge, not dirty-group")
    // second round rides the carried-forward pairs table
    e.run("""+emp[(9, "eng", 20.0), (10, "eng", 99.0)]""")
    assert(rows(e.run("?cd(D, C, S, N)").last) ==
      Set(Seq("eng", 3L, 179.0, 6L), Seq("ops", 2L, 14.0, 2L),
        Seq("qa", 1L, 8.0, 1L), Seq("new", 1L, 1.0, 1L)))
    assert(e.cdMergedCount == cdBefore + 2)
    // a delete decrements through the subtractable path — the f64 sum
    // rides the decimal-carried support sum (round 11; previously the
    // double column forced dirty-group) and cd rides the pairs table
    val dec0 = e.aggDecrementCount
    e.run("""-emp(10, "eng", 99.0)""")
    assert(rows(e.run("?cd(D, C, S, N)").last) ==
      Set(Seq("eng", 2L, 80.0, 5L), Seq("ops", 2L, 14.0, 2L),
        Seq("qa", 1L, 8.0, 1L), Seq("new", 1L, 1.0, 1L)))
    assert(e.cdMergedCount == cdBefore + 2)
    assert(e.aggDecrementCount == dec0 + 1,
      "f64-sum + cd delete should decrement on the carried tables")
    // the support table is now LIVE, so the next insert also rides the
    // subtractable path (keeping the carried tables current) instead of
    // the delta-merge
    e.run("""+emp[(11, "eng", 99.0)]""")
    assert(rows(e.run("?cd(D, C, S, N)").last) ==
      Set(Seq("eng", 3L, 179.0, 6L), Seq("ops", 2L, 14.0, 2L),
        Seq("qa", 1L, 8.0, 1L), Seq("new", 1L, 1.0, 1L)))
    assert(e.aggDecrementCount == dec0 + 2,
      "insert with a live support table should ride the subtractable path")
  }

  test("matCache stays bounded across many change/re-query rounds") {
    // a long-lived session that mutates and re-queries repeatedly must
    // keep at most ONE materialization per relation (the newest seed
    // dominates) — older versions would pin localCheckpoint RDDs forever
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1,2),(2,3)]
        |+reach(X, Y) <- edge(X, Y)
        |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
        |+deg(X, count<Y>) <- edge(X, Y)
        |""".stripMargin)
    (1 to 8).foreach { i =>
      e.run(s"+edge[(${i + 10}, ${i + 11})]")
      e.run("?reach(X, Y)")
      e.run("?deg(X, C)")
    }
    val perRel = e.matCache.keys.groupBy(_._1).map { case (r, ks) => r -> ks.size }
    assert(perRel.values.forall(_ == 1),
      s"matCache holds multiple versions per relation: $perRel")
    assert(e.matCache.size <= 2, s"matCache size ${e.matCache.size}")
  }

  test("retraction maintenance: DRed on a multi-rule non-recursive view") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+em[(1, "eng", 10), (2, "eng", 20), (3, "ops", 5), (4, "qa", 7)]
        |+dep[("eng", "bldgA"), ("ops", "bldgB"), ("qa", "bldgA")]
        |+loc(I, B) <- em(I, D, _), dep(D, B)
        |+loc(I, "remote") <- em(I, _, S), S > 15
        |""".stripMargin)
    assert(rows(e.run("?loc(I, B)").last) ==
      Set(Seq(1L, "bldgA"), Seq(2L, "bldgA"), Seq(3L, "bldgB"), Seq(4L, "bldgA"),
        Seq(2L, "remote")))
    val before = e.maintainedCount
    e.run("""-em(3, "ops", 5)""")
    assert(rows(e.run("?loc(I, B)").last) ==
      Set(Seq(1L, "bldgA"), Seq(2L, "bldgA"), Seq(4L, "bldgA"), Seq(2L, "remote")))
    assert(e.maintainedCount == before + 1, "delete was recomputed, not DRed-maintained")
    // a delete whose derivations survive via ANOTHER tuple: dropping
    // ("qa","bldgA") loses loc(4,"bldgA") but 1 and 2 keep bldgA via eng
    e.run("""-dep("qa", "bldgA")""")
    assert(rows(e.run("?loc(I, B)").last) ==
      Set(Seq(1L, "bldgA"), Seq(2L, "bldgA"), Seq(2L, "remote")))
    assert(e.maintainedCount == before + 2)
  }

  test("retraction maintenance: conditional delete logs exact tuples and maintains") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+sal[(1, 10), (2, 20), (3, 30)]
        |+band[(10, "low"), (20, "mid"), (30, "high")]
        |+v(I, B) <- sal(I, S), band(S, B)
        |""".stripMargin)
    assert(rows(e.run("?v(I, B)").last).size == 3)
    val before = e.maintainedCount
    e.run("-sal(I, S) <- sal(I, S), S > 15") // conditional delete
    assert(rows(e.run("?v(I, B)").last) == Set(Seq(1L, "low")))
    assert(e.maintainedCount == before + 1,
      "conditional delete should log removed tuples and DRed-maintain")
  }

  test("mixed insert+delete batch maintains a non-recursive view") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+sal[(1, 10), (2, 20), (3, 30)]
        |+band[(10, "low"), (20, "mid"), (30, "high")]
        |+v(I, B) <- sal(I, S), band(S, B)
        |""".stripMargin)
    assert(rows(e.run("?v(I, B)").last).size == 3)
    val before = e.maintainedCount
    // one batch between re-queries: delete phase must run against the
    // MID state (inserts backed out), then the insert phase replays
    e.run("-sal[(2, 20)]")
    e.run("+sal[(4, 10)]")
    assert(rows(e.run("?v(I, B)").last) ==
      Set(Seq(1L, "low"), Seq(3L, "high"), Seq(4L, "low")))
    assert(e.maintainedCount == before + 1, "mixed batch recomputed, not maintained")
  }

  test("atomic update (-old,+new <- body) is a maintainable mixed batch") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+acct[(1, 100), (2, 250), (3, 40)]
        |+flag(I) <- acct(I, B), B > 200
        |""".stripMargin)
    assert(rows(e.run("?flag(I)").last) == Set(Seq(2L)))
    val before = e.maintainedCount
    // halve every balance over 200: removed rows + inserted rows are
    // logged exactly, so the dependent view maintains instead of
    // recomputing (reference: Statement::Update is one transactional
    // replace feeding derived relations differentially)
    e.run("-acct(I, B), +acct(I, B / 2) <- acct(I, B), B > 200")
    assert(rows(e.run("?acct(I, B)").last) ==
      Set(Seq(1L, 100L), Seq(2L, 125L), Seq(3L, 40L)))
    assert(rows(e.run("?flag(I)").last) == Set.empty[Seq[Any]])
    assert(e.maintainedCount == before + 1, "atomic update invalidated the view")
  }

  test("mixed batch maintains a non-linear recursive view") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+e[(1, 2), (2, 3), (3, 4)]
        |+p(X, Y) <- e(X, Y)
        |+p(X, Z) <- p(X, Y), p(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?p(X, Y)").last).size == 6)
    val before = e.maintainedCount
    e.run("-e[(2, 3)]")
    e.run("+e[(2, 4)]")
    // edges (1,2),(3,4),(2,4): the over-delete cone loses 23/13/24/14,
    // the insert continuation re-admits 24 and derives 14 through it
    assert(rows(e.run("?p(X, Y)").last) ==
      Set(Seq(1L, 2L), Seq(3L, 4L), Seq(2L, 4L), Seq(1L, 4L)))
    assert(e.maintainedCount == before + 1, "mixed recursive batch recomputed")
  }

  test("mixed batch maintains through the distributed path (local solver pinned off)") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+e[(1, 2), (2, 3), (3, 4)]
        |+p(X, Y) <- e(X, Y)
        |+p(X, Z) <- p(X, Y), p(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?p(X, Y)").last).size == 6)
    val before = e.maintainedCount
    e.limits = Engine.Limits(Engine.Tier.Distributed)
    e.run("-e[(2, 3)]")
    e.run("+e[(2, 4)]")
    assert(rows(e.run("?p(X, Y)").last) ==
      Set(Seq(1L, 2L), Seq(3L, 4L), Seq(2L, 4L), Seq(1L, 4L)))
    assert(e.maintainedCount == before + 1, "distributed mixed batch recomputed")
  }

  test("decremental shortest path: edge deletes maintain via suspect restart") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+we[(1, 2, 1), (2, 3, 1), (1, 3, 5), (3, 4, 1)]
        |+sp(1, 0)
        |+sp(Y, min<D + W>) <- sp(X, D), we(X, Y, W)
        |""".stripMargin)
    assert(rows(e.run("?sp(X, D)").last) ==
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 2L), Seq(4L, 3L)))
    val before = e.maintainedCount
    // dropping the tight 2→3 edge reroutes 3 (and its dependent 4)
    // through the direct 5-weight edge; 1 and 2 keep their labels
    e.run("-we[(2, 3, 1)]")
    assert(rows(e.run("?sp(X, D)").last) ==
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 5L), Seq(4L, 6L)))
    assert(e.maintainedCount == before + 1, "edge delete recomputed, not maintained")
    // deleting the only remaining path to 3 drops 3 and 4 entirely
    e.run("-we[(1, 3, 5)]")
    assert(rows(e.run("?sp(X, D)").last) == Set(Seq(1L, 0L), Seq(2L, 1L)))
    assert(e.maintainedCount == before + 2)
    // a delete that touches no tight support changes nothing
    e.run("+we[(1, 2, 9)]") // slack alternative
    e.run("?sp(X, D)")
    val c2 = e.maintainedCount
    e.run("-we[(1, 2, 9)]")
    assert(rows(e.run("?sp(X, D)").last) == Set(Seq(1L, 0L), Seq(2L, 1L)))
    assert(e.maintainedCount == c2 + 1, "slack-edge delete should maintain trivially")
  }

  test("mixed delete+insert batch maintains min-agg views in one restart") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+me[(1, 2, 1), (2, 3, 1), (3, 4, 1)]
        |+msp(1, 0)
        |+msp(Y, min<D + W>) <- msp(X, D), me(X, Y, W)
        |""".stripMargin)
    assert(rows(e.run("?msp(X, D)").last) ==
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 2L), Seq(4L, 3L)))
    val before = e.maintainedCount
    // one batch: drop the tight 2→3 edge AND insert a direct 1→3 edge —
    // 3 reroutes through the new edge, 4 follows
    e.run("-me[(2, 3, 1)]")
    e.run("+me[(1, 3, 4)]")
    assert(rows(e.run("?msp(X, D)").last) ==
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 4L), Seq(4L, 5L)))
    assert(e.maintainedCount == before + 1, "mixed batch recomputed, not maintained")
    // delete drops 3 (and cascades 4) while the batch's insert gives 4
    // a BETTER label than it ever had — the restart must both prune the
    // unreachable key and relax the improvement
    e.run("-me[(1, 3, 4)]")
    e.run("+me[(1, 2, 1), (1, 4, 1)]")
    assert(rows(e.run("?msp(X, D)").last) ==
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(4L, 1L)))
    assert(e.maintainedCount == before + 2)
  }

  test("incremental maintenance: NaN group keys merge as one group") {
    // Spark's groupBy (and the full_outer <=> fallback) treat NaN keys
    // as one group; the driver-local merge must too, or a NaN-keyed
    // group silently splits into two result rows.
    val cat = new Catalog(spark)
    val e = new Engine(cat)
    import spark.implicits._
    cat.register("v", Seq((Double.NaN, 10.0), (1.0, 5.0)).toDF("c0", "c1"))
    e.run("+tot(K, sum<X>) <- v(K, X)")
    assert(rows(e.run("?tot(K, S)").last).size == 2)
    cat.appendDf("v", Seq((Double.NaN, 7.0)).toDF("c0", "c1"))
    val out = rows(e.run("?tot(K, S)").last)
    assert(e.maintainedCount >= 1, "insert-only delta should merge, not recompute")
    assert(out.size == 2, s"NaN group split: $out")
    assert(out.collect { case Seq(k: Double, s: Double) if k.isNaN => s } == Set(17.0))
  }

  test("non-ASCII string order: the local merge and local eval serve it and agree with Spark") {
    // Spark orders strings as UTF-8 bytes: U+E000 < U+FFFF < U+1F600.
    // UTF-16 order puts U+1F600 (a surrogate pair) first. A frame served
    // by a driver-local path reads no checkpointed RDD.
    def local(df: org.apache.spark.sql.DataFrame): Boolean =
      graft.plans.Fixpoint.checkpointRddOf(df).isEmpty
    val (pua, top, emoji) = ("\uE000", "\uFFFF", "\uD83D\uDE00")
    val rule = "+v(G, min<X>, max<X>) <- t(I, G, X)\n"
    val e = new Engine(new Catalog(spark))
    e.run(s"""+t[(1, "g", "a"), (2, "g", "$pua")]\n$rule""")
    e.run("?v(G, L, H)")
    e.run(s"""+t[(3, "g", "$emoji"), (4, "g", "$top"), (5, "h", "$emoji"), (6, "h", "$pua")]""")
    val merged = e.run("?v(G, L, H)").last
    assert(local(merged), "the insert-only min/max round should merge on the driver")
    val fresh = new Engine(new Catalog(spark))
    fresh.run(s"""+t[(1, "g", "a"), (2, "g", "$pua"), (3, "g", "$emoji"), """ +
      s"""(4, "g", "$top"), (5, "h", "$emoji"), (6, "h", "$pua")]\n$rule""")
    val expected = Set[Seq[Any]](Seq("g", "a", emoji), Seq("h", pua, emoji))
    assert(rows(merged) == expected)
    assert(rows(fresh.run("?v(G, L, H)").last) == expected)

    // a recursive rule guarded by a string comparison: under UTF-16
    // order the emoji -> U+E000 step would pass and derive (a, U+E000)
    val prog =
      s"""+e[("a", "$emoji"), ("$emoji", "$pua"), ("$pua", "$top")]
         |r(X, Y) <- e(X, Y)
         |r(X, Z) <- r(X, Y), e(Y, Z), Y < Z
         |?r(X, Y)
         |""".stripMargin
    val viaLocal = new Engine(new Catalog(spark)).run(prog).last
    val viaDist = new Engine(new Catalog(spark), Engine.Limits(Engine.Tier.Distributed))
      .run(prog).last
    assert(local(viaLocal), "the recursive SCC should evaluate on the driver")
    assert(!local(viaDist))
    assert(rows(viaLocal) == rows(viaDist))
    assert(rows(viaLocal) == Set[Seq[Any]](Seq("a", emoji), Seq(emoji, pua),
      Seq(pua, top), Seq(emoji, top)))
  }

  test("incremental maintenance: base relation self-join (two occurrences of the changed rel)") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+ev[(1, 100), (2, 100)]
        |+copair(X, Y) <- ev(X, Z), ev(Y, Z), X < Y
        |""".stripMargin)
    assert(rows(e.run("?copair(X, Y)").last) == Set(Seq(1L, 2L)))
    e.run("+ev[(3, 100), (4, 200)]")
    // pairs needing delta×delta (3 with itself excluded; old×new and new×old)
    assert(rows(e.run("?copair(X, Y)").last) ==
      Set(Seq(1L, 2L), Seq(1L, 3L), Seq(2L, 3L)))
  }

  test("incremental maintenance: insert creating a new cycle extends the closure") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1,2),(2,3)]
        |+reach(X, Y) <- edge(X, Y)
        |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?reach(X, Y)").last).size == 3)
    e.run("+edge[(3,1)]") // closes the cycle: all 9 pairs become derivable
    assert(rows(e.run("?reach(X, Y)").last) ==
      (for (x <- 1L to 3L; y <- 1L to 3L) yield Seq[Any](x, y)).toSet)
    assert(e.maintainedCount >= 1)
  }

  test("incremental maintenance: aggregate view with computed group key merges") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+emp[(1, 2, 10), (2, 3, 20)]
        |+tot(D2, sum<S>) <- emp(I, D, S), D2 = D * 10
        |""".stripMargin)
    assert(rows(e.run("?tot(D2, S)").last) == Set(Seq(20L, 10L), Seq(30L, 20L)))
    e.run("+emp[(3, 2, 5)]")
    assert(rows(e.run("?tot(D2, S)").last) == Set(Seq(20L, 15L), Seq(30L, 20L)))
  }

  test("session change between delete rounds evicts carried support tables (no stale merge)") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+emp[(1, "eng", 10), (2, "eng", 20), (3, "ops", 5), (4, "qa", 7)]
        |+tot(D, sum<S>, count<S>) <- emp(I, D, S)
        |""".stripMargin)
    e.run("?tot(D, S, C)")
    // round 1 seeds the support table at version V
    e.run("""-emp(4, "qa", 7)""")
    assert(rows(e.run("?tot(D, S, C)").last) ==
      Set(Seq("eng", 30L, 2L), Seq("ops", 5L, 1L)))
    val s0 = e.auxSupportSeeds
    // session fact on an UNRELATED relation: support state must survive
    e.run("""other(1, 2)""")
    // session fact on the dependency: does NOT bump the catalog version,
    // but displaces the view AND its carried support state — a stale
    // support table stamped at the same version would pass the delete
    // round's freshness check and serve pre-session-change rows
    e.run("""emp(5, "eng", 40)""")
    assert(rows(e.run("?tot(D, S, C)").last) ==
      Set(Seq("eng", 70L, 3L), Seq("ops", 5L, 1L)))
    e.run("""-emp(2, "eng", 20)""")
    assert(rows(e.run("?tot(D, S, C)").last) ==
      Set(Seq("eng", 50L, 2L), Seq("ops", 5L, 1L)))
    assert(e.auxSupportSeeds == s0 + 1,
      "delete after a dependency session change must reseed, not merge stale state")
  }

  test("incremental maintenance: session overlay stays consistent across persistent inserts") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1,2)]
        |+reach(X, Y) <- edge(X, Y)
        |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
        |""".stripMargin)
    e.run("edge(5, 6)") // ephemeral session fact
    assert(rows(e.run("?reach(X, Y)").last) == Set(Seq(1L, 2L), Seq(5L, 6L)))
    e.run("+edge[(2,3)]") // persistent insert with overlay present
    assert(rows(e.run("?reach(X, Y)").last) ==
      Set(Seq(1L, 2L), Seq(1L, 3L), Seq(2L, 3L), Seq(5L, 6L)))
  }

  test("recursive min aggregate: two recursive clauses (forward and backward edges)") {
    assert(query(
      """+edge[(1,2),(2,3)]
        |+sp(1, 0)
        |+sp(Y, min<D + 1>) <- sp(X, D), edge(X, Y)
        |+sp(Y, min<D + 2>) <- sp(X, D), edge(Y, X)
        |?sp(X, D)
        |""".stripMargin) ==
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 2L)))
  }

  test("incremental maintenance: deletes fall back to recomputation correctly") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1,2),(2,3),(3,4)]
        |+reach(X, Y) <- edge(X, Y)
        |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?reach(X, Y)").last).size == 6)
    e.run("-edge(2, 3)") // retraction: not monotone
    assert(rows(e.run("?reach(X, Y)").last) ==
      Set(Seq(1L,2L), Seq(3L,4L))) // full recompute, correct result
  }

  test("incremental maintenance: negation in the tree forces recompute but stays correct") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+p[(1),(2),(3)]
        |+banned[(2)]
        |+ok(X) <- p(X), !banned(X)
        |""".stripMargin)
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L), Seq(3L)))
    e.run("+banned[(3)]") // insert into a NEGATED dep shrinks the view
    assert(rows(e.run("?ok(X)").last) == Set(Seq(1L)))
  }

  test("session facts validate against declared schemas") {
    val e = new Engine(new Catalog(spark))
    e.run("+t0(a: int)\n+t0[(1)]")
    e.run("t0(\"oops\")") // ephemeral session fact with a type violation
    assertThrows[IllegalArgumentException](e.run("?t0(X)"))
  }

  test("retraction maintenance extends cached closures on edge deletes") {
    val e = new Engine(new Catalog(spark))
    e.run("+edge[(1,2),(2,3),(3,4),(10,11)]")
    e.run("+reach(X, Y) <- edge(X, Y)\n+reach(X, Z) <- reach(X, Y), edge(Y, Z)")
    assert(rows(e.run("?reach(X, Y)").last).size == 7)
    val before = e.maintainedCount
    e.run("-edge[(2, 3)]")
    assert(rows(e.run("?reach(X, Y)").last) ==
      Set(Seq(1L, 2L), Seq(3L, 4L), Seq(10L, 11L)))
    assert(e.maintainedCount == before + 1, "delete was recomputed, not maintained")
    // mixed delete + insert in one maintenance window
    e.run("-edge[(3, 4)]")
    e.run("+edge[(2, 10)]")
    assert(rows(e.run("?reach(X, Y)").last) ==
      Set(Seq(1L, 2L), Seq(2L, 10L), Seq(1L, 10L), Seq(10L, 11L),
        Seq(2L, 11L), Seq(1L, 11L)))
    assert(e.maintainedCount == before + 2)
    // deleting a tuple that was never present maintains to the same result
    e.run("-edge[(7, 8)]")
    assert(rows(e.run("?reach(X, Y)").last).size == 6)
  }

  test("deletes on non-TC views are DRed-maintained (round 4; previously recomputed)") {
    val e = new Engine(new Catalog(spark))
    e.run("+p[(1,10),(2,20),(3,30)]")
    e.run("+q[(1),(2)]")
    e.run("+v(X, Y) <- p(X, Y), q(X)")
    assert(rows(e.run("?v(X, Y)").last) == Set(Seq(1L, 10L), Seq(2L, 20L)))
    val before = e.maintainedCount
    e.run("-q[(1)]")
    assert(rows(e.run("?v(X, Y)").last) == Set(Seq(2L, 20L)))
    assert(e.maintainedCount == before + 1, "non-recursive delete should DRed-maintain")
    // mixed insert+delete in one batch maintains too (round 5: delete
    // phase against the mid state, then the insert continuation)
    e.run("-q[(2)]\n+q[(3)]")
    assert(rows(e.run("?v(X, Y)").last) == Set(Seq(3L, 30L)))
    assert(e.maintainedCount == before + 2, "mixed batch should maintain")
  }

  test("retraction maintenance: DRed through a RECURSIVE view (non-linear TC)") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1,2),(2,3),(3,4),(1,3)]
        |+tc(X, Y) <- edge(X, Y)
        |+tc(X, Z) <- tc(X, Y), tc(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?tc(X, Y)").last) ==
      Set(Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 4L), Seq(1L, 3L), Seq(1L, 4L), Seq(2L, 4L)))
    val before = e.maintainedCount
    // the over-delete cone of edge(2,3) is {(2,3),(2,4),(1,3),(1,4)};
    // (1,3) survives re-derivation via the direct edge and (1,4) via the
    // re-derived (1,3) — the survivor FIXPOINT, not a single pass
    e.run("-edge[(2, 3)]")
    assert(rows(e.run("?tc(X, Y)").last) ==
      Set(Seq(1L, 2L), Seq(3L, 4L), Seq(1L, 3L), Seq(1L, 4L)))
    assert(e.maintainedCount == before + 1, "recursive delete should DRed-maintain")
  }

  test("incremental maintenance: ranking view merges inserts (evicted rows cannot return)") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+emp[("eng","a",10),("eng","b",30),("ops","d",5)]
        |+best(D, top_k<2, N, S:desc>) <- emp(D, N, S)
        |""".stripMargin)
    assert(rows(e.run("?best(D, N, S)").last) ==
      Set(Seq("eng", "b", 30L), Seq("eng", "a", 10L), Seq("ops", "d", 5L)))
    val before = e.maintainedCount
    e.run("""+emp[("eng","c",20),("ops","e",7)]""") // c evicts a in eng
    assert(rows(e.run("?best(D, N, S)").last) ==
      Set(Seq("eng", "b", 30L), Seq("eng", "c", 20L),
        Seq("ops", "e", 7L), Seq("ops", "d", 5L)))
    assert(e.maintainedCount == before + 1, "rank insert should merge, not recompute")
    e.run("""-emp[("eng","b",30)]""") // delete: the evicted row returns —
    // served by DIRTY-GROUP per-group recomputation (never the insert
    // merge, which cannot resurrect evicted rows)
    assert(rows(e.run("?best(D, N, S)").last) ==
      Set(Seq("eng", "c", 20L), Seq("eng", "a", 10L),
        Seq("ops", "e", 7L), Seq("ops", "d", 5L)))
    assert(e.maintainedCount == before + 2, "rank delete should dirty-group-maintain")
  }

  test("incremental maintenance: recursive min aggregate continues on edge inserts") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1,2),(2,3)]
        |+sp(1, 0)
        |+sp(Y, min<D + 1>) <- sp(X, D), edge(X, Y)
        |""".stripMargin)
    assert(rows(e.run("?sp(X, D)").last) == Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 2L)))
    val before = e.maintainedCount
    e.run("+edge[(1, 3)]") // shortcut: 3's label improves 2 -> 1
    assert(rows(e.run("?sp(X, D)").last) == Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 1L)))
    assert(e.maintainedCount == before + 1,
      "min-agg insert should continue value iteration, not recompute")
    e.run("+edge[(3, 4)]") // reaches a NEW key through the improved label
    assert(rows(e.run("?sp(X, D)").last) ==
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 2L)))
    assert(e.maintainedCount == before + 2)
    // deletes can worsen labels — falls back to recompute, stays correct
    e.run("-edge[(1, 3)]")
    assert(rows(e.run("?sp(X, D)").last) ==
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 2L), Seq(4L, 3L)))
  }

  test("retraction maintenance: mutual recursion DRed-maintains deletes (local path)") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1,2),(2,3),(3,4)]
        |+odd(X, Y) <- edge(X, Y)
        |+odd(X, Z) <- even(X, Y), edge(Y, Z)
        |+even(X, Z) <- odd(X, Y), edge(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?odd(X, Y)").last) ==
      Set(Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 4L), Seq(1L, 4L)))
    assert(rows(e.run("?even(X, Y)").last) == Set(Seq(1L, 3L), Seq(2L, 4L)))
    val before = e.maintainedCount
    e.run("-edge[(2, 3)]") // kills odd(2,3), even(1,3), odd(1,4)
    assert(rows(e.run("?odd(X, Y)").last) == Set(Seq(1L, 2L), Seq(3L, 4L)))
    assert(e.maintainedCount == before + 1,
      "mutual-recursion delete should DRed-maintain")
    assert(rows(e.run("?even(X, Y)").last) == Set.empty[Seq[Any]])
  }

  test("retraction maintenance: recursive DRed distributed path (local solver pinned off)") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1,2),(2,3),(3,4),(1,3)]
        |+tc(X, Y) <- edge(X, Y)
        |+tc(X, Z) <- tc(X, Y), tc(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?tc(X, Y)").last).size == 6)
    val before = e.maintainedCount
    e.limits = Engine.Limits(Engine.Tier.Distributed)
    e.run("-edge[(2, 3)]")
    assert(rows(e.run("?tc(X, Y)").last) ==
      Set(Seq(1L, 2L), Seq(3L, 4L), Seq(1L, 3L), Seq(1L, 4L)))
    assert(e.maintainedCount == before + 1,
      "distributed recursive DRed should maintain when the local path is off")
  }

  test("retraction maintenance: mutual recursion distributed DRed (local solver pinned off)") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1,2),(2,3),(3,4)]
        |+odd(X, Y) <- edge(X, Y)
        |+odd(X, Z) <- even(X, Y), edge(Y, Z)
        |+even(X, Z) <- odd(X, Y), edge(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?odd(X, Y)").last).size == 4)
    assert(rows(e.run("?even(X, Y)").last).size == 2)
    val before = e.maintainedCount
    e.limits = Engine.Limits(Engine.Tier.Distributed)
    e.run("-edge[(2, 3)]")
    assert(rows(e.run("?odd(X, Y)").last) == Set(Seq(1L, 2L), Seq(3L, 4L)))
    assert(rows(e.run("?even(X, Y)").last) == Set.empty[Seq[Any]])
    assert(e.maintainedCount >= before + 1,
      "distributed mutual-recursion DRed should maintain when the local path is off")
  }

  test("incremental maintenance: mutual recursion continues from cached fixpoints") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+edge[(1,2),(2,3)]
        |+odd(X, Y) <- edge(X, Y)
        |+odd(X, Z) <- even(X, Y), edge(Y, Z)
        |+even(X, Z) <- odd(X, Y), edge(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?odd(X, Y)").last) == Set(Seq(1L, 2L), Seq(2L, 3L)))
    assert(rows(e.run("?even(X, Y)").last) == Set(Seq(1L, 3L)))
    val before = e.maintainedCount
    e.run("+edge[(3, 4)]")
    assert(rows(e.run("?odd(X, Y)").last) ==
      Set(Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 4L), Seq(1L, 4L)))
    assert(e.maintainedCount == before + 1,
      "mutual-recursion insert should continue, not recompute")
    // the joint run cached the sibling too: even's re-query maintains
    // (or cache-hits) without another full evaluation
    assert(rows(e.run("?even(X, Y)").last) == Set(Seq(1L, 3L), Seq(2L, 4L)))
  }

  test("retraction maintenance: recursive DRed keeps tuples with alternative derivations") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+e1[(1,2)]
        |+e2[(1,2),(2,3)]
        |+r(X, Y) <- e1(X, Y)
        |+r(X, Y) <- e2(X, Y)
        |+r(X, Z) <- r(X, Y), r(Y, Z)
        |""".stripMargin)
    assert(rows(e.run("?r(X, Y)").last) == Set(Seq(1L, 2L), Seq(2L, 3L), Seq(1L, 3L)))
    val before = e.maintainedCount
    e.run("-e1[(1, 2)]") // r(1,2) survives via its e2 derivation
    assert(rows(e.run("?r(X, Y)").last) == Set(Seq(1L, 2L), Seq(2L, 3L), Seq(1L, 3L)))
    assert(e.maintainedCount == before + 1, "alternative-derivation delete should maintain")
    e.run("-e2[(1, 2)]") // last support gone: (1,2) and (1,3) both retract
    assert(rows(e.run("?r(X, Y)").last) == Set(Seq(2L, 3L)))
    assert(e.maintainedCount == before + 2)
  }

  test("magic sets restrict non-pass-through bound queries (same generation)") {
    val e = new Engine(new Catalog(spark))
    // binary-heap tree over 0..30: up(child, parent), down = inverse
    val ups = (1 to 30).map(n => s"($n, ${(n - 1) / 2})").mkString(",")
    val downs = (1 to 30).map(n => s"(${(n - 1) / 2}, $n)").mkString(",")
    val persons = (0 to 30).map(n => s"($n)").mkString(",")
    e.run(s"+up[$ups]\n+down[$downs]\n+person[$persons]")
    e.run(
      """+sg(X, X) <- person(X)
        |+sg(X, Y) <- up(X, Z1), sg(Z1, Z2), down(Z2, Y)
        |""".stripMargin)
    // full fixpoint: all same-generation pairs (for reference size)
    val full = rows(e.run("?sg(X, Y)").last)
    val fullOf1 = full.filter(_.head == 1L)
    assert(e.magicRewrites == 0L) // unbound query: no rewrite
    // bound, non-pass-through: head X flows into up, not into sg's pos 0
    val restricted = rows(e.run("?sg(1, Y)").last)
    assert(e.magicRewrites == 1L, "bound sg query did not take the magic rewrite")
    assert(restricted.map(_.last).toSet == fullOf1.map(_.last).toSet)
    assert(restricted.map(_.last).toSet == Set(1L, 2L)) // 1's generation
    // the demanded fixpoint is much smaller than the full sg relation
    val restrictedRows = e.lastMagicFrame.get.count()
    assert(restrictedRows < full.size / 4,
      s"demand restriction did not shrink the fixpoint: $restrictedRows vs ${full.size}")
    // deeper node: generation of 13 (depth 3: nodes 7..14)
    val deep = rows(e.run("?sg(13, Y)").last)
    assert(deep.map(_.last).toSet == full.filter(_.head == 13L).map(_.last).toSet)
  }

  test("subplan sharing: identical bodies (mod renaming) compile once") {
    val e = new Engine(new Catalog(spark))
    e.run("+a[(1,10),(2,20),(3,30)]\n+b[(10,100),(20,200)]")
    // two rules over the SAME join, different variable names + heads
    e.run(
      """p(X, Z) <- a(X, Y), b(Y, Z)
        |q(W, U) <- a(U, V), b(V, W)
        |""".stripMargin)
    val res = rows(e.run("?- p(X, Z), q(W, U)").last)
    assert(res.nonEmpty)
    assert(e.sharedBodyHits >= 1L, "identical rule bodies were compiled twice")
    // correctness: p = {(1,100),(2,200)}, q = flipped
    val p = rows(e.run("?p(X, Z)").last)
    assert(p == Set(Seq(1L, 100L), Seq(2L, 200L)))
    val q = rows(e.run("?q(W, U)").last)
    assert(q == Set(Seq(100L, 1L), Seq(200L, 2L)))
  }

  test("join order heuristic avoids cartesian products in adversarial bodies") {
    val e = new Engine(new Catalog(spark))
    e.run("+a[(1),(2),(3)]\n+c[(10),(20)]\n+b[(1,10),(2,20),(3,10)]")
    // a(X), c(Z), b(X,Z): left-to-right would cross a×c before b connects
    val df = e.run("j(X, Z) <- a(X), c(Z), b(X, Z)\n?j(X, Z)").last
    val plan = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val cartesians = plan.collect {
      case j: Join if j.condition.isEmpty && j.joinType.sql == "INNER" => j
    }
    assert(cartesians.isEmpty, s"plan builds a cartesian product:\n$plan")
    assert(rows(df) == Set(Seq(1L, 10L), Seq(2L, 20L), Seq(3L, 10L)))
    // 4-atom chain written inside-out still connects pairwise
    e.run("+d[(10,7),(20,9)]")
    val df2 = e.run("k(X, W) <- d(Z, W), a(X), b(X, Z)\n?k(X, W)").last
    val cart2 = df2.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.isEmpty && j.joinType.sql == "INNER" => j
    }
    assert(cart2.isEmpty)
    assert(rows(df2) == Set(Seq(1L, 7L), Seq(2L, 9L), Seq(3L, 7L)))
  }

  /** Run `src` twice — once with the driver-local SCC evaluator, once
    * with it pinned off (distributed loop) — and require identical rows. */
  private def localVsDistributed(src: String): Set[Seq[Any]] = {
    val local = query(src)
    val dist = query(src, Engine.Limits(Engine.Tier.Distributed))
    assert(local == dist, "local SCC fast path diverges from distributed loop")
    local
  }

  test("local SCC fast path: mutual recursion with consts and wildcards") {
    val r = localVsDistributed(
      """+edge[(0,1),(1,2),(2,3),(3,4),(4,5),(5,6)]
        |+label[(0,"start"),(3,"mid")]
        |even(0, L) <- label(0, L)
        |odd(Y, L) <- even(X, L), edge(X, Y)
        |even(Y, L) <- odd(X, L), edge(X, Y)
        |evens(X) <- even(X, _)
        |?evens(X)
        |""".stripMargin)
    assert(r == Set(Seq(0L), Seq(2L), Seq(4L), Seq(6L)))
  }

  test("local SCC fast path: non-linear recursion (path joins path)") {
    val r = localVsDistributed(
      """+e[(1,2),(2,3),(3,4),(4,1)]
        |path(X, Y) <- e(X, Y)
        |path(X, Z) <- path(X, Y), path(Y, Z)
        |?path(1, Y)
        |""".stripMargin)
    assert(r.map(_.last) == Set(1L, 2L, 3L, 4L))
  }

  test("local SCC fast path: same-generation via magic rewrite") {
    val e = new Engine(new Catalog(spark))
    val ups = (1 to 14).map(n => s"($n, ${(n - 1) / 2})").mkString(",")
    val downs = (1 to 14).map(n => s"(${(n - 1) / 2}, $n)").mkString(",")
    val persons = (0 to 14).map(n => s"($n)").mkString(",")
    e.run(s"+up[$ups]\n+down[$downs]\n+person[$persons]")
    e.run("+sg(X, X) <- person(X)\n+sg(X, Y) <- up(X, Z1), sg(Z1, Z2), down(Z2, Y)")
    val local = rows(e.run("?sg(5, Y)").last)
    e.limits = Engine.Limits(Engine.Tier.Distributed)
    val dist = rows(e.run("?sg(5, Y)").last)
    assert(local == dist)
    assert(local.map(_.last) == Set(3L, 4L, 5L, 6L)) // 5's generation (depth 2)
  }

  test("local SCC fast path: arithmetic heads, guards, and bindings") {
    // depth counter with guard — compileBody semantics: D+1 head arith,
    // N < 3 filter, M = N * 10 binding
    val r = localVsDistributed(
      """+e[(1,2),(2,3),(3,4),(4,5)]
        |d(X, Y, 1) <- e(X, Y)
        |d(X, Z, M) <- d(X, Y, N), e(Y, Z), N < 3, M = N + 1
        |?d(X, Y, N)
        |""".stripMargin)
    assert(r.contains(Seq(1L, 4L, 3L)) && !r.exists(_.last == 4L))
  }

  test("local SCC fast path: division and float equality in guards") {
    val r = localVsDistributed(
      """+e[(1,2),(2,4),(4,8)]
        |p(X, Y, R) <- e(X, Y), R = Y / X
        |p(X, Z, R2) <- p(X, Y, R), e(Y, Z), R < 100, R2 = R * 2.0
        |?p(X, Z, R)
        |""".stripMargin)
    assert(r == Set(Seq(1L, 2L, 2.0), Seq(2L, 4L, 2.0), Seq(4L, 8L, 2.0),
      Seq(1L, 4L, 4.0), Seq(1L, 8L, 8.0), Seq(2L, 8L, 4.0)))
  }

  test("text-pipeline builtins compose with rules in the dialect") {
    assert(query(
      """+doc[(1, "the cat sat on the mat with a hat"), (2, "xyzzy plugh")]
        |+langs(D, L) <- doc(D, T), L = lang_id(T)
        |+counts(D, N) <- doc(D, T), N = token_count(T)
        |?- langs(D, L), counts(D, N)
        |""".stripMargin) ==
      Set(Seq(1L, "en", 9L), Seq(2L, "und", 2L)))
    assert(query(
      """+msg[(1, "mail bob@x.io or ping 10.0.0.7")]
        |+clean(D, S) <- msg(D, T), S = pii_scrub(T)
        |?clean(D, S)
        |""".stripMargin) ==
      Set(Seq(1L, "mail [EMAIL] or ping [IP]")))
  }

  test("unshared-variable negation errors identically through both paths") {
    // compileBody rejects a negated atom sharing no variable with the
    // positive body; the local path must bail so the SAME error surfaces
    val src =
      """+e[(1,2),(2,3)]
        |+q[(9)]
        |r(X, Y) <- e(X, Y)
        |r(X, Z) <- r(X, Y), e(Y, Z), !q(W)
        |?r(X, Y)
        |""".stripMargin
    val localErr = intercept[Exception](query(src)).getMessage
    val distErr = intercept[Exception](query(src, Engine.Limits(Engine.Tier.Distributed))).getMessage
    assert(localErr == distErr)
    assert(localErr.contains("shares no variables"))
  }

  test("local SCC fast path: stratified negation inside recursive rules") {
    val r = localVsDistributed(
      """+e[(1,2),(2,3),(3,4),(4,5)]
        |+blocked[(3)]
        |r(1, 1) <- e(1, _)
        |r(X, Z) <- r(X, Y), e(Y, Z), !blocked(Z)
        |?r(X, Y)
        |""".stripMargin)
    // path stops at 3: 1 -> 2, never 3; 4/5 unreachable
    assert(r == Set(Seq(1L, 1L), Seq(1L, 2L)))
  }

  test("head-link restricted recompute serves nonrecursive negated-derived rounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val e = new Engine(new Catalog(spark))
    // REGISTERED base the smallness probe classifies BIG (>4096 rows —
    // padding depts that never change): the link-restricted path goes
    // first. A ≤4096-row registered base now probes small and rides the
    // driver-local DRed instead (the q68 path; pinned by the q68 oracle
    // and the 'maintained=1' profile).
    val core = Seq((1L, 10L, 5L), (2L, 10L, 900L), (3L, 20L, 5L),
      (4L, 20L, 7L), (5L, 30L, 5L)).toDF("i", "d", "s")
    val pad = spark.range(5000L).select((col("id") + 1000L).as("i"),
      (pmod(col("id"), lit(50L)) + 1000L).as("d"), lit(5L).as("s"))
    e.catalog.register("hemp", core.union(pad).localCheckpoint(true))
    e.run(
      """+hhi(D) <- hemp(I, D, S), S > 100
        |+hlow(I, D) <- hemp(I, D, S), !hhi(D)
        |""".stripMargin)
    def low(): Set[Seq[Any]] = rows(e.run("?- hlow(I, D), D < 100").last)
    assert(low() == Set(Seq(3L, 20L), Seq(4L, 20L), Seq(5L, 30L)))
    e.run("?hlow(I, D)").last.count() // materialize the full view
    val l0 = e.linkMaintains
    // one mixed batch: deleting dept 10's only high row CREATES its rows
    // downstream; inserting a high row into dept 20 KILLS that dept
    e.run("-hemp(2, 10, 900)\n+hemp[(6, 20, 901)]")
    assert(low() == Set(Seq(1L, 10L), Seq(5L, 30L)))
    assert(e.linkMaintains >= l0 + 1,
      "negated-derived round should ride the link-restricted recompute")
    // second round rides the same path in the other direction
    e.run("-hemp(6, 20, 901)")
    assert(low() ==
      Set(Seq(1L, 10L), Seq(3L, 20L), Seq(4L, 20L), Seq(5L, 30L)))
    assert(e.linkMaintains >= l0 + 2)
  }

  test("catalog overlay keys a NaN row by value: re-insert is a no-op, delete removes it") {
    // Spark's <=> and set operations treat NaN = NaN; the overlay
    // buffers must key the row the same way or each insert adds a copy
    // and a delete misses them all
    val cat = new Catalog(spark)
    cat.insert("r", Seq(Seq[Any](1L, 1.0)))
    cat.insert("r", Seq(Seq[Any](2L, Double.NaN)))
    cat.insert("r", Seq(Seq[Any](2L, Double.NaN)))
    assert(cat.relation("r").get.count() == 2L)
    cat.delete("r", Seq(Seq[Any](2L, Double.NaN)))
    assert(rows(cat.relation("r").get) == Set(Seq(1L, 1.0)))
  }

  test("literal churn keeps the relation plan at constant depth") {
    val e = new Engine(new Catalog(spark))
    e.run("+chr[(1, 1), (2, 2), (3, 3)]")
    // 40 insert+delete rounds used to stack 80 plan operators (one
    // union().distinct() or anti join per batch) onto the live frame;
    // the overlay folds them into two driver-side buffers
    (0 until 40).foreach { i =>
      e.run(s"+chr[(${100 + i}, $i)]")
      e.run(s"-chr(${100 + i}, $i)")
    }
    val df = e.run("?chr(X, Y)").last
    assert(rows(df) == Set(Seq(1L, 1L), Seq(2L, 2L), Seq(3L, 3L)))
    val n = df.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(n < 20, s"literal churn stacked the live plan: $n nodes")
  }

  test("global sum goes NULL when its last non-null contributor is deleted") {
    // the view's single row can't see the transition — the non-null
    // contributor count `__nn` on the support table's one group decides
    // it; serving 0
    // where a fresh recompute gives NULL was the round-12 review bug
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cat = new Catalog(spark)
    val e = new Engine(cat)
    val schema = StructType(Seq(StructField("i", LongType), StructField("s", LongType)))
    cat.register("gnn", spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 5L), Row(2L, null)), schema))
    e.run("+gv(sum<S>, count<S>) <- gnn(I, S)")
    assert(rows(e.run("?gv(S, C)").last) == Set(Seq(5L, 2L)))
    val d0 = e.aggDecrementCount
    e.run("-gnn[(1, 5)]")
    assert(rows(e.run("?gv(S, C)").last) == Set(Seq(null, 1L)),
      "sum must go NULL with only null contributors left")
    assert(e.aggDecrementCount == d0 + 1, "should decrement, not recompute")
  }

  test("session fact changes evict carried global-agg NN state") {
    // a session fact add invalidates the view WITHOUT bumping the
    // catalog version; the recomputed view re-caches at the same
    // version, so a support table left behind would pass the next
    // delete round's version check with a PRE-session-change non-null
    // count — here it would say 0 non-null contributors remain and the
    // sum would wrongly serve NULL over a live session fact of 8
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cat = new Catalog(spark)
    val e = new Engine(cat)
    val schema = StructType(Seq(
      StructField("i", LongType), StructField("s", LongType)))
    cat.register("snn", spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 5L), Row(2L, 6L), Row(3L, null)), schema))
    e.run("+sv(sum<S>, count<S>) <- snn(I, S)")
    assert(rows(e.run("?sv(S, C)").last) == Set(Seq(11L, 3L)))
    // the first delete round seeds the support table from the post-change
    // body
    e.run("-snn[(1, 5)]")
    assert(rows(e.run("?sv(S, C)").last) == Set(Seq(6L, 2L)))
    // session fact: adds a non-null contributor, invalidates the view,
    // does NOT bump the catalog version
    e.addSessionFacts("snn", Seq(Seq(4L, 8L)))
    assert(rows(e.run("?sv(S, C)").last) == Set(Seq(14L, 3L)))
    // the next catalog delete must reseed NN (now 2 non-null: 6 and 8);
    // the stale carried count (1, pre-session-change) would hit 0 here
    e.run("-snn[(2, 6)]")
    assert(rows(e.run("?sv(S, C)").last) == Set(Seq(8L, 2L)),
      "stale NN state must not flip the sum to NULL over a live contributor")
  }

  test("stacked rounds inject NAMED deltas instead of anti-join diffs") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+nemp[(1, "eng", 10), (2, "eng", 20), (3, "ops", 5), (4, "qa", 40)]
        |+nd1(D, sum<S>, count<S>) <- nemp(I, D, S)
        |+nd2(D, T) <- nd1(D, T, C), T > 12
        |""".stripMargin)
    assert(rows(e.run("?nd2(D, T)").last) == Set(Seq("eng", 30L), Seq("qa", 40L)))
    val i0 = e.namedDeltaInjects
    // insert: nd1 maintains via the driver-local agg merge, which NAMES
    // its exact view delta; nd2's stratum-diff injection must consume it
    // instead of running the two view-sized anti-joins
    e.run("""+nemp[(5, "ops", 9)]""")
    assert(rows(e.run("?nd2(D, T)").last) ==
      Set(Seq("eng", 30L), Seq("qa", 40L), Seq("ops", 14L)))
    assert(e.namedDeltaInjects == i0 + 1,
      "insert round should inject the named lower-stratum delta")
    // delete: nd1 maintains via decrement/dirty-group — also named
    e.run("""-nemp[(2, "eng", 20)]""")
    assert(rows(e.run("?nd2(D, T)").last) ==
      Set(Seq("qa", 40L), Seq("ops", 14L)))
    assert(e.namedDeltaInjects == i0 + 2,
      "delete round should inject the named lower-stratum delta")
  }

  test("rank prefix-buffer rounds name their delta for stacked consumers") {
    val e = new Engine(new Catalog(spark))
    e.run(
      """+rnk0[("eng", 1, 10), ("eng", 2, 20), ("eng", 3, 30), ("ops", 4, 7), ("ops", 5, 9)]
        |+rnk1(D, top_k<2, I, S:desc>) <- rnk0(D, I, S)
        |+rnk2(D, I) <- rnk1(D, I, S), S > 8
        |""".stripMargin)
    assert(rows(e.run("?rnk2(D, I)").last) ==
      Set(Seq("eng", 3L), Seq("eng", 2L), Seq("ops", 5L)))
    // first delete seeds the prefix buffer (a seed round can't name its
    // delta — consumer falls back to the anti-join diff, still exact)
    e.run("""-rnk0[("eng", 3, 30)]""")
    assert(rows(e.run("?rnk2(D, I)").last) ==
      Set(Seq("eng", 2L), Seq("eng", 1L), Seq("ops", 5L)))
    val i0 = e.namedDeltaInjects
    val r0 = e.rankLocalRides
    // second delete rides the driver-local buffer merge, which names
    // the touched groups' prefix diff exactly
    e.run("""-rnk0[("eng", 2, 20)]""")
    assert(rows(e.run("?rnk2(D, I)").last) ==
      Set(Seq("eng", 1L), Seq("ops", 5L)))
    assert(e.rankLocalRides == r0 + 1, "round should ride the local buffer")
    assert(e.namedDeltaInjects == i0 + 1,
      "the riding round's named delta should reach the upper view")
  }

  test("maintenance preserves EDB facts unioned into agg/rank rule heads") {
    // the buffer/decrement algebra re-derives from the rule body alone;
    // a head relation that ALSO holds literal facts must fall back to
    // recomputation or the facts vanish from the served view
    val e = new Engine(new Catalog(spark))
    e.run("+tf[(1, 10), (2, 20), (3, 30), (4, 40)]")
    e.run("+vf(top_k<2, I, S:desc>) <- tf(I, S)")
    e.run("+vf[(99, 999)]") // literal fact in the rule-headed relation
    e.run("-tf[(4, 40)]")
    assert(rows(e.run("?vf(I, S)").last) ==
      Set(Seq(99L, 999L), Seq(3L, 30L), Seq(2L, 20L)),
      "the literal fact must survive the delete round")
    e.run("+tg[(1, 10), (2, 20)]")
    e.run("+gg(sum<S>, count<S>) <- tg(I, S)")
    e.run("+gg[(999, 999)]")
    e.run("-tg[(1, 10)]")
    assert(rows(e.run("?gg(S, C)").last) ==
      Set(Seq(999L, 999L), Seq(20L, 1L)))
  }

  test("an untouched-relation round re-stamps the carried support state") {
    // a change to an unrelated relation must not strand the support
    // table at the old version — the next delete round would reseed
    // with a full body pass
    val e = new Engine(new Catalog(spark))
    e.run("+emp9[(1, 10), (2, 20), (3, 30)]")
    e.run("+tot9(sum<S>, count<S>) <- emp9(I, S)\n" +
      "+vt9(D, sum<S>, count<S>) <- emp9(D, S)")
    e.run("?vt9(D, S, C)")
    val s0 = e.auxSupportSeeds
    e.run("-emp9[(1, 10)]") // seeds the support table
    e.run("?vt9(D, S, C)")
    assert(e.auxSupportSeeds == s0 + 1)
    val m0 = e.maintainedCount
    e.run("+unrel9[(1)]") // untouched round for vt9
    e.run("?vt9(D, S, C)")
    assert(e.maintainedCount == m0,
      "a round whose changes cannot reach the view is a re-stamp, not a maintenance round")
    e.run("-emp9[(2, 20)]") // must RIDE, not reseed
    assert(rows(e.run("?vt9(D, S, C)").last) == Set(Seq(3L, 30L, 1L)))
    assert(e.auxSupportSeeds == s0 + 1,
      "unrelated change must not force a support reseed")
  }

  test("key-less aggregate heads ride the support table as one group under every tier") {
    val prog =
      """+kt[(1, 10), (2, 20), (3, 20), (4, 40)]
        |+ks(sum<S>, count<S>) <- kt(I, S)
        |+km(min<S>, max<S>, count_distinct<S>, avg<S>) <- kt(I, S)
        |""".stripMargin
    val queries = Seq("?ks(S, C)", "?km(L, H, N, A)")
    // the last round empties the body, so both views must go empty
    val rounds = Seq("-kt[(1, 10)]", "-kt[(4, 40)]", "+kt[(5, 5)]",
      "-kt[(2, 20), (3, 20), (5, 5)]")
    for (tier <- Seq(Engine.Tier.Auto, Engine.Tier.Carrier, Engine.Tier.Distributed)) {
      val e = new Engine(new Catalog(spark), Engine.Limits(tier))
      e.run(prog)
      queries.foreach(e.run)
      val d0 = e.aggDecrementCount
      rounds.indices.foreach { n =>
        e.run(rounds(n))
        val fresh = new Engine(new Catalog(spark))
        fresh.run(prog + rounds.take(n + 1).mkString("\n"))
        queries.foreach(q => assert(rows(e.run(q).last) == rows(fresh.run(q).last),
          s"$tier round $n: $q differs from a fresh engine"))
      }
      assert(e.aggDecrementCount == d0 + 2 * rounds.size,
        s"$tier: every round of both views should decrement")
      assert(queries.forall(q => rows(e.run(q).last).isEmpty))
    }
  }

  test("a riding delete round stays within its Spark job budget, grouped and key-less") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    // jobs started under a fresh job group while `body` runs; a fence job
    // started after it reaches the listener last, so once the fence is
    // seen every job of the body has been counted
    def jobsOf(body: => Unit): Int = {
      val g = "engine-spec-" + java.util.UUID.randomUUID()
      def inGroup(group: String)(f: => Unit): Unit = {
        sc.setJobGroup(group, group)
        try f finally sc.clearJobGroup()
      }
      inGroup(g)(body)
      inGroup(g + "-fence")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(g + "-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(g + "-fence"), "the fence job never reached the listener")
      groups.asScala.count(_ == g)
    }
    val e = engine
    e.run(
      """+jg_t[(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40), (5, "c", 50)]
        |+jk_t[(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40), (5, "c", 50)]
        |+jg(D, sum<S>, count<S>) <- jg_t(I, D, S)
        |+jk(sum<S>, count<S>) <- jk_t(I, D, S)
        |?jg(D, S, C)
        |?jk(S, C)
        |""".stripMargin)
    // the first delete of each base seeds the view's carried state; both
    // views are read after every statement, so each round's change log
    // holds only the view's own base
    def both(stmt: String): Unit = { e.run(stmt); e.run("?jg(D, S, C)"); e.run("?jk(S, C)") }
    both("-jg_t[(1, \"a\", 10)]")
    both("-jk_t[(1, \"a\", 10)]")
    sc.addSparkListener(listener)
    val (grouped, keyless) = try {
      val d0 = e.aggDecrementCount
      val g = jobsOf(e.run("-jg_t[(3, \"b\", 30)]\n?jg(D, S, C)"))
      e.run("?jk(S, C)")
      val k = jobsOf(e.run("-jk_t[(3, \"b\", 30)]\n?jk(S, C)"))
      assert(e.aggDecrementCount == d0 + 2, "both rounds should decrement")
      (g, k)
    } finally sc.removeSparkListener(listener)
    assert(rows(e.run("?jg(D, S, C)").last) ==
      Set(Seq("a", 20L, 1L), Seq("b", 40L, 1L), Seq("c", 50L, 1L)))
    assert(rows(e.run("?jk(S, C)").last) == Set(Seq(110L, 3L)))
    // budgets: the job counts this round started with, before the
    // key-less head rode the support table
    assert(grouped <= 9, s"grouped riding round started $grouped jobs")
    assert(keyless <= 9, s"key-less riding round started $keyless jobs")
  }

  test("delete rounds serve the same rows under every tier, each by its own path") {
    val prog =
      """+emp[(1, "a", 10), (2, "a", 20), (3, "a", 60), (4, "b", 30), (5, "b", 40), (6, "c", 50)]
        |+ed[(1, 2), (2, 3), (3, 4), (4, 5)]
        |+dsum(D, sum<S>, count<S>) <- emp(I, D, S)
        |+dtop(D, top_k<2, I, S:desc>) <- emp(I, D, S)
        |+gtop(top_k<3, I, S:desc>) <- emp(I, D, S)
        |+dcd(D, count_distinct<S>, min<S>, max<S>) <- emp(I, D, S)
        |+reach(X, Y) <- ed(X, Y)
        |+reach(X, Z) <- reach(X, Y), ed(Y, Z)
        |""".stripMargin
    val queries = Seq("?dsum(D, S, C)", "?dtop(D, I, S)", "?gtop(I, S)",
      "?dcd(D, N, L, H)", "?reach(X, Y)")
    def views(e: Engine): Seq[Set[Seq[Any]]] = queries.map(q => rows(e.run(q).last))
    def counters(e: Engine): Map[String, Long] = Map("maintainedCount" -> e.maintainedCount,
      "aggLocalRounds" -> e.aggLocalRounds, "rankLocalRides" -> e.rankLocalRides,
      "rankParquetRides" -> e.rankParquetRides,
      "supportParquetRounds" -> e.supportParquetRounds, "tcLocalRounds" -> e.tcLocalRounds)
    // the first delete seeds the carried state (support and pairs
    // tables, prefix buffers); the compared round then deletes from each
    // base relation on its own, since the agg and TC paths maintain one
    // changed relation at a time
    val seedRound = Seq("-emp[(1, \"a\", 10)]")
    val round = Seq("-emp[(4, \"b\", 30)]", "-ed[(2, 3)]")
    val tiers = Seq(Engine.Tier.Auto, Engine.Tier.Carrier, Engine.Tier.Distributed)
    val moved: Map[Engine.Tier, (Seq[Set[Seq[Any]]], Map[String, Long])] = tiers.map { tier =>
      val e = new Engine(new Catalog(spark), Engine.Limits(tier))
      e.run(prog); views(e)
      seedRound.foreach { d => e.run(d); views(e) }
      val before = counters(e)
      val got = round.map { d => e.run(d); views(e) }.last
      val after = counters(e)
      tier -> (got, after.map { case (k, v) => k -> (v - before(k)) })
    }.toMap
    val fresh = new Engine(new Catalog(spark))
    (prog +: (seedRound ++ round)).foreach(fresh.run)
    val expected = views(fresh)
    tiers.foreach(t => assert(moved(t)._1 == expected, s"$t rows differ from a fresh engine"))
    // every tier maintains each of the five views once, by the statement
    // that reaches it, and none recomputes (re-stamps are not counted)...
    assert(tiers.map(moved(_)._2("maintainedCount")).distinct == Seq(5L))
    // ...each through its own paths
    def ran(t: Engine.Tier): Set[String] =
      (moved(t)._2 - "maintainedCount").collect { case (k, n) if n > 0 => k }.toSet
    assert(ran(Engine.Tier.Auto) == Set("aggLocalRounds", "rankLocalRides", "tcLocalRounds"))
    // the ungrouped top_k and the TC closure have no carrier form, so
    // they stay driver-local under Carrier
    assert(ran(Engine.Tier.Carrier) ==
      Set("supportParquetRounds", "rankParquetRides", "rankLocalRides", "tcLocalRounds"))
    assert(ran(Engine.Tier.Distributed).isEmpty)
  }

  test("evicting a view clears its carrier deny-list, so a re-created view rides the carrier") {
    import org.apache.spark.sql.functions.{col, lit, struct}
    // an empty struct column cannot be written to parquet: the first
    // radius carrier open fails and denies the view's carrier. That
    // denial is the view's only carried state; clearSession must still
    // drop it
    val cat = new Catalog(spark)
    val e = new Engine(cat, Engine.Limits(Engine.Tier.Carrier))
    def base(g: org.apache.spark.sql.Column) =
      spark.range(1, 13).select(col("id").as("i"), g.as("g"), (col("id") % 5).as("x"))
    cat.register("vt", base(struct()))
    e.run("+w(G, within_radius<3, I, X>) <- vt(I, G, X)\n?w(G, I, X)")
    e.run("-vt(I, G, X) <- vt(I, G, X), I = 3")
    e.run("?w(G, I, X)")
    assert(e.radiusCarryRides == 0L, "the empty struct should have failed the carrier write")
    e.clearSession()
    cat.register("vt", base(lit("a")))
    e.run("?w(G, I, X)")
    e.run("-vt(I, G, X) <- vt(I, G, X), I = 2")
    // radius 3 over X = I % 5 drops the X = 4 rows
    assert(rows(e.run("?w(G, I, X)").last).map(_(1)) == (1L to 12L).toSet -- Set(2L, 4L, 9L))
    assert(e.radiusCarryRides == 1L, "the re-created view never retried its carrier")
  }
}
