package graft.iql

import graft.SparkSpec
import java.nio.file.Files

class ReplSpec extends SparkSpec {

  private def table(r: Repl.Result) = r.asInstanceOf[Repl.Table].df
  private def text(r: Repl.Result) = r.asInstanceOf[Repl.Text].lines

  test("knowledge graphs are isolated namespaces") {
    val s = new Session(spark)
    s.execute("+x[(1)]")
    s.execute(".kg create other")
    s.execute(".kg use other")
    s.execute("+x[(99)]")
    assert(rows(table(s.execute("?x(V)").head)) == Set(Seq(99L)))
    s.execute(".kg use default")
    assert(rows(table(s.execute("?x(V)").head)) == Set(Seq(1L)))
    assert(text(s.execute(".kg list").head) == Seq("default", "other"))
  }

  test("rel and rule meta commands") {
    val s = new Session(spark)
    s.execute("+edge[(1,2)]")
    s.execute("+path(X, Y) <- edge(X, Y)")
    assert(text(s.execute(".rel list").head) == Seq("edge"))
    assert(text(s.execute(".rel describe edge").head) == Seq("c0: bigint", "c1: bigint"))
    assert(text(s.execute(".rule list").head) == Seq("+path(X, Y) <- edge(X, Y)"))
    s.execute(".rule drop path")
    assert(text(s.execute(".rule list").head).isEmpty)
  }

  test("analyze reports rows and distincts and feeds the catalog stats") {
    val s = new Session(spark)
    s.execute("+emp[(1, 10), (2, 10), (3, 20)]")
    val lines = text(s.execute(".analyze emp").head)
    assert(lines.head.startsWith("emp: 3 rows"), lines)
    assert(lines.exists(l => l.contains("c0") && l.contains("~3 distinct")), lines)
    assert(lines.exists(l => l.contains("c1") && l.contains("~2 distinct")), lines)
    assert(s.catalog.statRows("emp").contains(3L))
    val all = text(s.execute(".analyze").head)
    assert(all == Seq("emp: 3 rows, 2 cols"), all)
  }

  test("load script file") {
    val s = new Session(spark)
    val f = Files.createTempFile("graft", ".iql")
    Files.write(f, "+sq[(2),(3)]\nsqr(X, Y) <- sq(X), Y = X * X\n".getBytes)
    s.execute(s".load $f")
    assert(rows(table(s.execute("?sqr(X, Y)").head)) == Set(Seq(2L, 4L), Seq(3L, 9L)))
  }

  test("save and open round-trips relations, schemas, and rules") {
    val s = new Session(spark)
    val dir = Files.createTempDirectory("graft_kg").toString
    s.execute("+acct(id: int, bal: float)")
    s.execute("+acct[(1, 10.5), (2, 20.0)]")
    s.execute("+rich(I) <- acct(I, B), B > 15.0")
    s.execute(s".save $dir")

    val s2 = new Session(spark)
    s2.execute(s".open $dir")
    assert(rows(table(s2.execute("?rich(I)").head)) == Set(Seq(2L)))
    // schema survived: bad insert still rejected
    assertThrows[IllegalArgumentException](s2.execute("""+acct("x", 1.0)"""))
  }

  test("carried over-cap view state recovers by recompute across save/kill/open") {
    // the over-cap carriers (keyed parquet scratch + driver overlays)
    // are ENGINE state: they die with the JVM/session and are never
    // .save'd. Correctness across restart is BY RECOMPUTE — after
    // .open, the first touch of a view whose maintenance rode a
    // carrier re-derives it from the saved base relations, and
    // subsequent mutations maintain exactly. This pins that path:
    // build carried state (scale path forced), save, "kill" (drop the
    // session), open fresh, mutate, and compare against an oracle
    // engine that never carried anything.
    val limits = Engine.Limits(Engine.Tier.Carrier)
    val s = new Session(spark, limits = limits)
    val dir = Files.createTempDirectory("graft_kg").toString
    val tuples = (1 to 60).map(i => s"($i, ${i % 8}, ${i % 5})")
    s.execute(s"+t[${tuples.mkString(",")}]")
    s.execute("+v(G, sum<X>, count<X>) <- t(I, G, X)")
    s.execute("?v(G, S, C)")
    s.execute("-t[(1, 1, 1), (2, 2, 2)]") // round 1: seeds
    s.execute("?v(G, S, C)")
    s.execute("-t[(3, 3, 3), (4, 4, 4)]") // round 2: rides the carrier
    s.execute("?v(G, S, C)")
    assert(s.engine.supportParquetRounds > 0L,
      "fixture never engaged the carrier — the test would prove nothing")
    s.execute(s".save $dir")
    // s "crashes" here; its carrier scratch dies with it
    val s2 = new Session(spark, limits = limits)
    s2.execute(s".open $dir")
    s2.execute("-t[(5, 5, 0), (6, 6, 1)]") // mutate through the reopened view
    val got = rows(table(s2.execute("?v(G, S, C)").head))
    val oracle = new Engine(new Catalog(spark), limits)
    val liveTuples = tuples.filterNot(t => Seq("(1, 1, 1)", "(2, 2, 2)",
      "(3, 3, 3)", "(4, 4, 4)", "(5, 5, 0)", "(6, 6, 1)").contains(t))
    oracle.run(s"+t[${liveTuples.mkString(",")}]\n" +
      "+v(G, sum<X>, count<X>) <- t(I, G, X)")
    assert(got == rows(oracle.run("?v(G, S, C)").last),
      "post-restart maintained view diverged from recompute")
  }

  test("ranking-aggregate rule round-trips through .rule list and .save/.open") {
    val s = new Session(spark)
    val dir = Files.createTempDirectory("graft_kg_rank").toString
    s.execute("+emp[(\"eng\", \"a\", 10), (\"eng\", \"b\", 20), (\"eng\", \"c\", 30), (\"ops\", \"d\", 5)]")
    s.execute("+best(D, top_k<2, N, S:desc>) <- emp(D, N, S)")
    val listed = text(s.execute(".rule list").head)
    assert(listed == Seq("+best(D, top_k<2, N, S:desc>) <- emp(D, N, S)"))
    // printed form must re-parse to the same rule
    assert(Parser.parseProgram(listed.head).statements ==
      Parser.parseProgram("+best(D, top_k<2, N, S:desc>) <- emp(D, N, S)").statements)
    s.execute(s".save $dir")
    val s2 = new Session(spark)
    s2.execute(s".open $dir")
    assert(rows(table(s2.execute("?best(D, N, S)").head)) ==
      Set(Seq("eng", "c", 30L), Seq("eng", "b", 20L), Seq("ops", "d", 5L)))
  }

  test("vector-literal rule round-trips through .save/.open") {
    val s = new Session(spark)
    val dir = Files.createTempDirectory("graft_kg_vec").toString
    s.execute("+emb[(1, [1.0, 0.0]), (2, [0.0, 1.0])]")
    s.execute("+sim(X, S) <- emb(X, V), S = cosine(V, [1.0, 0.0])")
    // printed rule must re-parse (vector literal as [e1, e2], not Scala List(...))
    val printed = Printer.rule(s.engine.catalog.rules.head)
    assert(printed.contains("[1.0, 0.0]"))
    Parser.parseProgram(printed)
    s.execute(s".save $dir")
    val s2 = new Session(spark)
    s2.execute(s".open $dir")
    val got = rows(table(s2.execute("?sim(X, S)").head))
    assert(got.map(_.head) == Set(1L, 2L))
  }

  test("csv import/export round-trip") {
    val s = new Session(spark)
    s.execute("+t[(1, 100), (2, 200)]")
    val dir = Files.createTempDirectory("graft_csv").toString + "/t.csv"
    s.execute(s".export csv t $dir")
    s.execute(s".import csv $dir t2")
    assert(rows(table(s.execute("?t2(A, B)").head)) == Set(Seq(1L, 100L), Seq(2L, 200L)))
  }

  test("unknown meta command errors cleanly") {
    val s = new Session(spark)
    assertThrows[IllegalArgumentException](s.execute(".bogus"))
  }

  test("WAL recovers un-saved mutations after a crash") {
    val dir = Files.createTempDirectory("graft_wal").toString
    val s1 = new Session(spark)
    s1.execute("+acct[(1, 100), (2, 200)]")
    s1.execute(s".save $dir")
    // post-snapshot mutations: logged to the WAL, never .save'd
    s1.execute("+acct[(3, 300)]")
    s1.execute("-acct[(1, 100)]")
    s1.execute("+vip(I) <- acct(I, B), B >= 200")
    // s1 "crashes" here (no .save)

    val s2 = new Session(spark)
    val opened = s2.execute(s".open $dir")
    assert(opened.exists {
      case Repl.Text(lines) => lines.exists(_.contains("recovered 3 WAL"))
      case _ => false
    })
    assert(rows(table(s2.execute("?acct(I, B)").head)) ==
      Set(Seq(2L, 200L), Seq(3L, 300L)))
    assert(rows(table(s2.execute("?vip(I)").head)) == Set(Seq(2L), Seq(3L)))

    // .save truncates the WAL: a fresh open replays nothing
    s2.execute(s".save $dir")
    val s3 = new Session(spark)
    val opened3 = s3.execute(s".open $dir")
    assert(!opened3.exists {
      case Repl.Text(lines) => lines.exists(_.contains("recovered"))
      case _ => false
    })
    assert(rows(table(s3.execute("?acct(I, B)").head)) ==
      Set(Seq(2L, 200L), Seq(3L, 300L)))

    // multi-line programs (embedded newlines) survive the line framing
    s3.execute("+multi(X) <-\n  acct(X, B),\n  B > 250")
    assert(rows(table(s3.execute("?multi(X)").head)) == Set(Seq(3L)))
    val s4 = new Session(spark)
    s4.execute(s".open $dir")
    assert(rows(table(s4.execute("?multi(X)").head)) == Set(Seq(3L)))
  }
}
