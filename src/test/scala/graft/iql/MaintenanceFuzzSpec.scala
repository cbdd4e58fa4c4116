package graft.iql

import graft.SparkSpec
import scala.util.Random

/** Differential fuzz for incremental maintenance: random recursive
  * programs are cached, mutated (exact-tuple deletes, sometimes a
  * follow-up insert), and re-queried; the maintained result must equal
  * a fresh engine evaluating the post-mutation state from scratch.
  * Shapes cover every maintenance path: the linear-TC local fast path,
  * non-linear and multi-rule DRed, mutual-recursion SCC-joint
  * maintenance, and whatever falls back to recomputation — the
  * invariant is result equality, never which path served it. Seed is
  * fixed — failures reproduce. */
class MaintenanceFuzzSpec extends SparkSpec {

  test("maintained mutations equal fresh recomputation on random recursive programs") {
    val rng = new Random(20260813L)
    (1 to 12).foreach { i =>
      val nNodes = 4 + rng.nextInt(5)
      val edgeSet = Seq.fill(5 + rng.nextInt(8))(
        (rng.nextInt(nNodes), rng.nextInt(nNodes))).distinct
      val edges = edgeSet.map { case (a, b) => s"($a, $b)" }.mkString(",")
      val rules = rng.nextInt(4) match {
        case 0 => "+r(X, Y) <- e(X, Y)\n+r(X, Z) <- r(X, Y), e(Y, Z)\n"
        case 1 => "+r(X, Y) <- e(X, Y)\n+r(X, Z) <- r(X, Y), r(Y, Z)\n"
        case 2 => "+r(X, Y) <- e(X, Y)\n+r(X, Z) <- e(X, Y), r(Y, Z)\n" +
          "+r(X, Z) <- r(X, Y), e(Y, Z)\n"
        case 3 => "+o(X, Y) <- e(X, Y)\n+o(X, Z) <- v(X, Y), e(Y, Z)\n" +
          "+v(X, Z) <- o(X, Y), e(Y, Z)\n"
      }
      val qrel = if (rules.contains("+o(")) "o" else "r"
      val dels = Seq.fill(1 + rng.nextInt(2))(edgeSet(rng.nextInt(edgeSet.size)))
        .distinct.map { case (a, b) => s"($a, $b)" }.mkString(",")
      val ins =
        if (rng.nextBoolean()) Some(s"(${rng.nextInt(nNodes)}, ${rng.nextInt(nNodes)})")
        else None
      val prog = s"+e[$edges]\n$rules"

      // mixed=true applies delete AND insert in ONE batch between
      // re-queries — the two-phase (DRed mid-state + insert
      // continuation) path; mixed=false re-queries between them,
      // exercising each phase separately. Mixed batches randomize the
      // ORDER (delete-then-insert vs insert-then-delete), and the
      // latter sometimes deletes the just-inserted tuple — a net no-op
      // pair that replaying raw per-version deltas got wrong
      // (round-5 ADVICE: the continuation resurrected removed rows)
      val mixed = ins.isDefined && rng.nextBoolean()
      val insFirst = mixed && rng.nextBoolean()
      val delsM = if (insFirst && rng.nextBoolean()) s"$dels,${ins.get}" else dels
      def mutate(e: Engine): Unit =
        if (insFirst) { ins.foreach(t => e.run(s"+e[$t]")); e.run(s"-e[$delsM]") }
        else { e.run(s"-e[$delsM]"); if (mixed) ins.foreach(t => e.run(s"+e[$t]")) }

      val e1 = new Engine(new Catalog(spark))
      e1.run(prog)
      e1.run(s"?$qrel(X, Y)") // cache the pre-mutation fixpoint
      mutate(e1)
      val afterDel = rows(e1.run(s"?$qrel(X, Y)").last)
      val e2 = new Engine(new Catalog(spark))
      e2.run(prog)
      mutate(e2)
      assert(afterDel == rows(e2.run(s"?$qrel(X, Y)").last),
        s"case $i diverged after -e[$delsM] (mixed=$mixed, insFirst=$insFirst):\n$prog")

      if (!mixed) ins.foreach { t =>
        e1.run(s"+e[$t]")
        val afterIns = rows(e1.run(s"?$qrel(X, Y)").last)
        e2.run(s"+e[$t]")
        assert(afterIns == rows(e2.run(s"?$qrel(X, Y)").last),
          s"case $i diverged after -e[$dels] then +e[$t]:\n$prog")
      }
    }
  }

  test("distributed affected-source TC maintenance equals fresh recomputation on random graphs") {
    val rng = new Random(20260819L)
    val limits = Engine.Limits(Engine.Tier.Distributed) // pin the distributed path
    (1 to 8).foreach { c =>
      val nNodes = 5 + rng.nextInt(5)
      val edgeSet = scala.collection.mutable.LinkedHashSet.from(
        Seq.fill(6 + rng.nextInt(8))((rng.nextInt(nNodes), rng.nextInt(nNodes))))
      def edgeStr(es: Iterable[(Int, Int)]) =
        es.map { case (a, b) => s"($a, $b)" }.mkString(",")
      val rules = "+r(X, Y) <- ed(X, Y)\n+r(X, Z) <- r(X, Y), ed(Y, Z)\n"
      val e1 = new Engine(new Catalog(spark), limits)
      e1.run(s"+ed[${edgeStr(edgeSet)}]\n$rules")
      e1.run("?r(X, Y)")
      val m0 = e1.maintainedCount
      var rounds = 0
      (0 until 2).foreach { round =>
        val dels = Seq.fill(1 + rng.nextInt(2))(
          edgeSet.toSeq(rng.nextInt(edgeSet.size))).distinct
        dels.foreach(edgeSet.remove)
        val ins =
          if (rng.nextBoolean()) {
            val t = (rng.nextInt(nNodes), rng.nextInt(nNodes))
            if (edgeSet.add(t)) Some(t) else None
          } else None
        e1.run(s"-ed[${edgeStr(dels)}]" +
          ins.map(t => s"\n+ed[${edgeStr(Seq(t))}]").getOrElse(""))
        rounds += 1
        val maintained = rows(e1.run("?r(X, Y)").last)
        val e2 = new Engine(new Catalog(spark), limits)
        if (edgeSet.nonEmpty) {
          e2.run(s"+ed[${edgeStr(edgeSet)}]\n$rules")
          assert(maintained == rows(e2.run("?r(X, Y)").last),
            s"case $c round $round diverged; edges=$edgeSet dels=$dels ins=$ins")
        } else assert(maintained.isEmpty)
      }
      assert(e1.maintainedCount == m0 + rounds,
        s"case $c: a TC round recomputed instead of maintaining")
    }
  }

  test("negation-dependent maintenance equals fresh recomputation on random mutation streams") {
    val rng = new Random(20260817L)
    (1 to 10).foreach { c =>
      val nNodes = 4 + rng.nextInt(4)
      val edgeSet = Seq.fill(5 + rng.nextInt(7))(
        (rng.nextInt(nNodes), rng.nextInt(nNodes))).distinct
      val edges = edgeSet.map { case (a, b) => s"($a, $b)" }.mkString(",")
      val blk0 = Seq.fill(1 + rng.nextInt(2))(rng.nextInt(nNodes)).distinct
      val rules = rng.nextInt(3) match {
        case 0 => // non-recursive, two negated occurrences
          "+q(X, Y) <- e(X, Y), !blk(X), !blk(Y)\n"
        case 1 => // recursive closure avoiding blocked targets
          "+q(X, Y) <- e(X, Y), !blk(Y)\n" +
          "+q(X, Z) <- q(X, Y), e(Y, Z), !blk(Z)\n"
        case 2 => // alternative positive derivation keeps rows alive
          "+q(X, Y) <- e(X, Y), !blk(Y)\n+q(X, X) <- e(X, X)\n"
      }
      val prog = s"+e[$edges]\n+blk[${blk0.map(b => s"($b)").mkString(",")}]\n$rules"
      val e1 = new Engine(new Catalog(spark))
      e1.run(prog)
      e1.run("?q(X, Y)") // cache the pre-mutation result
      val m0 = e1.maintainedCount
      val blkLive = scala.collection.mutable.ArrayBuffer.from(blk0)
      var rounds = 0
      (0 until 3).foreach { round =>
        // mutate the NEGATED relation (sometimes the positive one too,
        // in the same batch), including phantom blk deletes
        val stmts = Seq.newBuilder[String]
        if (blkLive.nonEmpty && rng.nextBoolean()) {
          val b = blkLive.remove(rng.nextInt(blkLive.size))
          stmts += s"-blk[($b)]"
        }
        if (rng.nextBoolean()) {
          val b = rng.nextInt(nNodes)
          if (!blkLive.contains(b)) { blkLive += b; stmts += s"+blk[($b)]" }
        }
        if (rng.nextInt(4) == 0) stmts += s"-blk[(${nNodes + 5})]" // phantom
        if (rng.nextInt(3) == 0)
          stmts += s"+e[(${rng.nextInt(nNodes)}, ${rng.nextInt(nNodes)})]"
        val prog2 = stmts.result().mkString("\n")
        if (prog2.nonEmpty) {
          rounds += 1
          e1.run(prog2)
          val maintained = rows(e1.run("?q(X, Y)").last)
          val e2 = new Engine(new Catalog(spark))
          e2.run(prog)
          // replay every mutation so far into the fresh engine
          replayLog.foreach(e2.run)
          e2.run(prog2)
          replayLog += prog2
          assert(maintained == rows(e2.run("?q(X, Y)").last),
            s"case $c round $round diverged after:\n$prog2\nprogram:\n$prog")
        }
      }
      assert(e1.maintainedCount == m0 + rounds,
        s"case $c: a negation-dependent round recomputed instead of maintaining")
      replayLog.clear()
    }
  }
  private val replayLog = scala.collection.mutable.ArrayBuffer.empty[String]

  test("DERIVED-negated-dependency maintenance equals fresh recomputation on random streams") {
    val rng = new Random(20260824L)
    (1 to 10).foreach { c =>
      val nNodes = 5 + rng.nextInt(4)
      val p0 = (0 until nNodes).map(i => s"($i)").mkString(",")
      val flag0 = Seq.fill(1 + rng.nextInt(2))(rng.nextInt(nNodes)).distinct
      // the negated relation is DERIVED (bad = p ∧ flag, sometimes with
      // a second rule, sometimes TWO independent derived deps whose
      // same-batch changes must see each other's OLD state), so every
      // mutation reaches the view only through the diffed derived delta
      val rules = rng.nextInt(3) match {
        case 0 => "+bad(X) <- p(X), flag(X)\n+ok(X) <- p(X), !bad(X)\n"
        case 1 => "+bad(X) <- p(X), flag(X)\n+bad(X) <- vip(X)\n" +
          "+ok(X) <- p(X), !bad(X)\n"
        case 2 => "+bad(X) <- p(X), flag(X)\n+bad2(X) <- p(X), flag(X), vip(X)\n" +
          "+ok(X) <- p(X), !bad(X), !bad2(X)\n"
      }
      val vip = if (rules.contains("vip")) s"+vip[(${rng.nextInt(nNodes)})]\n" else ""
      val prog = s"+p[$p0]\n+flag[${flag0.map(b => s"($b)").mkString(",")}]\n$vip$rules"
      val e1 = new Engine(new Catalog(spark))
      e1.run(prog)
      e1.run("?ok(X)")
      val flagLive = scala.collection.mutable.ArrayBuffer.from(flag0)
      var nextP = nNodes
      (0 until 3).foreach { round =>
        val stmts = Seq.newBuilder[String]
        if (flagLive.nonEmpty && rng.nextBoolean()) {
          val b = flagLive.remove(rng.nextInt(flagLive.size))
          stmts += s"-flag[($b)]"
        }
        if (rng.nextBoolean()) {
          val b = rng.nextInt(nNodes)
          if (!flagLive.contains(b)) { flagLive += b; stmts += s"+flag[($b)]" }
        }
        if (rng.nextInt(3) == 0) { stmts += s"+p[($nextP)]"; nextP += 1 }
        if (rng.nextInt(4) == 0) stmts += s"+flag[(${nNodes + 50})]" // outside p: no-op diff
        val prog2 = stmts.result().mkString("\n")
        if (prog2.nonEmpty) {
          e1.run(prog2)
          val maintained = rows(e1.run("?ok(X)").last)
          val e2 = new Engine(new Catalog(spark))
          e2.run(prog)
          replayLog.foreach(e2.run)
          e2.run(prog2)
          replayLog += prog2
          assert(maintained == rows(e2.run("?ok(X)").last),
            s"case $c round $round diverged after:\n$prog2\nprogram:\n$prog")
        }
      }
      replayLog.clear()
    }
  }

  test("insert-then-delete of the same tuple in one batch is a net no-op") {
    // round-5 ADVICE repro: '+r[(2)]' then '-r[(2)]' between re-queries
    // left the maintained view containing 2 — the insert continuation
    // replayed the raw delta after the delete phase. Netting in version
    // order makes the pair vanish.
    val e = new Engine(new Catalog(spark))
    e.run("+r[(1)]\n+v(X) <- r(X)\n")
    assert(rows(e.run("?v(X)").last) == Set(Seq(1)))
    e.run("+r[(2)]")
    e.run("-r[(2)]")
    assert(rows(e.run("?v(X)").last) == Set(Seq(1)))
    // delete-then-reinsert of a pre-existing tuple: net no-op too
    e.run("-r[(1)]")
    e.run("+r[(1)]")
    assert(rows(e.run("?v(X)").last) == Set(Seq(1)))
    // and ins→del→ins leaves a net insert
    e.run("+r[(3)]"); e.run("-r[(3)]"); e.run("+r[(3)]")
    assert(rows(e.run("?v(X)").last) == Set(Seq(1), Seq(3)))

    // same pairs through the recursive (non-linear, DRed) path
    val er = new Engine(new Catalog(spark))
    er.run("+e[(1,2),(2,3)]\n+r(X, Y) <- e(X, Y)\n+r(X, Z) <- r(X, Y), r(Y, Z)\n")
    val closure = rows(er.run("?r(X, Y)").last)
    er.run("+e[(3,4)]")
    er.run("-e[(3,4)]")
    assert(rows(er.run("?r(X, Y)").last) == closure)
  }

  test("min-agg value-iteration continuation equals fresh recomputation on random graphs") {
    val rng = new Random(20260814L)
    (1 to 8).foreach { i =>
      val nNodes = 4 + rng.nextInt(5)
      val edgeSet = Seq.fill(6 + rng.nextInt(8))(
        (rng.nextInt(nNodes), rng.nextInt(nNodes), 1 + rng.nextInt(9))).distinct
      val edges = edgeSet.map { case (a, b, w) => s"($a, $b, $w)" }.mkString(",")
      val src = rng.nextInt(nNodes)
      val prog = s"+e[$edges]\n+sp($src, 0)\n" +
        "+sp(Y, min<D + W>) <- sp(X, D), e(X, Y, W)\n"
      val ins = Seq.fill(1 + rng.nextInt(2))(
        s"(${rng.nextInt(nNodes)}, ${rng.nextInt(nNodes)}, ${1 + rng.nextInt(9)})")
        .mkString(",")
      val e1 = new Engine(new Catalog(spark))
      e1.run(prog)
      e1.run("?sp(X, D)") // cache the labels
      e1.run(s"+e[$ins]")
      val maintained = rows(e1.run("?sp(X, D)").last)
      val e2 = new Engine(new Catalog(spark))
      e2.run(prog)
      e2.run(s"+e[$ins]")
      assert(maintained == rows(e2.run("?sp(X, D)").last),
        s"case $i diverged after +e[$ins]:\n$prog")

      // decremental: delete 1-2 edges (suspect-cascade restart path)
      val dels = Seq.fill(1 + rng.nextInt(2))(edgeSet(rng.nextInt(edgeSet.size)))
        .distinct.map { case (a, b, w) => s"($a, $b, $w)" }.mkString(",")
      e1.run(s"-e[$dels]")
      val afterDel = rows(e1.run("?sp(X, D)").last)
      e2.run(s"-e[$dels]")
      assert(afterDel == rows(e2.run("?sp(X, D)").last),
        s"case $i diverged after -e[$dels]:\n$prog")

      // mixed: delete AND insert in one batch before the re-query —
      // suspects from the deletes, insert improvements relaxed in by
      // the same restart
      val mdel = edgeSet(rng.nextInt(edgeSet.size)) match {
        case (a, b, w) => s"($a, $b, $w)"
      }
      val mins = s"(${rng.nextInt(nNodes)}, ${rng.nextInt(nNodes)}, ${1 + rng.nextInt(9)})"
      e1.run(s"-e[$mdel]")
      e1.run(s"+e[$mins]")
      val afterMixed = rows(e1.run("?sp(X, D)").last)
      e2.run(s"-e[$mdel]")
      e2.run(s"+e[$mins]")
      assert(afterMixed == rows(e2.run("?sp(X, D)").last),
        s"case $i diverged after mixed -e[$mdel] +e[$mins]:\n$prog")
    }
  }

  test("sum/count decrement maintenance equals fresh recomputation on random mutation streams") {
    val rng = new Random(20260815L)
    (1 to 8).foreach { c =>
      val groups = Seq("a", "b", "c")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def mkTuple(): String = {
        nextId += 1
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextInt(7)})"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val rule = "+v(G, sum<X>, count<X>) <- t(I, G, X)\n"
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(8 + rng.nextInt(6))}]\n$rule")
      e1.run("?v(G, S, C)")
      val decStart = e1.aggDecrementCount
      (0 until 3 + rng.nextInt(3)).foreach { round =>
        // random mixed batch: delete some live tuples (possibly whole
        // groups), sometimes a phantom, insert some fresh
        val nDel = math.min(live.size, rng.nextInt(4))
        val dels = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDel).foreach { _ =>
          val i = rng.nextInt(live.size)
          dels += live.remove(i)
        }
        if (rng.nextBoolean()) dels += s"""(9999, "a", ${rng.nextInt(7)})""" // phantom
        val stmts = Seq.newBuilder[String]
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = rows(e1.run("?v(G, S, C)").last)
        val expected =
          if (live.isEmpty) Set.empty[Seq[Any]]
          else {
            val e2 = new Engine(new Catalog(spark))
            e2.run(s"+t[${live.mkString(",")}]\n$rule")
            rows(e2.run("?v(G, S, C)").last)
          }
        assert(maintained == expected,
          s"case $c round $round diverged; live=$live")
      }
      assert(e1.aggDecrementCount > decStart,
        s"case $c never took the subtractable decrement path")
    }
  }

  test("avg + f64-sum decrement equals fresh recomputation on random mutation streams") {
    val rng = new Random(20260821L)
    (1 to 6).foreach { c =>
      val groups = Seq("a", "b", "c")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def mkTuple(): String = {
        nextId += 1
        // quarters: exactly representable in binary AND decimal, so the
        // decimal-carried maintenance (sum/avg from the support table)
        // and the IEEE recompute agree bit for bit
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextInt(28) * 0.25})"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val rule = "+v(G, avg<X>, sum<X>, count<X>) <- t(I, G, X)\n"
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(8 + rng.nextInt(6))}]\n$rule")
      e1.run("?v(G, A, S, C)")
      val decStart = e1.aggDecrementCount
      (0 until 3 + rng.nextInt(3)).foreach { round =>
        val nDel = math.min(live.size, rng.nextInt(4))
        val dels = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDel).foreach { _ =>
          val i = rng.nextInt(live.size)
          dels += live.remove(i)
        }
        if (rng.nextBoolean()) dels += s"""(9999, "a", ${rng.nextInt(28) * 0.25})""" // phantom
        val stmts = Seq.newBuilder[String]
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = rows(e1.run("?v(G, A, S, C)").last)
        val expected =
          if (live.isEmpty) Set.empty[Seq[Any]]
          else {
            val e2 = new Engine(new Catalog(spark))
            e2.run(s"+t[${live.mkString(",")}]\n$rule")
            rows(e2.run("?v(G, A, S, C)").last)
          }
        assert(maintained == expected,
          s"case $c round $round diverged; live=$live")
      }
      assert(e1.aggDecrementCount > decStart,
        s"case $c never took the subtractable decrement path")
    }
  }

  test("avg/f64 decrement tracks recomputation within 1e-9 on arbitrary (non-dyadic) doubles") {
    // the decimal(38,12) carry rounds each ingested value ONCE to 12 dp,
    // so maintained avg/sum may differ from an IEEE rescan by ~5e-13 per
    // value — group membership and counts must still be EXACT
    val rng = new Random(20260823L)
    (1 to 4).foreach { c =>
      val groups = Seq("a", "b", "c")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def mkTuple(): String = {
        nextId += 1
        // offset keeps |v| >= 3 so Double.toString never emits E-notation
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextDouble() * 97.3 + 3.1})"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val rule = "+v(G, avg<X>, sum<X>, count<X>) <- t(I, G, X)\n"
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(8 + rng.nextInt(6))}]\n$rule")
      e1.run("?v(G, A, S, C)")
      val decStart = e1.aggDecrementCount
      def asMap(rs: Set[Seq[Any]]): Map[Any, (Double, Double, Long)] =
        rs.map(r => r(0) -> ((r(1).asInstanceOf[Double],
          r(2).asInstanceOf[Double], r(3).asInstanceOf[Long]))).toMap
      (0 until 4).foreach { round =>
        val nDel = math.min(live.size, rng.nextInt(4))
        val dels = (0 until nDel).map(_ => live.remove(rng.nextInt(live.size)))
        val stmts = Seq.newBuilder[String]
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = asMap(rows(e1.run("?v(G, A, S, C)").last))
        val expected =
          if (live.isEmpty) Map.empty[Any, (Double, Double, Long)]
          else {
            val e2 = new Engine(new Catalog(spark))
            e2.run(s"+t[${live.mkString(",")}]\n$rule")
            asMap(rows(e2.run("?v(G, A, S, C)").last))
          }
        assert(maintained.keySet == expected.keySet,
          s"case $c round $round group membership diverged")
        maintained.foreach { case (g, (a1, s1, n1)) =>
          val (a2, s2, n2) = expected(g)
          assert(n1 == n2, s"case $c round $round count diverged for $g")
          assert(math.abs(a1 - a2) <= 1e-9 * math.max(1.0, math.abs(a2)),
            s"case $c round $round avg diverged for $g: $a1 vs $a2")
          assert(math.abs(s1 - s2) <= 1e-9 * math.max(1.0, math.abs(s2)),
            s"case $c round $round sum diverged for $g: $s1 vs $s2")
        }
      }
      assert(e1.aggDecrementCount > decStart,
        s"case $c never took the decrement path")
    }
  }

  test("min/max decrement equals fresh recomputation on random mutation streams") {
    val rng = new Random(20260822L)
    (1 to 8).foreach { c =>
      val groups = Seq("a", "b", "c")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def mkTuple(): String = {
        nextId += 1
        // small value domain (0-5) forces SHARED extremum supports and
        // frequent runner-up promotions / refills
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextInt(6)})"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val rule = "+v(G, min<X>, max<X>, count<X>) <- t(I, G, X)\n"
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(8 + rng.nextInt(6))}]\n$rule")
      e1.run("?v(G, L, H, C)")
      val decStart = e1.aggDecrementCount
      (0 until 3 + rng.nextInt(3)).foreach { round =>
        val nDel = math.min(live.size, rng.nextInt(4))
        val dels = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDel).foreach { _ =>
          val i = rng.nextInt(live.size)
          dels += live.remove(i)
        }
        if (rng.nextBoolean()) dels += s"""(9999, "a", ${rng.nextInt(6)})""" // phantom
        val stmts = Seq.newBuilder[String]
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = rows(e1.run("?v(G, L, H, C)").last)
        val expected =
          if (live.isEmpty) Set.empty[Seq[Any]]
          else {
            val e2 = new Engine(new Catalog(spark))
            e2.run(s"+t[${live.mkString(",")}]\n$rule")
            rows(e2.run("?v(G, L, H, C)").last)
          }
        assert(maintained == expected,
          s"case $c round $round diverged; live=$live")
      }
      assert(e1.aggDecrementCount > decStart,
        s"case $c never took the min/max decrement path")
    }
  }

  test("STRING min/max decrement equals fresh recomputation on random streams") {
    // strings ride the same top-2 carry with an unsigned-UTF-8-byte
    // driver compare (Spark's binary string order); the small word
    // domain forces shared extremum supports and runner-up promotions
    val rng = new Random(20260918L)
    val words = Seq("ant", "bee", "cow", "doe", "elk", "fox")
    (1 to 5).foreach { c =>
      val groups = Seq("a", "b")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def mkTuple(): String = {
        nextId += 1
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", "${words(rng.nextInt(words.size))}")"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val rule = "+v(G, min<X>, max<X>, count<X>) <- t(I, G, X)\n"
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(8 + rng.nextInt(6))}]\n$rule")
      e1.run("?v(G, L, H, C)")
      val decStart = e1.aggDecrementCount
      (0 until 3 + rng.nextInt(3)).foreach { round =>
        val nDel = math.min(live.size, rng.nextInt(4))
        val dels = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDel).foreach { _ =>
          val i = rng.nextInt(live.size)
          dels += live.remove(i)
        }
        val stmts = Seq.newBuilder[String]
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = rows(e1.run("?v(G, L, H, C)").last)
        val expected =
          if (live.isEmpty) Set.empty[Seq[Any]]
          else {
            val e2 = new Engine(new Catalog(spark))
            e2.run(s"+t[${live.mkString(",")}]\n$rule")
            rows(e2.run("?v(G, L, H, C)").last)
          }
        assert(maintained == expected,
          s"case $c round $round diverged; live=$live")
      }
      assert(e1.aggDecrementCount > decStart,
        s"case $c never took the min/max decrement path")
    }
  }

  test("top_k decrement equals fresh recomputation on random mutation streams") {
    topkFuzz(forcePartial = false)
  }

  test("top_k decrement via the OVER-CAP parquet-overlay partial merge (cap pinned to 0)") {
    // every riding round transitions to the keyed-parquet base + driver
    // overlay and merges only the touched groups' rows — the r14 scale
    // path for view-sized prefix buffers, differentially fuzzed on the
    // same streams as the full-copy mode
    topkFuzz(forcePartial = true)
  }

  private def topkFuzz(forcePartial: Boolean): Unit = {
    val limits = if (forcePartial) Engine.Limits(Engine.Tier.Carrier) else Engine.Limits()
    val rng = new Random(20260830L)
    (1 to 8).foreach { c =>
      val groups = Seq("a", "b")
      val names = Seq("p", "q", "r")
      // narrow value domain → shared head rows (multiplicities) and
      // exhaustive buffers; wide domain → non-exhaustive buffers whose
      // deletes exercise the boundary compare and the refill pass
      val xDom = if (c % 2 == 0) 6 else 40
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      // the driver merge (full-copy AND partial) only rides numeric
      // sort keys — the partial twin numbers the name column so the
      // over-cap path actually engages; the string variant keeps the
      // distributed algebra covered
      def mkTuple(): String = {
        nextId += 1
        val nm = if (forcePartial) s"${rng.nextInt(names.size)}"
          else s""""${names(rng.nextInt(names.size))}""""
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", $nm, ${rng.nextInt(xDom)})"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val rule = "+v(G, top_k<2, N, X:desc>) <- t(I, G, N, X)\n"
      // the view is a BAG (distinct ids can bind the same head row) —
      // compare multisets, not sets
      def bag(e: Engine): Map[Seq[Any], Int] =
        e.run("?v(G, N, X)").last.collect().toSeq.map(_.toSeq)
          .groupBy(identity).view.mapValues(_.size).toMap
      val e1 = new Engine(new Catalog(spark), limits)
      e1.run(s"+t[${insBatch(10 + rng.nextInt(8))}]\n$rule")
      e1.run("?v(G, N, X)")
      val decStart = e1.rankDecrementCount
      (0 until 3 + rng.nextInt(3)).foreach { round =>
        val nDel = math.min(live.size, rng.nextInt(5))
        val dels = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDel).foreach { _ =>
          val i = rng.nextInt(live.size)
          dels += live.remove(i)
        }
        if (rng.nextBoolean())
          dels += (if (forcePartial) s"""(9999, "a", 0, 0)"""
            else s"""(9999, "a", "p", 0)""") // phantom
        val stmts = Seq.newBuilder[String]
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = bag(e1)
        val expected =
          if (live.isEmpty) Map.empty[Seq[Any], Int]
          else {
            val e2 = new Engine(new Catalog(spark), limits)
            e2.run(s"+t[${live.mkString(",")}]\n$rule")
            bag(e2)
          }
        assert(maintained == expected,
          s"case $c round $round diverged; live=$live")
      }
      assert(e1.rankDecrementCount > decStart,
        s"case $c never took the top_k buffered path")
      if (forcePartial)
        assert(e1.rankParquetRides > 0L,
          s"case $c never rode the parquet-overlay partial merge")
      else
        assert(e1.rankParquetRides == 0L,
          "full-copy run must not touch the partial merge")
    }
  }

  test("within_radius mutation streams equal fresh recomputation (literal rounds)") {
    radiusFuzz(Engine.Limits())
  }

  test("within_radius mutation streams via the BIG-VIEW parquet carry (gate pinned to 0)") {
    // every riding round transitions to the parquet base + driver
    // rem/ins bags (the r14 scale path for view-sized radius filters)
    // and must still equal fresh recomputation — including the
    // sequential bag semantics the ins-cancel preserves
    radiusFuzz(Engine.Limits(Engine.Tier.Carrier))
  }

  test("within_radius carry folds mid-stream (fold cap pinned low)") {
    // the radius BAG fold (rebase write + grace-dir retirement) is
    // separate code from the keyed carriers' shared fold — pin the cap
    // to 0 so EVERY riding round with a delta rebases the parquet base
    // and retires the displaced dir, under the same differential
    // comparison (the radius filter passes ~1/3 of mutations, so a
    // small positive cap rarely fires on these fixtures)
    radiusFuzz(Engine.Limits(Engine.Tier.Carrier, carrierFoldCap = 0L))
  }

  private def radiusFuzz(limits: Engine.Limits): Unit = {
    val forceCarry = limits.tier == Engine.Tier.Carrier
    var totalFolds = 0L
    val rng = new Random(20260916L)
    (1 to 6).foreach { c =>
      val groups = Seq("a", "b")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def mkTuple(): String = {
        nextId += 1
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextInt(12)})"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val rule = "+w(G, within_radius<3, I, X>) <- t(I, G, X)\n"
      def bag(e: Engine): Map[Seq[Any], Int] =
        e.run("?w(G, I, X)").last.collect().toSeq.map(_.toSeq)
          .groupBy(identity).view.mapValues(_.size).toMap
      val e1 = new Engine(new Catalog(spark), limits)
      e1.run(s"+t[${insBatch(10 + rng.nextInt(8))}]\n$rule")
      e1.run("?w(G, I, X)")
      (0 until 3 + rng.nextInt(2)).foreach { round =>
        val nDel = math.min(live.size, rng.nextInt(4))
        val dels = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDel).foreach { _ =>
          val i = rng.nextInt(live.size)
          dels += live.remove(i)
        }
        if (rng.nextBoolean()) dels += s"""(9999, "a", 0)""" // phantom
        val stmts = Seq.newBuilder[String]
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = bag(e1)
        val expected =
          if (live.isEmpty) Map.empty[Seq[Any], Int]
          else {
            val e2 = new Engine(new Catalog(spark), limits)
            e2.run(s"+t[${live.mkString(",")}]\n$rule")
            bag(e2)
          }
        assert(maintained == expected,
          s"case $c round $round diverged (forceCarry=$forceCarry); live=$live")
      }
      if (forceCarry)
        assert(e1.radiusCarryRides > 0L,
          s"case $c never rode the radius carry")
      else
        assert(e1.radiusCarryRides == 0L,
          "literal run must not touch the radius carry")
      totalFolds += e1.carrierFolds
    }
    if (limits.carrierFoldCap < 100L)
      assert(totalFolds >= 3L,
        s"expected >=3 mid-stream radius folds across cases, saw $totalFolds")
  }

  test("global aggregate decrement equals fresh recomputation on random streams") {
    val rng = new Random(20260902L)
    // key-less heads ride the support table as one group: i64 sum/count,
    // avg with an f64 sum (F = X/4: quarters are exact in binary and in
    // the decimal carry, so maintained and recomputed values agree bit
    // for bit), count_distinct on the pairs table, min/max on the top-2
    // carry
    val heads = Seq(
      "gv" -> ("+gv(sum<X>, count<X>) <- t(I, X, F)\n", "?gv(S, C)"),
      "ga" -> ("+ga(avg<X>, sum<F>) <- t(I, X, F)\n", "?ga(A, S)"),
      "gd" -> ("+gd(count_distinct<X>) <- t(I, X, F)\n", "?gd(N)"),
      "gm" -> ("+gm(min<X>, max<X>) <- t(I, X, F)\n", "?gm(L, H)"))
    val rule = heads.map(_._2._1).mkString
    (1 to 8).foreach { c =>
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def mkTuple(): String = {
        nextId += 1
        val x = rng.nextInt(50)
        s"($nextId, $x, ${x * 0.25})"
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(6 + rng.nextInt(6))}]\n$rule")
      heads.foreach { case (_, (_, q)) => e1.run(q) }
      // decrement rounds per head: each query resolves only its own view
      val decs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      (0 until 3 + rng.nextInt(3)).foreach { round =>
        val nDel = math.min(live.size, rng.nextInt(4))
        val dels = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDel).foreach { _ =>
          val i = rng.nextInt(live.size)
          dels += live.remove(i)
        }
        if (rng.nextBoolean()) dels += "(9999, 1, 0.25)" // phantom
        val stmts = Seq.newBuilder[String]
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val e2 = if (live.isEmpty) None else {
          val e = new Engine(new Catalog(spark))
          e.run(s"+t[${live.mkString(",")}]\n$rule")
          Some(e)
        }
        heads.foreach { case (h, (_, q)) =>
          val d0 = e1.aggDecrementCount
          val maintained = rows(e1.run(q).last)
          decs(h) += e1.aggDecrementCount - d0
          val expected = e2.fold(Set.empty[Seq[Any]])(e => rows(e.run(q).last))
          assert(maintained == expected,
            s"case $c round $round $h diverged; live=$live")
        }
      }
      heads.foreach { case (h, _) =>
        assert(decs(h) > 0L, s"case $c $h never took the decrement path")
      }
    }
  }

  test("stacked views equal fresh recomputation on random mutation streams") {
    val rng = new Random(20260901L)
    (1 to 8).foreach { c =>
      val groups = Seq("a", "b", "c")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def mkTuple(): String = {
        nextId += 1
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextInt(20)})"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val cut = 5 + rng.nextInt(40)
      // a two-level stack: an aggregate stratum and a view over it —
      // the upper stratum's delta only exists as a diff of the lower
      val upper = rng.nextInt(3) match {
        case 0 => s"+s2(G, T) <- s1(G, T), T > $cut\n"
        case 1 => "+s2(top_k<2, G, T:desc>) <- s1(G, T)\n"
        case 2 => s"+s2(G, sum<T>) <- s1(G, T), T > $cut\n"
      }
      val rule = "+s1(G, sum<X>) <- t(I, G, X)\n" + upper
      def bag(e: Engine): Map[Seq[Any], Int] =
        e.run("?s2(G, T)").last.collect().toSeq.map(_.toSeq)
          .groupBy(identity).view.mapValues(_.size).toMap
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(8 + rng.nextInt(6))}]\n$rule")
      e1.run("?s2(G, T)")
      (0 until 3 + rng.nextInt(3)).foreach { round =>
        val nDel = math.min(live.size, rng.nextInt(4))
        val dels = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDel).foreach { _ =>
          val i = rng.nextInt(live.size)
          dels += live.remove(i)
        }
        val stmts = Seq.newBuilder[String]
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = bag(e1)
        val expected =
          if (live.isEmpty) Map.empty[Seq[Any], Int]
          else {
            val e2 = new Engine(new Catalog(spark))
            e2.run(s"+t[${live.mkString(",")}]\n$rule")
            bag(e2)
          }
        assert(maintained == expected,
          s"case $c round $round diverged; rule=$upper live=$live")
      }
    }
  }

  test("stacked views over min/max and top_k lower strata equal fresh recomputation") {
    // the r12 classes (top-2 min/max carry, rank prefix buffer) as the
    // LOWER stratum of a stack: their named/diffed deltas feed the
    // upper view's injection. Every round is a MIXED batch (deletes and
    // inserts in one statement) so the stratum-diff injection sees both
    // directions at once — the composition the per-class fuzz samples
    // thinly.
    val rng = new Random(20260913L)
    (1 to 9).foreach { c =>
      val groups = Seq("a", "b", "c")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def mkTuple(): String = {
        nextId += 1
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextInt(20)})"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val cut = 3 + rng.nextInt(14)
      // lower stratum: min / max / top_k (3-col); upper: filter / agg / rank
      val (lower, q) = (c % 3) match {
        case 0 => ("+s1(G, min<X>) <- t(I, G, X)\n", "?s2o(G, T)")
        case 1 => ("+s1(G, max<X>) <- t(I, G, X)\n", "?s2o(G, T)")
        case 2 => ("+s1(G, top_k<2, I, X:desc>) <- t(I, G, X)\n", "?s2o(G, T)")
      }
      val upper = if (c % 3 == 2) ((c / 3) % 3) match {
        // top_k lower is 3-col (G, I, X)
        case 0 => s"+s2o(G, T) <- s1(G, I, T), T > $cut\n"
        case 1 => "+s2o(G, sum<T>) <- s1(G, I, T)\n"
        case 2 => "+s2o(top_k<2, G, T:desc>) <- s1(G, I, T)\n"
      } else ((c / 3) % 3) match {
        case 0 => s"+s2o(G, T) <- s1(G, T), T > $cut\n"
        case 1 => "+s2o(G, sum<T>) <- s1(G, T)\n"
        case 2 => "+s2o(top_k<2, G, T:desc>) <- s1(G, T)\n"
      }
      val rule = lower + upper
      def bag(e: Engine): Map[Seq[Any], Int] =
        e.run(q).last.collect().toSeq.map(_.toSeq)
          .groupBy(identity).view.mapValues(_.size).toMap
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(8 + rng.nextInt(6))}]\n$rule")
      e1.run(q)
      (0 until 3 + rng.nextInt(3)).foreach { round =>
        val nDel = math.min(live.size, 1 + rng.nextInt(3))
        val dels = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDel).foreach { _ =>
          val i = rng.nextInt(live.size)
          dels += live.remove(i)
        }
        // ALWAYS mixed: the delete and the insert cross one injection
        val prog = s"-t[${dels.mkString(",")}]\n+t[${insBatch(1 + rng.nextInt(3))}]"
        e1.run(prog)
        val maintained = bag(e1)
        val expected = {
          val e2 = new Engine(new Catalog(spark))
          e2.run(s"+t[${live.mkString(",")}]\n$rule")
          bag(e2)
        }
        assert(maintained == expected,
          s"case $c round $round diverged; rule=$rule live=$live")
      }
    }
  }

  test("negated rel appearing POSITIVELY in the same body equals fresh recomputation") {
    // the handleable gates exclude a rel changed on both sides of the
    // sign (maintenance must recompute); this pins that the exclusion
    // actually routes to a correct answer rather than a stale ride
    val rng = new Random(20260914L)
    (1 to 6).foreach { c =>
      val groups = Seq("a", "b", "c")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      val bliv = scala.collection.mutable.LinkedHashSet.empty[Int]
      def mkTuple(): String = {
        nextId += 1
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextInt(8)})"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      // b appears positively (b(X)) AND negated (!b(I)) in one body
      val rule =
        if (c % 2 == 0) "+v9(I, G) <- t(I, G, X), b(X), !b(I)\n"
        else "+v9(G, count<I>) <- t(I, G, X), b(X), !b(I)\n"
      val q = if (c % 2 == 0) "?v9(I, G)" else "?v9(G, N)"
      (0 until 3).foreach(_ => bliv += rng.nextInt(8))
      def bag(e: Engine): Map[Seq[Any], Int] =
        e.run(q).last.collect().toSeq.map(_.toSeq)
          .groupBy(identity).view.mapValues(_.size).toMap
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(8 + rng.nextInt(6))}]\n" +
        s"+b[${bliv.map(v => s"($v)").mkString(",")}]\n$rule")
      e1.run(q)
      (0 until 3 + rng.nextInt(2)).foreach { round =>
        val stmts = Seq.newBuilder[String]
        // move b (both sign sides of the same body see the change)
        if (rng.nextBoolean()) {
          val v = rng.nextInt(8)
          if (bliv.add(v)) stmts += s"+b[($v)]"
        }
        if (bliv.size > 1 && rng.nextBoolean()) {
          val v = bliv.head; bliv -= v; stmts += s"-b[($v)]"
        }
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(2))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = bag(e1)
        val e2 = new Engine(new Catalog(spark))
        e2.run(s"+t[${live.mkString(",")}]\n" +
          s"+b[${bliv.map(v => s"($v)").mkString(",")}]\n$rule")
        assert(maintained == bag(e2),
          s"case $c round $round diverged; b=$bliv live=$live")
      }
    }
  }

  test("agg/rank views with negated deps equal fresh recomputation on random streams") {
    val rng = new Random(20260831L)
    (1 to 8).foreach { c =>
      val groups = Seq("a", "b", "c", "d")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      val blocked = scala.collection.mutable.LinkedHashSet.empty[String]
      def mkTuple(): String = {
        nextId += 1
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextInt(20)})"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val rankCase = c % 2 == 1
      val rule =
        if (rankCase) "+v(G, top_k<2, I, X:desc>) <- t(I, G, X), !blk(G)\n"
        else "+v(G, sum<X>, count<X>) <- t(I, G, X), !blk(G)\n"
      val q = if (rankCase) "?v(G, I, X)" else "?v(G, S, C)"
      blocked += s""""${groups(rng.nextInt(groups.size))}""""
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(8 + rng.nextInt(6))}]\n" +
        s"+blk[${blocked.map(g => s"($g)").mkString(",")}]\n$rule")
      e1.run(q)
      // (the deterministic counter pin lives in EngineSpec — a blocklist
      // move touching a group with no live rows is a legitimate no-op)
      (0 until 3 + rng.nextInt(3)).foreach { round =>
        val stmts = Seq.newBuilder[String]
        // move the blocklist: sometimes block a new group, sometimes
        // unblock one, sometimes both in one batch
        if (rng.nextBoolean()) {
          val g = s""""${groups(rng.nextInt(groups.size))}""""
          if (blocked.add(g)) stmts += s"+blk[($g)]"
        }
        if (blocked.nonEmpty && rng.nextBoolean()) {
          val g = blocked.head
          blocked -= g
          stmts += s"-blk[($g)]"
        }
        // occasionally ride a positive-side change in the same batch
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(2))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        def bag(e: Engine): Map[Seq[Any], Int] =
          e.run(q).last.collect().toSeq.map(_.toSeq)
            .groupBy(identity).view.mapValues(_.size).toMap
        val maintained = bag(e1)
        val e2 = new Engine(new Catalog(spark))
        e2.run(s"+t[${live.mkString(",")}]\n" +
          (if (blocked.nonEmpty) s"+blk[${blocked.map(g => s"($g)").mkString(",")}]\n"
           else "+blk[(\"__none\")]\n-blk[(\"__none\")]\n") + rule)
        assert(maintained == bag(e2),
          s"case $c round $round diverged; blocked=$blocked live=$live")
      }
    }
  }

  test("count_distinct decrement equals fresh recomputation on random mutation streams") {
    val rng = new Random(20260818L)
    (1 to 6).foreach { c =>
      val groups = Seq("a", "b", "c")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def insBatch(n: Int): String = (0 until n).map { _ =>
        nextId += 1
        val t = s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextInt(4)})"""
        live += t; t
      }.mkString(",")
      // small value domain (0-3) forces SHARED supports: most deletes
      // must NOT move the distinct count, only last-support ones may
      val rule = "+v(G, count_distinct<X>, sum<X>, count<X>) <- t(I, G, X)\n"
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(10 + rng.nextInt(6))}]\n$rule")
      e1.run("?v(G, C, S, N)")
      val decStart = e1.aggDecrementCount
      (0 until 3).foreach { round =>
        val nDel = math.min(live.size, 1 + rng.nextInt(3))
        val dels = (0 until nDel).map(_ => live.remove(rng.nextInt(live.size)))
        val stmts = Seq.newBuilder[String]
        stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        e1.run(stmts.result().mkString("\n"))
        val maintained = rows(e1.run("?v(G, C, S, N)").last)
        val expected =
          if (live.isEmpty) Set.empty[Seq[Any]]
          else {
            val e2 = new Engine(new Catalog(spark))
            e2.run(s"+t[${live.mkString(",")}]\n$rule")
            rows(e2.run("?v(G, C, S, N)").last)
          }
        assert(maintained == expected,
          s"case $c round $round diverged; live=$live")
      }
      assert(e1.aggDecrementCount > decStart,
        s"case $c never took the cd decrement path")
    }
  }

  test("count_distinct delta-merge equals fresh recomputation on random insert streams") {
    val rng = new Random(20260814L)
    (1 to 8).foreach { c =>
      val groups = Seq("a", "b", "c", "d")
      var nextId = 0
      def batch(n: Int): String = (0 until n).map { _ =>
        nextId += 1
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextInt(5)})"""
      }.mkString(",")
      val b0 = batch(6 + rng.nextInt(6))
      val rule = "+v(G, count_distinct<X>, sum<X>, max<X>) <- t(I, G, X)\n"
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[$b0]\n$rule")
      e1.run("?v(G, C, S, M)")
      val allBatches = scala.collection.mutable.ArrayBuffer(b0)
      val cdStart = e1.cdMergedCount
      (0 until 2 + rng.nextInt(3)).foreach { round =>
        val b = batch(1 + rng.nextInt(4))
        allBatches += b
        e1.run(s"+t[$b]")
        val maintained = rows(e1.run("?v(G, C, S, M)").last)
        val e2 = new Engine(new Catalog(spark))
        e2.run(s"+t[${allBatches.mkString(",")}]\n$rule")
        assert(maintained == rows(e2.run("?v(G, C, S, M)").last),
          s"case $c round $round diverged on batches $allBatches")
      }
      assert(e1.cdMergedCount > cdStart, s"case $c never took the cd delta-merge path")
    }
  }

  test("overlay mutation paths (literal ins/del + conditional delete) equal fresh recomputation") {
    // hammers the catalog's literal-churn overlay across its three
    // entry points -- literal insert (upsert buffer), literal delete
    // (tombstone, incl. phantoms and reinsert-after-delete), and SMALL
    // conditional delete (collected into tombstones) -- against a fresh
    // engine, through both an aggregate view and a plain negated view,
    // over enough rounds that buffers carry forward and interleave
    val rng = new Random(20260915L)
    (1 to 6).foreach { c =>
      var nextId = 0
      val live = scala.collection.mutable.LinkedHashMap.empty[Int, (Int, Int)]
      def insBatch(n: Int): String = (0 until n).map { _ =>
        nextId += 1
        val g = rng.nextInt(4); val x = rng.nextInt(9)
        live(nextId) = (g, x)
        s"($nextId, $g, $x)"
      }.mkString(",")
      val rules =
        "+agg(G, sum<X>, count<X>) <- t(I, G, X)\n" +
        "+big(G) <- t(I, G, X), X >= 7\n" +
        "+lows(I, G) <- t(I, G, X), !big(G)\n"
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(10 + rng.nextInt(6))}]\n$rules")
      e1.run("?agg(G, S, C)"); e1.run("?lows(I, G)")
      (0 until 5 + rng.nextInt(3)).foreach { round =>
        val stmts = Seq.newBuilder[String]
        // literal deletes of live tuples + a phantom sometimes
        val nDel = math.min(live.size, rng.nextInt(3))
        val delIds = rng.shuffle(live.keys.toSeq).take(nDel)
        val dels = delIds.map { id =>
          val (g, x) = live.remove(id).get; s"($id, $g, $x)"
        } ++ (if (rng.nextBoolean()) Seq(s"(99999, 0, ${rng.nextInt(9)})") else Nil)
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        // a small conditional delete: kill one (group, value) slice
        if (rng.nextInt(3) == 0) {
          val g = rng.nextInt(4); val x = rng.nextInt(9)
          live.filterInPlace { case (_, (lg, lx)) => !(lg == g && lx == x) }
          stmts += s"-t(I, G, X) <- t(I, G, X), G = $g, X = $x"
        }
        // fresh inserts, sometimes reinserting a just-deleted tuple
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        if (delIds.nonEmpty && rng.nextInt(3) == 0) {
          val id = delIds.head
          val g = rng.nextInt(4); val x = rng.nextInt(9)
          live(id) = (g, x)
          stmts += s"+t[($id, $g, $x)]"
        }
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val aggGot = rows(e1.run("?agg(G, S, C)").last)
        val lowGot = rows(e1.run("?lows(I, G)").last)
        val e2 = new Engine(new Catalog(spark))
        val liveLits = live.map { case (id, (g, x)) => s"($id, $g, $x)" }
        if (liveLits.isEmpty) {
          assert(aggGot.isEmpty && lowGot.isEmpty, s"case $c round $round: empty base")
        } else {
          e2.run(s"+t[${liveLits.mkString(",")}]\n$rules")
          assert(aggGot == rows(e2.run("?agg(G, S, C)").last),
            s"case $c round $round agg diverged; live=$liveLits")
          assert(lowGot == rows(e2.run("?lows(I, G)").last),
            s"case $c round $round lows diverged; live=$liveLits")
        }
      }
    }
  }

  test("top_k decrement with numeric outs rides the DRIVER-LOCAL round") {
    // the string-out fuzz above exercises the distributed merge algebra
    // (strings can't sort in the driver compare); this numeric-out twin
    // covers the local riding round — multiplicities, boundary compares,
    // group death, and the collected refill — against fresh recompute
    val rng = new Random(20260916L)
    var localRides = 0L
    (1 to 6).foreach { c =>
      val groups = Seq(1L, 2L)
      val xDom = if (c % 2 == 0) 6 else 40
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def mkTuple(): String = {
        nextId += 1
        s"($nextId, ${groups(rng.nextInt(groups.size))}, ${rng.nextInt(3)}, ${rng.nextInt(xDom)})"
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val rule = "+v(G, top_k<2, N, X:desc>) <- t(I, G, N, X)\n"
      def bag(e: Engine): Map[Seq[Any], Int] =
        e.run("?v(G, N, X)").last.collect().toSeq.map(_.toSeq)
          .groupBy(identity).view.mapValues(_.size).toMap
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+t[${insBatch(10 + rng.nextInt(8))}]\n$rule")
      e1.run("?v(G, N, X)")
      (0 until 3 + rng.nextInt(3)).foreach { round =>
        val nDel = math.min(live.size, rng.nextInt(5))
        val dels = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDel).foreach { _ =>
          val i = rng.nextInt(live.size)
          dels += live.remove(i)
        }
        if (rng.nextBoolean()) dels += "(9999, 1, 0, 0)" // phantom
        val stmts = Seq.newBuilder[String]
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = bag(e1)
        val expected =
          if (live.isEmpty) Map.empty[Seq[Any], Int]
          else {
            val e2 = new Engine(new Catalog(spark))
            e2.run(s"+t[${live.mkString(",")}]\n$rule")
            bag(e2)
          }
        assert(maintained == expected,
          s"case $c round $round diverged; live=$live")
      }
      localRides += e1.rankLocalRides
    }
    assert(localRides > 0L, "no case ever took the local riding round")
  }

  test("sum/count/cd decrement with local fast paths DISABLED (distributed algebra)") {
    // the small numeric fixtures above all fit the resident-copy caps,
    // so without this pin the over-cap support machinery (the
    // production path for big supports) would run in zero tests. With
    // the resident copy off, the support table rides the KEYED-PARQUET
    // overlay path (r14): base written once, commits are driver
    // overlay mutations, dirty reads are IN-pruned base scans.
    distributedAggFuzz(pinLegacyCommit = false)
  }

  test("sum/count/cd decrement, distributed LEGACY commit (parquet path off)") {
    // the pre-r14 over-cap shape — full anti-join re-materialization
    // per commit — stays the fallback for schemas that don't round-trip
    // parquet; keep it differentially fuzzed too
    distributedAggFuzz(pinLegacyCommit = true)
  }

  test("fold boundary: low-cap carrier folds interleave with riding rounds") {
    // the production fold cap (~49k overlay entries) fires only in
    // profiled runs; pin it to 8 so base REWRITES plus grace-dir
    // retirement interleave with riding rounds under the same
    // differential comparison — each round's overlay commit, fold
    // write, and post-fold serve must all stay exact while dirs churn
    // through the retirement queue.
    val limits = Engine.Limits(Engine.Tier.Carrier, carrierFoldCap = 8L)
    val rng = new Random(20260816L)
    val e1 = new Engine(new Catalog(spark), limits)
    var nextId = 0
    val live = scala.collection.mutable.ArrayBuffer.empty[String]
    def mkTuple(): String = {
      nextId += 1
      s"($nextId, ${rng.nextInt(12)}, ${rng.nextInt(5)})"
    }
    def insBatch(n: Int): String = (0 until n).map { _ =>
      val t = mkTuple(); live += t; t
    }.mkString(",")
    val rule = "+v(G, sum<X>, count<X>, count_distinct<X>) <- t(I, G, X)\n"
    e1.run(s"+t[${insBatch(40)}]\n$rule")
    e1.run("?v(G, S, C, D)")
    (0 until 14).foreach { round =>
      val nDel = math.min(live.size, 1 + rng.nextInt(3))
      val dels = (0 until nDel).map(_ => live.remove(rng.nextInt(live.size)))
      val stmts = Seq.newBuilder[String]
      stmts += s"-t[${dels.mkString(",")}]"
      if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(2))}]"
      e1.run(stmts.result().mkString("\n"))
      val maintained = rows(e1.run("?v(G, S, C, D)").last)
      val expected =
        if (live.isEmpty) Set.empty[Seq[Any]]
        else {
          val e2 = new Engine(new Catalog(spark), limits)
          e2.run(s"+t[${live.mkString(",")}]\n$rule")
          rows(e2.run("?v(G, S, C, D)").last)
        }
      assert(maintained == expected, s"round $round diverged; live=$live")
    }
    assert(e1.supportParquetRounds > 0L,
      "the run never committed via the carrier overlay")
    assert(e1.carrierFolds >= 3L,
      s"expected >=3 mid-stream folds, saw ${e1.carrierFolds}")
  }

  private def distributedAggFuzz(pinLegacyCommit: Boolean): Unit = {
    val limits = Engine.Limits(
      if (pinLegacyCommit) Engine.Tier.Distributed else Engine.Tier.Carrier)
    val rng = new Random(20260917L)
    var overlayRounds = 0L
    (1 to 4).foreach { c =>
      val groups = Seq("a", "b", "c")
      var nextId = 0
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      def mkTuple(): String = {
        nextId += 1
        s"""($nextId, "${groups(rng.nextInt(groups.size))}", ${rng.nextInt(5)})"""
      }
      def insBatch(n: Int): String = (0 until n).map { _ =>
        val t = mkTuple(); live += t; t
      }.mkString(",")
      val rule = "+v(G, sum<X>, count<X>, count_distinct<X>) <- t(I, G, X)\n"
      val e1 = new Engine(new Catalog(spark), limits)
      e1.run(s"+t[${insBatch(8 + rng.nextInt(6))}]\n$rule")
      e1.run("?v(G, S, C, D)")
      val decStart = e1.aggDecrementCount
      (0 until 3).foreach { round =>
        val nDel = math.min(live.size, rng.nextInt(4))
        val dels = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDel).foreach { _ =>
          val i = rng.nextInt(live.size)
          dels += live.remove(i)
        }
        val stmts = Seq.newBuilder[String]
        if (dels.nonEmpty) stmts += s"-t[${dels.mkString(",")}]"
        if (rng.nextBoolean()) stmts += s"+t[${insBatch(1 + rng.nextInt(3))}]"
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = rows(e1.run("?v(G, S, C, D)").last)
        val expected =
          if (live.isEmpty) Set.empty[Seq[Any]]
          else {
            val e2 = new Engine(new Catalog(spark), limits)
            e2.run(s"+t[${live.mkString(",")}]\n$rule")
            rows(e2.run("?v(G, S, C, D)").last)
          }
        assert(maintained == expected,
          s"case $c round $round diverged; live=$live")
      }
      assert(e1.aggLocalRounds == 0L, "local mode must stay off under the flag")
      assert(e1.aggDecrementCount > decStart,
        s"case $c never took the subtractable decrement path")
      // a seed round serves the seed and commits nothing, so only the
      // riding rounds (decrements past the seeds) commit via the overlay
      val riding = e1.aggDecrementCount - decStart - e1.auxSupportSeeds
      if (pinLegacyCommit)
        assert(e1.supportParquetRounds == 0L,
          "legacy run must not touch the parquet overlay path")
      else if (riding > 0L)
        assert(e1.supportParquetRounds > 0L,
          s"case $c rode $riding rounds, none via the parquet overlay")
      overlayRounds += e1.supportParquetRounds
    }
    if (!pinLegacyCommit)
      assert(overlayRounds > 0L, "no case committed via the parquet overlay")
  }
}
