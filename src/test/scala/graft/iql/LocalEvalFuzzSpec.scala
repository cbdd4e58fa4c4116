package graft.iql

import graft.SparkSpec
import scala.util.Random

/** Differential fuzz: random small stratified Datalog programs run
  * through BOTH the driver-local SCC evaluator and the distributed
  * semi-naive loop; results must be identical. Programs stay in the
  * terminating fragment (no arithmetic value creation in recursive
  * heads), but exercise the rest of the local surface: multi-rule
  * recursion, constants, wildcards, repeated variables, comparison
  * guards, and stratified negation. Seed is fixed — failures reproduce. */
class LocalEvalFuzzSpec extends SparkSpec {

  private val distributedLoop = Engine.Limits(Engine.Tier.Distributed) // local SCC evaluator off

  private def randomProgram(rng: Random): String = {
    val nNodes = 4 + rng.nextInt(5)
    val nEdges = 4 + rng.nextInt(8)
    val edges = Seq.fill(nEdges)(
      s"(${rng.nextInt(nNodes)}, ${rng.nextInt(nNodes)})").distinct.mkString(",")
    val blocked = Seq.fill(1 + rng.nextInt(2))(s"(${rng.nextInt(nNodes)})")
      .distinct.mkString(",")
    val sb = new StringBuilder
    sb.append(s"+e[$edges]\n+blk[$blocked]\n")
    // base rule
    rng.nextInt(3) match {
      case 0 => sb.append("r(X, Y) <- e(X, Y)\n")
      case 1 => sb.append("r(X, X) <- e(X, _)\n")
      case 2 => sb.append(s"r(X, Y) <- e(X, Y), X != Y\n")
    }
    // recursive rule(s)
    rng.nextInt(4) match {
      case 0 => sb.append("r(X, Z) <- r(X, Y), e(Y, Z)\n")
      case 1 => sb.append("r(X, Z) <- r(X, Y), r(Y, Z)\n")
      case 2 =>
        sb.append("r(X, Z) <- r(X, Y), e(Y, Z), !blk(Z)\n")
      case 3 =>
        sb.append("r(X, Z) <- e(X, Y), r(Y, Z)\n")
        sb.append(s"r(X, Z) <- r(X, Y), e(Y, Z), Y < ${1 + rng.nextInt(nNodes)}\n")
    }
    // occasionally a second head with a constant or mutual recursion
    if (rng.nextBoolean()) {
      sb.append("s(X) <- r(X, _)\n")
      sb.append(s"?s(X)\n")
    } else if (rng.nextBoolean()) {
      sb.append(s"?r(X, Y)\n")
    } else {
      sb.append(s"?- r(X, Y), X = ${rng.nextInt(nNodes)}\n")
    }
    sb.toString
  }

  test("NaN tuples dedup locally (canonical NaN) and match the distributed loop") {
    // 1.0e308 + 1.0e308 = inf; inf - inf = NaN. The cycle rederives the
    // same NaN tuple every round: without canonical-NaN dedup the local
    // evaluator churns to MaxDerived instead of converging in 3 rounds.
    val src =
      """+num[(1.0e308)]
        |+e[(1,2),(2,3),(3,1)]
        |r(1, W) <- num(X), Z = X + X, W = Z - Z
        |r(Y, W) <- r(X, W), e(X, Y)
        |?r(X, W)
        |""".stripMargin
    def nn(rs: Set[Seq[Any]]): Set[Seq[Any]] = rs.map(_.map {
      case d: Double if d.isNaN => "NaN"
      case v => v
    })
    val t0 = System.nanoTime
    val local = nn(rows(new Engine(new Catalog(spark)).run(src).last))
    val localSec = (System.nanoTime - t0) / 1e9
    val dist = nn(rows(new Engine(new Catalog(spark), distributedLoop).run(src).last))
    assert(local == dist)
    assert(local == Set(Seq(1L, "NaN"), Seq(2L, "NaN"), Seq(3L, "NaN")))
    assert(localSec < 30.0, s"NaN tuples churned instead of deduping ($localSec s)")
  }

  test("maintained views equal fresh recomputation on random (program, mutation-stream) pairs") {
    // the mutation-stream twin of the random-program fuzz: the RULES
    // randomize too (recursion shape, stacked projection/agg/rank/
    // negation views over the recursive stratum), and after every mixed
    // batch EVERY declared view must equal a fresh engine evaluating
    // the post-batch state — the composition coverage the per-class
    // MaintenanceFuzzSpec streams can't reach (their view shapes are
    // fixed). Seeded; 50 (program, stream) pairs.
    val rng = new Random(20260915L)
    (1 to 50).foreach { i =>
      val nNodes = 4 + rng.nextInt(5)
      val live = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
      val blk = scala.collection.mutable.LinkedHashSet.empty[Int]
      def newEdge(): (Int, Int) = (rng.nextInt(nNodes), rng.nextInt(nNodes))
      (0 until 4 + rng.nextInt(6)).foreach(_ => live += newEdge())
      (0 until 1 + rng.nextInt(2)).foreach(_ => blk += rng.nextInt(nNodes))
      def edgesStr = live.map(t => s"(${t._1}, ${t._2})").mkString(",")
      def blkStr = blk.map(v => s"($v)").mkString(",")
      val sb = new StringBuilder
      rng.nextInt(3) match {
        case 0 => sb.append("+r(X, Y) <- e(X, Y)\n")
        case 1 => sb.append("+r(X, X) <- e(X, _)\n")
        case 2 => sb.append("+r(X, Y) <- e(X, Y), X != Y\n")
      }
      rng.nextInt(4) match {
        case 0 => sb.append("+r(X, Z) <- r(X, Y), e(Y, Z)\n")
        case 1 => sb.append("+r(X, Z) <- r(X, Y), r(Y, Z)\n")
        case 2 => sb.append("+r(X, Z) <- r(X, Y), e(Y, Z), !blk(Z)\n")
        case 3 =>
          sb.append("+r(X, Z) <- e(X, Y), r(Y, Z)\n")
          sb.append(s"+r(X, Z) <- r(X, Y), e(Y, Z), Y < ${1 + rng.nextInt(nNodes)}\n")
      }
      // stacked views over the recursive stratum — random subset
      val queries = scala.collection.mutable.ArrayBuffer("?r(X, Y)")
      if (rng.nextBoolean()) {
        sb.append("+sv(X) <- r(X, _)\n"); queries += "?sv(X)"
      }
      if (rng.nextBoolean()) {
        sb.append("+av(X, count<Y>) <- r(X, Y)\n"); queries += "?av(X, N)"
      }
      if (rng.nextBoolean()) {
        sb.append("+nv(X, Y) <- r(X, Y), !blk(Y)\n"); queries += "?nv(X, Y)"
      }
      if (rng.nextBoolean()) {
        sb.append("+tv(top_k<2, X, Y:desc>) <- r(X, Y)\n"); queries += "?tv(X, Y)"
      }
      // r14: the remaining aggregate head classes join the sampler —
      // min/max (top-2 carry), avg + count_distinct (pairs tables),
      // GLOBAL sum/count (key-less: one group on the support table),
      // and ungrouped within_radius (filter semantics)
      if (rng.nextBoolean()) {
        sb.append("+mv(X, min<Y>, max<Y>) <- r(X, Y)\n"); queries += "?mv(X, Mn, Mx)"
      }
      if (rng.nextBoolean()) {
        sb.append("+dv(X, count_distinct<Y>, avg<Y>) <- r(X, Y)\n")
        queries += "?dv(X, D, A)"
      }
      if (rng.nextBoolean()) {
        sb.append("+gv(sum<Y>, count<Y>) <- r(X, Y)\n"); queries += "?gv(S, C)"
      }
      if (rng.nextBoolean()) {
        sb.append("+wv(within_radius<1, X, Y>) <- r(X, Y)\n"); queries += "?wv(X, Y)"
      }
      // a droppable view for mid-stream RULE CHURN (dependency-scoped
      // invalidation + the session-change eviction of carried state):
      // exact-clause removal, so no anonymous vars in the body
      val churnRule = "+cv(X, count<Y>) <- r(X, Y), !blk(X)"
      sb.append(churnRule).append('\n')
      queries += "?cv(X, N)"
      val rules = sb.toString
      var cvDropped = false
      var lvAdded = false
      def rulesNow: String =
        (if (cvDropped) rules.linesIterator.filterNot(_.contains("cv(")).mkString("\n") + "\n"
         else rules) +
          (if (lvAdded) "+lv(X, count<Y>) <- r(X, Y)\n" else "")
      def bags(e: Engine): Seq[Map[Seq[Any], Int]] = queries.toSeq.map { q =>
        e.run(q).last.collect().toSeq.map(_.toSeq)
          .groupBy(identity).view.mapValues(_.size).toMap
      }
      val e1 = new Engine(new Catalog(spark))
      e1.run(s"+e[$edgesStr]\n+blk[$blkStr]\n$rules")
      bags(e1) // materialize every view (maintenance needs v0 snapshots)
      (0 until 2 + rng.nextInt(2)).foreach { round =>
        // rule churn rides OUTSIDE the mixed batch (a rule change is its
        // own statement class): drop the churn view once, add a late
        // view once — both force dependency-scoped invalidation while
        // every OTHER view must keep maintaining correctly
        if (!cvDropped && rng.nextInt(4) == 0) {
          e1.run(s"-cv(X, count<Y>) <- r(X, Y), !blk(X)")
          queries -= "?cv(X, N)"
          cvDropped = true
        }
        if (!lvAdded && rng.nextInt(4) == 0) {
          e1.run("+lv(X, count<Y>) <- r(X, Y)")
          queries += "?lv(X, N)"
          lvAdded = true
        }
        val stmts = Seq.newBuilder[String]
        val nDel = math.min(live.size - 1, rng.nextInt(3))
        if (nDel > 0) {
          val dels = (0 until nDel).map { _ =>
            val t = live.iterator.drop(rng.nextInt(live.size)).next()
            live -= t; t
          }
          stmts += s"-e[${dels.map(t => s"(${t._1}, ${t._2})").mkString(",")}]"
        }
        if (rng.nextBoolean()) {
          val add = Seq.fill(1 + rng.nextInt(2))(newEdge()).distinct
            .filterNot(live)
          if (add.nonEmpty) {
            add.foreach(live += _)
            stmts += s"+e[${add.map(t => s"(${t._1}, ${t._2})").mkString(",")}]"
          }
        }
        if (rng.nextBoolean()) {
          val v = rng.nextInt(nNodes)
          if (blk.add(v)) stmts += s"+blk[($v)]"
        }
        if (blk.size > 1 && rng.nextBoolean()) {
          val v = blk.head; blk -= v; stmts += s"-blk[($v)]"
        }
        val prog = stmts.result().mkString("\n")
        if (prog.nonEmpty) e1.run(prog)
        val maintained = bags(e1)
        val e2 = new Engine(new Catalog(spark))
        e2.run(s"+e[$edgesStr]\n+blk[$blkStr]\n$rulesNow")
        val fresh = bags(e2)
        assert(maintained == fresh,
          s"pair $i round $round diverged:\n$rulesNow\nedges=$live blk=$blk\n" +
            s"maintained=$maintained\nfresh=$fresh")
      }
    }
  }

  test("local and distributed SCC evaluation agree on random programs") {
    val rng = new Random(20260812L)
    (1 to 14).foreach { i =>
      val src = randomProgram(rng)
      val local =
        try Right(rows(new Engine(new Catalog(spark)).run(src).last))
        catch { case ex: Exception => Left(ex.getClass.getName) }
      val dist =
        try Right(rows(new Engine(new Catalog(spark), distributedLoop).run(src).last))
        catch { case ex: Exception => Left(ex.getClass.getName) }
      assert(local == dist,
        s"case $i diverged:\n$src\nlocal=$local\ndistributed=$dist")
    }
  }
}
