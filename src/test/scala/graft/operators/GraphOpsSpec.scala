package graft.operators

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("pr")).toMap

  test("pagerank fixes the symmetric cycle and conserves mass without dangling nodes") {
    import spark.implicits._
    val cycle = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr = ranks(GraphOps.pageRank(cycle, iters = 7))
    assert(pr == Map(1L -> 0.5, 2L -> 0.5))
    // a 3-cycle (no dangling nodes): total mass stays 1 at every length
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val total = ranks(GraphOps.pageRank(tri, iters = 5)).values.sum
    assert(math.abs(total - 1.0) < 1e-9, s"mass drifted: $total")
  }

  test("pagerank ranks a hub above its spokes and is deterministic across partitionings") {
    import spark.implicits._
    // star: everyone points at 9, 9 points at 0
    val star = ((0L until 9L).map(i => (i, 9L)) :+ ((9L, 0L))).toDF("src", "dst")
    val pr = ranks(GraphOps.pageRank(star, iters = 10))
    // 9 and 0 trade the bulk of the mass each iteration (9's sole
    // out-edge feeds 0, which feeds it back), so compare each against a
    // plain spoke, not against each other
    assert(pr(9L) > pr(1L) && pr(0L) > pr(1L))
    assert((1L until 9L).forall(i => pr(i) == pr(1L)), "symmetric spokes must tie")
    val repart = ranks(GraphOps.pageRank(star.repartition(7), iters = 10))
    assert(repart == pr, "partitioning changed the decimal-mode fixpoint")
  }

  test("decimal-sum and exact-sum modes agree to float tolerance") {
    import spark.implicits._
    val edges = (0 until 200).map { i =>
      ((i.toLong * 48271 % 65537) % 50, ((i.toLong * 69621 + 12345) % 65537) % 50)
    }.toDF("src", "dst")
    val dec = ranks(GraphOps.pageRank(edges, iters = 5))
    val exa = ranks(GraphOps.pageRank(edges, iters = 5, exactSum = true))
    assert(dec.keySet == exa.keySet)
    dec.foreach { case (n, v) =>
      assert(math.abs(v - exa(n)) < 1e-9, s"node $n: $v vs ${exa(n)}")
    }
    // exact mode is itself reproducible (the oracle contract)
    assert(exa == ranks(GraphOps.pageRank(edges.repartition(5), iters = 5, exactSum = true)))
  }

  test("hits separates hubs from authorities and both sum modes agree") {
    import spark.implicits._
    // 0,1,2 all point at 8 and 9; 8,9 point nowhere else
    val bip = (for (h <- 0L to 2L; a <- 8L to 9L) yield (h, a)).toDF("src", "dst")
    val r = GraphOps.hits(bip, iters = 3, exactSum = true).collect()
      .map(x => x.getAs[Long]("node") ->
        ((x.getAs[Double]("hub"), x.getAs[Double]("authority")))).toMap
    // pure hubs: hub 1, authority 0; pure authorities: the reverse
    (0L to 2L).foreach { n => assert(r(n) == ((1.0, 0.0)), s"hub $n: ${r(n)}") }
    (8L to 9L).foreach { n => assert(r(n) == ((0.0, 1.0)), s"auth $n: ${r(n)}") }
    val edges = (0 until 200).map { i =>
      ((i.toLong * 48271 % 65537) % 50, ((i.toLong * 69621 + 12345) % 65537) % 50)
    }.toDF("src", "dst")
    def hm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getAs[Long]("node") ->
        ((x.getAs[Double]("hub"), x.getAs[Double]("authority")))).toMap
    val dec = hm(GraphOps.hits(edges, iters = 3))
    val exa = hm(GraphOps.hits(edges, iters = 3, exactSum = true))
    assert(dec.keySet == exa.keySet)
    dec.foreach { case (n, (h, a)) =>
      assert(math.abs(h - exa(n)._1) < 1e-9 && math.abs(a - exa(n)._2) < 1e-9,
        s"node $n: ($h,$a) vs ${exa(n)}")
    }
    // exact mode reproducible across partitionings (the oracle contract)
    assert(exa == hm(GraphOps.hits(edges.repartition(5), iters = 3, exactSum = true)))
  }

  test("driver-local fast path equals the distributed loop bit-for-bit") {
    import spark.implicits._
    // LCG graph with parallel edges, self-loops, and dangling nodes —
    // every structural case the two paths must agree on. localCap = 0
    // forces the distributed loop on the same graph; doubles compare by
    // raw bit pattern, not tolerance.
    val edges = (0 until 400).map { i =>
      ((i.toLong * 48271 % 65537) % 80, ((i.toLong * 69621 + 12345) % 65537) % 80)
    }.toDF("src", "dst")
    def bits(m: Map[Long, Double]): Map[Long, Long] =
      m.map { case (k, v) => k -> java.lang.Double.doubleToRawLongBits(v) }
    for (exact <- Seq(false, true)) {
      val loc = GraphOps.pageRank(edges, iters = 5, exactSum = exact)
      val dist = GraphOps.pageRank(edges, iters = 5, exactSum = exact, localCap = 0L)
      assert(bits(ranks(loc)) == bits(ranks(dist)), s"pagerank exactSum=$exact diverged")
      assert(loc.schema.map(f => (f.name, f.dataType)) ==
        dist.schema.map(f => (f.name, f.dataType)), "pagerank schema diverged")
    }
    def hb(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] = df.collect()
      .map(x => x.getAs[Long]("node") ->
        ((java.lang.Double.doubleToRawLongBits(x.getAs[Double]("hub")),
          java.lang.Double.doubleToRawLongBits(x.getAs[Double]("authority"))))).toMap
    for (exact <- Seq(false, true)) {
      val loc = GraphOps.hits(edges, iters = 3, exactSum = exact)
      val dist = GraphOps.hits(edges, iters = 3, exactSum = exact, localCap = 0L)
      assert(hb(loc) == hb(dist), s"hits exactSum=$exact diverged")
      assert(loc.schema.map(f => (f.name, f.dataType)) ==
        dist.schema.map(f => (f.name, f.dataType)), "hits schema diverged")
    }
  }

  test("triangle counts: K4, orientation-stressing hub, parallel/self edges") {
    import spark.implicits._
    def counts(df: org.apache.spark.sql.DataFrame) =
      GraphOps.triangleCounts(df).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap
    // K4: 4 triangles, every node in exactly 3
    val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)).toDF("src", "dst")
    assert(counts(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // hub fan: hub 0 connects to 1..6, plus one rim edge (1,2):
    // exactly one triangle {0,1,2}; self-loops and duplicates ignored
    val fan = ((1L to 6L).map(h => (0L, h)) ++
      Seq((1L, 2L), (2L, 1L), (3L, 3L), (0L, 1L))).toDF("src", "dst")
    assert(counts(fan) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
    // triangle-free graph → empty result
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(counts(path).isEmpty)
  }

  test("k-core peels pendants, keeps the core, and early-exits at the fixpoint") {
    import spark.implicits._
    def core(df: org.apache.spark.sql.DataFrame, k: Int, rounds: Int) =
      GraphOps.kCore(df, k, rounds).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("degree")).toMap
    // K4 with a pendant chain 3-4-5: the 3-core is exactly the K4
    val k4chain = ((for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)) ++
      Seq((3L, 4L), (4L, 5L))).toDF("src", "dst")
    assert(core(k4chain, 3, 10) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // chain + triangle: 2-core = the triangle; the chain needs TWO peel
    // rounds to disappear (endpoints first, then the stranded middle),
    // so rounds=1 differs while converged rounds (3 vs 50) agree — 50
    // must early-exit rather than run 50 barriers (wall-clock bound below)
    val mixed = (Seq((0L, 1L), (1L, 2L), (2L, 3L)) ++
      Seq((5L, 6L), (6L, 7L), (7L, 5L))).toDF("src", "dst")
    val expected = Map(5L -> 2L, 6L -> 2L, 7L -> 2L)
    assert(core(mixed, 2, 3) == expected)
    val t0 = System.nanoTime()
    assert(core(mixed, 2, 50) == expected)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 20.0, s"50-round call took $secs s — early exit not engaged")
    // k above the max core → empty
    assert(core(mixed, 3, 10).isEmpty)
  }
}
