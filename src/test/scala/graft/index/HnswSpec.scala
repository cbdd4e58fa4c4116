package graft.index

import graft.SparkSpec

class HnswSpec extends SparkSpec {

  private def mkVecs(n: Int, dim: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(42)
    (0L until n.toLong).map(i => i -> Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  private def bruteTopK(vs: Seq[(Long, Array[Float])], idx: Hnsw,
                        q: Array[Float], k: Int): Seq[Long] =
    vs.map { case (id, v) => (id, idx.distance(q, v)) }
      .sortBy(_._2).take(k).map(_._1)

  test("exact on small sets, high recall on larger ones") {
    val vs = mkVecs(500, 32)
    val idx = new Hnsw(32, "cosine")
    vs.foreach { case (id, v) => idx.insert(id, v) }
    val queries = mkVecs(20, 32).map(_._2)
    val recalls = queries.map { q =>
      val exact = bruteTopK(vs, idx, q, 10).toSet
      val approx = idx.search(q, 10, efSearch = 128).map(_._1).toSet
      (exact intersect approx).size.toDouble / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.95, s"mean recall $mean < 0.95")
  }

  test("euclidean metric orders by L2") {
    val idx = new Hnsw(2, "euclidean")
    idx.insert(1L, Array(0f, 0f))
    idx.insert(2L, Array(1f, 0f))
    idx.insert(3L, Array(5f, 5f))
    val r = idx.search(Array(0.1f, 0f), 3).map(_._1)
    assert(r == Seq(1L, 2L, 3L))
  }

  test("deterministic rebuild: same data, same results") {
    val vs = mkVecs(200, 16)
    def build() = {
      val i = new Hnsw(16); vs.foreach { case (id, v) => i.insert(id, v) }; i
    }
    val q = Array.fill(16)(0.3f)
    assert(build().search(q, 5).map(_._1) == build().search(q, 5).map(_._1))
  }

  test("tombstone delete hides ids; save/load round-trips") {
    val vs = mkVecs(100, 8)
    val idx = new Hnsw(8)
    vs.foreach { case (id, v) => idx.insert(id, v) }
    val q = vs(7)._2
    assert(idx.search(q, 1).head._1 == 7L)
    idx.remove(7L)
    assert(idx.search(q, 1).head._1 != 7L)
    val f = java.nio.file.Files.createTempFile("hnsw", ".bin").toString
    idx.save(f)
    val loaded = Hnsw.load(f)
    assert(loaded.size == idx.size)
    assert(loaded.search(q, 3).map(_._1) == idx.search(q, 3).map(_._1))
  }

  test("catalog index lifecycle via meta commands") {
    import spark.implicits._
    val s = new graft.iql.Session(spark)
    val vs = mkVecs(50, 8).map { case (id, v) => (id, v.toSeq) }
    s.catalog.register("emb", vs.toDF("vec_id", "embedding"))
    s.execute(".index create emb vec_id embedding")
    val lines = s.execute(".index list").head.asInstanceOf[graft.iql.Repl.Text].lines
    assert(lines == Seq("emb_embedding: emb(embedding)"))
    val probe = s.catalog.hnswSearch("emb", "embedding", vs.head._2.toArray, 5)
    assert(probe.count() == 5)
    assert(probe.head().getLong(0) == 0L) // nearest to itself
    s.execute(".index drop emb embedding")
    assertThrows[IllegalArgumentException](
      s.catalog.hnswSearch("emb", "embedding", vs.head._2.toArray, 5))
  }

  test("named indexes survive .save/.open with the graph intact") {
    import spark.implicits._
    val s = new graft.iql.Session(spark)
    val vs = mkVecs(40, 4).map { case (id, v) => (id, v.toSeq) }
    s.catalog.register("emb", vs.toDF("vec_id", "embedding"))
    s.execute(".index create idx on emb(embedding) vec_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_kg_idx").toString
    s.execute(s".save $dir")
    val s2 = new graft.iql.Session(spark)
    s2.execute(s".open $dir")
    val q0 = vs.head._2.mkString("[", ", ", "]")
    val r = s2.execute(s"""?hnsw_nearest("idx", $q0, 3, Id, D)""")
      .head.asInstanceOf[graft.iql.Repl.Table].df
    assert(r.count() == 3)
    assert(rows(r).map(_.head).contains(0L))
  }

  test(".open rebuilds an index whose saved graph it cannot read") {
    import spark.implicits._
    val s = new graft.iql.Session(spark)
    val vs = mkVecs(40, 4).map { case (id, v) => (id, v.toSeq) }
    s.catalog.register("emb", vs.toDF("vec_id", "embedding"))
    s.catalog.createIndex("emb", "vec_id", "embedding", "euclidean", 8, 50, "idx")
    val want = s.catalog.indexByName("idx").get._1.search(vs(5)._2.toArray, 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_kg_junk").toString
    s.execute(s".save $dir")
    // an older build's layout fails the same way: java.io.ObjectStreamException
    val graph = java.nio.file.Paths.get(dir, "idx.hnsw")
    java.nio.file.Files.write(graph, "not a graph".getBytes("UTF-8"))
    val s2 = new graft.iql.Session(spark)
    s2.execute(s".open $dir")
    val rebuilt = s2.catalog.indexByName("idx").get._1
    assert((rebuilt.metric, rebuilt.m, rebuilt.efConstruction) == ("euclidean", 8, 50))
    assert(rebuilt.search(vs(5)._2.toArray, 3) == want)
    val q0 = vs.head._2.mkString("[", ", ", "]")
    val r = s2.execute(s"""?hnsw_nearest("idx", $q0, 3, Id, D)""")
      .head.asInstanceOf[graft.iql.Repl.Table].df
    assert(rows(r).map(_.head).contains(0L))
    // a manifest without the graph's parameters rebuilds with the defaults
    val manifest = java.nio.file.Paths.get(dir, "indexes.txt")
    java.nio.file.Files.write(manifest, "idx\temb\tvec_id\tembedding".getBytes("UTF-8"))
    java.nio.file.Files.write(graph, "not a graph".getBytes("UTF-8"))
    val s3 = new graft.iql.Session(spark)
    s3.execute(s".open $dir")
    assert(s3.catalog.indexByName("idx").get._1.metric == "cosine")
  }

  test("hnsw_nearest body predicate with literal and variable queries") {
    import spark.implicits._
    val s = new graft.iql.Session(spark)
    val vs = mkVecs(50, 4).map { case (id, v) => (id, v.toSeq) }
    s.catalog.register("emb", vs.toDF("vec_id", "embedding"))
    s.execute(".index create idx on emb(embedding) vec_id")
    // literal query: hnsw_nearest as the only body predicate
    val q0 = vs.head._2.mkString("[", ", ", "]")
    val r1 = s.execute(s"""?hnsw_nearest("idx", $q0, 5, Id, D)""")
      .head.asInstanceOf[graft.iql.Repl.Table].df
    assert(r1.count() == 5)
    assert(rows(r1).map(_.head).contains(0L)) // nearest to itself
    // variable query inside a rule: probe per bound vector
    s.execute("+probe[(0), (3)]")
    s.execute("+nn(P, Id, D) <- probe(P), emb(P, V), hnsw_nearest(\"idx\", V, 3, Id, D)")
    val r2 = s.execute("?nn(P, Id, D)").head.asInstanceOf[graft.iql.Repl.Table].df
    assert(r2.count() == 6) // 2 probes × k=3
    val byP = r2.collect().groupBy(_.getLong(0))
    assert(byP(0L).map(_.getLong(1)).contains(0L))
    assert(byP(3L).map(_.getLong(1)).contains(3L))
  }

  test("concurrent probes and mutations don't tear the graph") {
    val idx = new Hnsw(8)
    val all = mkVecs(400, 8)
    all.take(200).foreach { case (id, v) => idx.insert(id, v) }
    val errs = new java.util.concurrent.atomic.AtomicInteger
    val writer = new Thread(() => all.drop(200).foreach { case (id, v) =>
      try idx.upsert(id, v)
      catch { case _: Throwable => errs.incrementAndGet() }
    })
    val readers = (1 to 4).map(_ => new Thread(() => {
      val q = Array.fill(8)(0.2f)
      (1 to 200).foreach { _ =>
        try { val r = idx.search(q, 5, efSearch = 32); require(r.lengthIs <= 5) }
        catch { case _: Throwable => errs.incrementAndGet() }
      }
    }))
    (writer +: readers).foreach(_.start())
    (writer +: readers).foreach(_.join())
    assert(errs.get == 0, s"${errs.get} torn operations")
    assert(idx.size == 400)
  }

  test("catalog insert/delete maintain the index: no manual rebuild needed") {
    import spark.implicits._
    val s = new graft.iql.Session(spark)
    val vs = mkVecs(50, 4).map { case (id, v) => (id, v.toSeq) }
    s.catalog.register("emb", vs.toDF("vec_id", "embedding"))
    s.execute(".index create idx on emb(embedding) vec_id")
    val qLit = vs(3)._2.mkString("[", ", ", "]")
    // insert an exact copy of vs(3)'s vector under a fresh id: the probe
    // must surface it immediately (reference src/index_manager.rs:84-126)
    s.execute(s"+emb(1000, $qLit)")
    val r1 = s.execute(s"""?hnsw_nearest("idx", $qLit, 2, Id, D)""")
      .head.asInstanceOf[graft.iql.Repl.Table].df
    assert(rows(r1).map(_.head).toSet == Set(3L, 1000L))
    // delete it: tombstoned immediately, absent from the next probe
    s.execute(s"-emb(1000, $qLit)")
    val r2 = s.execute(s"""?hnsw_nearest("idx", $qLit, 3, Id, D)""")
      .head.asInstanceOf[graft.iql.Repl.Table].df
    val ids2 = rows(r2).map(_.head).toSet
    assert(!ids2.contains(1000L) && ids2.contains(3L))
    // named .index stats surfaces the tombstone ratio the auto-rebuild
    // threshold watches
    val stats = s.execute(".index stats idx").head
      .asInstanceOf[graft.iql.Repl.Text].lines
    assert(stats.exists(_.startsWith("tombstones: 1")), stats.mkString("; "))
    assert(stats.exists(_.startsWith("tombstoneRatio:")), stats.mkString("; "))
  }

  test("index on an EMPTY declared relation fills through maintenance") {
    val s = new graft.iql.Session(spark)
    s.execute("+vecs(id: int, v: vector[4])")
    // declared vector[4] fixes the dim; no data needed at create time
    s.execute(".index create idx on vecs(v) id")
    s.execute("+vecs(1, [1.0, 0.0, 0.0, 0.0])")
    s.execute("+vecs(2, [0.0, 1.0, 0.0, 0.0])")
    val r = s.execute("""?hnsw_nearest("idx", [1.0, 0.0, 0.0, 0.0], 1, Id, D)""")
      .head.asInstanceOf[graft.iql.Repl.Table].df
    assert(rows(r).map(_.head) == Set(1L))
    // an empty UNDECLARED relation still refuses (dim unknowable)
    s.execute("+raw[]")
    assertThrows[IllegalArgumentException](
      s.execute(".index create r2 on raw(v) id"))
  }

  test("delete with a non-matching vector leaves the index untouched") {
    import spark.implicits._
    val s = new graft.iql.Session(spark)
    val vs = mkVecs(30, 4).map { case (id, v) => (id, v.toSeq) }
    s.catalog.register("emb", vs.toDF("vec_id", "embedding"))
    s.execute(".index create idx on emb(embedding) vec_id")
    // the requested tuple (id 3, OTHER vector) is not in the relation, so
    // the relation keeps (3, v3) — and the index must keep serving id 3
    s.catalog.delete("emb", Seq(Seq(3L, vs(7)._2)))
    val qLit = vs(3)._2.mkString("[", ", ", "]")
    val r = s.execute(s"""?hnsw_nearest("idx", $qLit, 1, Id, D)""")
      .head.asInstanceOf[graft.iql.Repl.Table].df
    assert(rows(r).map(_.head) == Set(3L))
  }

  test("conditional delete (replace with declared removals) maintains the index") {
    import spark.implicits._
    val s = new graft.iql.Session(spark)
    val vs = mkVecs(30, 4).map { case (id, v) => (id, v.toSeq) }
    s.catalog.register("emb", vs.toDF("vec_id", "embedding"))
    s.execute(".index create idx on emb(embedding) vec_id")
    // -emb(Id, V) <- cond goes through Catalog.replace with an exact
    // removed frame — the incremental tombstone path, not a rebuild
    s.execute("-emb(Id, V) <- emb(Id, V), Id >= 25")
    val idx = s.catalog.indexByName("idx").get._1
    assert(idx.size == 25, s"size ${idx.size}")
    (25L until 30L).foreach { id =>
      val q = vs(id.toInt)._2.toArray
      assert(!idx.search(q, 3).map(_._1).contains(id),
        s"deleted id $id still served")
    }
  }

  test("capacity guard refuses an over-cap build, naming the distributed paths") {
    import spark.implicits._
    val df = mkVecs(50, 4).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Hnsw.build(df, "vec_id", "embedding", maxVectors = 49L)
    }
    assert(e.getMessage.contains("49 vectors"))
    assert(e.getMessage.contains("annIvf") && e.getMessage.contains("annLsh"),
      "error must name the distributed ANN alternatives")
    // exactly at capacity builds fine, and the guard never truncates
    val idx = Hnsw.build(df, "vec_id", "embedding", maxVectors = 50L)
    assert(idx.size == 50)
  }

  test("over-capacity createIndex degrades to the distributed IVF probe") {
    // the 100 TB story for the driver-held structure as CODE: past the
    // capacity guard, the catalog registers trained IVF centroids and
    // hnsw_nearest probes become cell-pruned exact scans of the live
    // relation (reference keeps one index abstraction over its base,
    // src/index_manager.rs:84-126). With efSearch >= 16*nCells every
    // cell is probed, so the fallback top-k must EQUAL brute force —
    // the exact anchor.
    import spark.implicits._
    val vs = mkVecs(60, 8)
    val df = vs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val cat = new graft.iql.Catalog(spark)
    cat.register("bigvecs", df)
    cat.createIndex("bigvecs", "vec_id", "embedding", maxVectors = 10L)
    assert(!cat.indexes.contains(("bigvecs", "embedding")),
      "no driver graph should exist past the capacity guard")
    assert(cat.distIndexes.contains(("bigvecs", "embedding")),
      "the distributed fallback should register instead of refusing")
    val q = mkVecs(1, 8).head._2
    // all-cells probe (efSearch >= 16 * nCells) == exact brute force
    val got = cat.hnswSearch("bigvecs", "embedding", q, k = 5,
      efSearch = 16 * 64).collect().map(_.getLong(0)).toSeq
    val cos = new Hnsw(8, "cosine")
    val exact = vs.map { case (id, v) => (id, cos.distance(q, v)) }
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    assert(got == exact, s"fallback top-k $got != brute force $exact")
    // a narrower probe returns up to k rows from the pruned cells
    // (approximate by design: efSearch 64 probes 4 of the ~60 cells,
    // which may hold fewer than k vectors)
    val narrow = cat.hnswSearch("bigvecs", "embedding", q, k = 5, efSearch = 64)
      .count()
    assert(narrow >= 1 && narrow <= 5, s"narrow probe returned $narrow rows")
    // the IQL hnsw_nearest atom resolves the same fallback by name
    val e = new graft.iql.Engine(cat)
    val qLit = q.map(v => f"$v%.6f").mkString("[", ", ", "]")
    val viaIql = e.run(
      s"""?- hnsw_nearest("bigvecs_embedding", $qLit, 5, Id, D, ${16 * 64})""")
      .last.collect().map(_.getLong(0)).toSeq.sorted
    assert(viaIql == exact.sorted,
      s"IQL atom over the fallback returned $viaIql, expected ${exact.sorted}")
    // mutation needs no index upkeep: the probe reads the live relation
    cat.delete("bigvecs", Seq(Seq(exact.head, vs(exact.head.toInt)._2.toSeq)))
    val afterDel = cat.hnswSearch("bigvecs", "embedding", q, k = 5,
      efSearch = 16 * 64).collect().map(_.getLong(0)).toSeq
    assert(!afterDel.contains(exact.head), "deleted id must leave the probe")
  }

  test("degraded-index recall floor at the default probe width") {
    // q196/the test above pin the all-cells probe (== brute force); this
    // bounds the APPROXIMATION at the DEFAULT probe. The degrade trains
    // a 64-cell coarse quantizer (deterministic Lloyd over the bounded
    // first-by-id sample) and the default efSearch 64 probes 24 of the
    // 64 cells — the production floor is recall@10 ≥ 0.9 on an
    // UNCLUSTERED Gaussian cloud, IVF's worst case (the sf0.01 q197
    // report measures the same floor oracle-exactly; the r14 untrained
    // first-16 centroids measured 0.49 here).
    import spark.implicits._
    val vs = mkVecs(240, 8)
    val df = vs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val cat = new graft.iql.Catalog(spark)
    cat.register("recvecs", df)
    cat.createIndex("recvecs", "vec_id", "embedding", maxVectors = 64L)
    assert(cat.distIndexes.contains(("recvecs", "embedding")))
    val queries = vs.filter { case (id, _) => id >= 16 && id < 28 }.map(_._2)
    def recall(ef: Int): Double = {
      var hits = 0; var total = 0
      queries.foreach { q =>
        val truth = cat.hnswSearch("recvecs", "embedding", q, 10, 16 * 16)
          .collect().map(_.getLong(0)).toSet
        val got = cat.hnswSearch("recvecs", "embedding", q, 10, ef)
          .collect().map(_.getLong(0)).toSet
        hits += got.intersect(truth).size; total += truth.size
      }
      hits.toDouble / total
    }
    val rDefault = recall(64) // ⌈3·64/8⌉ = 24 of 64 cells
    val rWide = recall(96) // 36 of 64 cells
    val rAll = recall(171) // ⌈3·171/8⌉ = 65 ≥ 64: every cell
    assert(rAll == 1.0, s"all-cells probe must be exact, got $rAll")
    assert(rWide >= rDefault,
      s"recall must not drop with wider probes: $rDefault -> $rWide")
    assert(rDefault >= 0.9, s"default-probe recall floor: $rDefault")
  }

  test("hnswSearchBatch equals per-query hnswSearch row-for-row on both backends") {
    import spark.implicits._
    val vs = mkVecs(240, 8)
    val df = vs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val queries = vs.filter { case (id, _) => id >= 16 && id < 28 }.map(_._2)
    def batchRows(cat: graft.iql.Catalog, rel: String, ef: Int): Map[Long, Seq[(Long, Double)]] =
      cat.hnswSearchBatch(rel, "embedding", queries, 10, ef).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (qi, rs) =>
          qi -> rs.map(r => (r._2, r._3)).sortBy(t => (t._2, t._1)).toSeq }
    def singleRows(cat: graft.iql.Catalog, rel: String, ef: Int): Map[Long, Seq[(Long, Double)]] =
      queries.zipWithIndex.map { case (q, i) =>
        i.toLong -> cat.hnswSearch(rel, "embedding", q, 10, ef).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (t._2, t._1)).toSeq
      }.toMap
    // distributed over-capacity fallback (trained coarse quantizer)
    val catD = new graft.iql.Catalog(spark)
    catD.register("bvecs", df)
    catD.createIndex("bvecs", "vec_id", "embedding", maxVectors = 64L)
    assert(catD.distIndexes.contains(("bvecs", "embedding")))
    for (ef <- Seq(64, 96, 16 * 16))
      assert(batchRows(catD, "bvecs", ef) == singleRows(catD, "bvecs", ef),
        s"distributed fallback batch != per-query at efSearch=$ef")
    // in-memory graph backend
    val catG = new graft.iql.Catalog(spark)
    catG.register("gvecs", df)
    catG.createIndex("gvecs", "vec_id", "embedding")
    assert(catG.indexes.contains(("gvecs", "embedding")))
    assert(batchRows(catG, "gvecs", 64) == singleRows(catG, "gvecs", 64),
      "graph backend batch != per-query")
    // r16: LARGE batches ride a broadcast (qi, qv, pc) frame instead of
    // plan literals — force that carrier on the same small batch and
    // pin row equality against the literal carrier's results
    catD.batchLiteralCells = 0L
    for (ef <- Seq(64, 16 * 16))
      assert(batchRows(catD, "bvecs", ef) == singleRows(catD, "bvecs", ef),
        s"broadcast-carrier batch != per-query at efSearch=$ef")
  }

  test("tombstone ratio past threshold auto-rebuilds the graph") {
    import spark.implicits._
    val s = new graft.iql.Session(spark)
    val vs = mkVecs(40, 4).map { case (id, v) => (id, v.toSeq) }
    s.catalog.register("emb", vs.toDF("vec_id", "embedding"))
    s.execute(".index create idx on emb(embedding) vec_id")
    // delete 15/40 exact tuples in one batch → ratio 0.375 > 0.25 →
    // the catalog rebuilds from the post-delete relation
    s.catalog.delete("emb", vs.take(15).map { case (id, v) => Seq(id, v) })
    val idx = s.catalog.indexByName("idx").get._1
    assert(idx.stats("tombstones") == 0, "rebuild should clear tombstones")
    assert(idx.size == 25)
    assert(idx.stats.contains("tombstoneRatio")) // surfaced in .index stats
    val r = idx.search(vs(20)._2.toArray, 5).map(_._1)
    assert(r.contains(20L) && r.forall(_ >= 15L))
    // named manual rebuild keeps the registration and the params
    s.execute(".index rebuild idx")
    val idx2 = s.catalog.indexByName("idx").get._1
    assert(idx2.size == 25 && idx2.m == idx.m)
  }

  test("fuzz: maintained index equals brute force after random mutation sequences") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(4)(rnd.nextGaussian().toFloat)
    val s = new graft.iql.Session(spark)
    val init = (0L until 30L).map(id => (id, vec()))
    s.catalog.register("fz", init.toDF("id", "v"))
    s.execute(".index create fidx on fz(v) id")
    val live = scala.collection.mutable.Map(init: _*)
    var nextId = 30L
    (1 to 40).foreach { _ =>
      if (rnd.nextDouble() < 0.6 || live.isEmpty) {
        val v = vec()
        s.catalog.insert("fz", Seq(Seq(nextId, v)))
        live(nextId) = v
        nextId += 1
      } else {
        val id = live.keys.toSeq(rnd.nextInt(live.size))
        s.catalog.delete("fz", Seq(Seq(id, live(id))))
        live -= id
      }
    }
    // the interleaving crosses the 0.25 tombstone ratio at some point,
    // so this also exercises the mid-sequence auto-rebuild
    val idx = s.catalog.indexByName("fidx").get._1
    assert(idx.size == live.size, s"index ${idx.size} vs relation ${live.size}")
    (1 to 5).foreach { _ =>
      val q = vec().toArray
      val got = idx.search(q, 5, efSearch = idx.size + 16).map(_._1).toSet
      val expect = live.toSeq
        .map { case (id, v) => (id, idx.distance(q, v.toArray)) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
      assert(got == expect, s"maintained=$got brute=$expect")
    }
  }

  test("lsh_bucket / lsh_probes IQL builtins are deterministic and bucket near-dups together") {
    import spark.implicits._
    val s = new graft.iql.Session(spark)
    val base = Array.tabulate(16)(i => math.sin(i * 1.3).toFloat)
    val near = base.clone(); near(0) = near(0) + 1e-4f
    s.catalog.register("emb",
      Seq((1L, base.toSeq), (2L, near.toSeq)).toDF("vec_id", "embedding"))
    val r = s.execute(
      """?emb(Id, V), B = lsh_bucket(V, 0, 8), P = lsh_probes(B, 8, 3)""")
      .head.asInstanceOf[graft.iql.Repl.Table].df
    val got = r.collect().map(x => (x.getLong(0), x.getLong(2), x.getSeq[Float](3))).toSeq
    val b1 = got.find(_._1 == 1L).get._2
    val b2 = got.find(_._1 == 2L).get._2
    assert(b1 == b2) // near-identical vectors share the bucket
    assert(got.head._3.length == 3 && got.head._3.head == b1.toFloat)
    // deterministic across re-evaluation
    val again = s.execute("""?emb(Id, V), B = lsh_bucket(V, 0, 8)""")
      .head.asInstanceOf[graft.iql.Repl.Table].df
    assert(again.collect().map(x => (x.getLong(0), x.getLong(2))).toSet ==
      got.map(x => (x._1, x._2)).toSet)
  }

  test("filtered search matches filtered brute force and survives selective predicates") {
    val rnd = new scala.util.Random(5)
    val dim = 8
    val vecs = (0L until 60L).map(i => i -> Array.fill(dim)(rnd.nextFloat()))
    val idx = new Hnsw(dim)
    vecs.foreach { case (id, v) => idx.insert(id, v) }
    val q = vecs(3)._2
    def bruteFiltered(pred: Long => Boolean, k: Int) = vecs
      .filter { case (id, _) => pred(id) }
      .map { case (id, v) =>
        val dot = v.zip(q).map { case (a, b) => a.toDouble * b }.sum
        val na = math.sqrt(v.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(q.map(x => x.toDouble * x).sum)
        id -> (1.0 - dot / (na * nb))
      }.sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
    // exhaustive ef: equals brute force under a broad predicate...
    val even = (id: Long) => id % 2 == 0
    assert(idx.searchFiltered(q, 5, 60, even).map(_._1) == bruteFiltered(even, 5))
    // ...and under a HIGHLY selective one (2 of 60 match) the traversal
    // must route through non-matching nodes to find both
    val rare = Set(41L, 57L)
    assert(idx.searchFiltered(q, 5, 60, rare).map(_._1).toSet == rare)
    // production ef on the selective predicate still finds them (the
    // frontier is not starved by post-filtering)
    assert(idx.searchFiltered(q, 5, 16, rare).map(_._1).toSet == rare)
    // nothing matches -> empty; unfiltered pred == plain search ids
    assert(idx.searchFiltered(q, 5, 60, _ => false).isEmpty)
    assert(idx.searchFiltered(q, 5, 60, _ => true).map(_._1) ==
      bruteFiltered(_ => true, 5))
  }


  test("pinned results: search and searchFiltered ids and distance bits per metric") {
    // A CRC32 over every (id, distance bits) pair that search (efSearch
    // 16, 64 and 200) and searchFiltered return for 40 seeded queries,
    // on a fresh 2,000-vector build and again after a seeded
    // upsert/removeMatching/remove sequence. Every 25th vector repeats
    // an earlier one, so exact distance ties (and the order they come
    // back in) are part of what is pinned. The storage and inner loops
    // may change; these values may not.
    def crcOf(idx: Hnsw, qs: Seq[Array[Float]]): Long = {
      val crc = new java.util.zip.CRC32
      val buf = java.nio.ByteBuffer.allocate(16)
      def add(r: Seq[(Long, Double)]): Unit = r.foreach { case (id, d) =>
        buf.clear()
        buf.putLong(id).putLong(java.lang.Double.doubleToLongBits(d))
        crc.update(buf.array, 0, 16)
      }
      qs.foreach { q =>
        Seq(16, 64, 200).foreach(ef => add(idx.search(q, 10, ef)))
        add(idx.searchFiltered(q, 10, 64, _ % 3 == 0))
      }
      crc.getValue
    }
    def pinned(metric: String, seed: Int): (Long, Long) = {
      val rnd = new scala.util.Random(seed)
      val dim = 32
      def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val vs = Array.tabulate(2000)(i => if (i % 25 == 24) null else vec())
      (0 until 2000).foreach(i => if (vs(i) == null) vs(i) = vs(rnd.nextInt(i)))
      val qs = Seq.fill(40)(vec())
      val idx = new Hnsw(dim, metric)
      vs.indices.foreach(i => idx.insert(i.toLong, vs(i)))
      val fresh = crcOf(idx, qs)
      (1 to 400).foreach { _ =>
        val id = rnd.nextInt(2200).toLong
        rnd.nextInt(5) match {
          case 0 => idx.upsert(id, vec())
          case 1 => if (id < 2000) idx.upsert(id, vs(id.toInt))
          case 2 => if (id < 2000) idx.removeMatching(id, vs(id.toInt))
          case 3 => idx.removeMatching(id, vec())
          case _ => idx.remove(id)
        }
      }
      (fresh, crcOf(idx, qs))
    }
    val got = Seq("cosine" -> 11, "euclidean" -> 12, "dot" -> 13)
      .map { case (metric, seed) => metric -> pinned(metric, seed) }
    val expect = Seq(
      "cosine" -> (765663186L, 3112544909L),
      "euclidean" -> (140449943L, 3048345509L),
      "dot" -> (3075524048L, 3838965567L))
    assert(got == expect)
  }

}
