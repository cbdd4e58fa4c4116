package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Trained-IVF similarity search: deterministic k-means coarse
  * quantizer, brute-force equality when probing all cells, recall vs
  * scan-cut tradeoff at partial nprobe, and the partitionBy(cell)
  * layout round-trip (the 100 TB partition-pruning shape). */
class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    .localCheckpoint(true)
  private lazy val query = emb.where(col("vec_id") === 0)
    .select(col("embedding")).head().getSeq[Float](0)

  test("hoisted-norm pair cosine equals per-pair cosineSimilarity bit-for-bit") {
    // r15: the pair generators hoist each side's norm to one evaluation
    // per input row; the per-pair value must be the IDENTICAL double,
    // including the zero-vector guard
    import graft.functions.{VectorFunctions => VF}
    val withZero = emb.select(col("vec_id"), when(col("vec_id") === 3,
      expr("transform(embedding, x -> float(0.0))")).otherwise(col("embedding")).as("embedding"))
    val a = withZero.where(col("vec_id") < 20)
      .select(col("vec_id").as("a_id"), col("embedding").as("av"),
        VF.norm(col("embedding")).as("na"))
    val b = withZero.where(col("vec_id") >= 20 && col("vec_id") < 40)
      .select(col("vec_id").as("b_id"), col("embedding").as("bv"),
        VF.norm(col("embedding")).as("nb"))
    val both = a.crossJoin(broadcast(b)).select(
      VF.cosineSimilarity(col("av"), col("bv")).as("ref"),
      Similarity.pairCos(col("av"), col("bv"), col("na"), col("nb")).as("hoisted"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} != ${r.getDouble(1)}")
    }
  }

  test("margin mining finds planted translations and rejects hub vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Float]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n).toSeq
    }
    def randv(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    // A side: 8 distinct directions; B side: near-copies of each
    // (planted translations) + one HUB close to everything (the mean
    // direction plus tiny noise) whose raw cosine to several A vectors
    // beats some planted pairs
    val aVecs = (0 until 8).map(i => i.toLong * 2 -> randv())
    val mean = Array.tabulate(16)(j => aVecs.map(_._2(j)).sum / 8)
    val bPlanted = aVecs.map { case (id, v) =>
      (id + 1) -> unit(v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val hub = 999L -> unit(mean.map(x => x * 4f)) // same direction as the mean
    val a = aVecs.map { case (id, v) => (id, unit(v)) }.toDF("vec_id", "embedding")
    val b = (bPlanted :+ hub).toDF("vec_id", "embedding")
    val mined = Similarity.marginMining(a, b, k = 3, tau = 1.0)
      .select("a_id", "b_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every a finds ITS planted partner — never the hub, which the
    // margin denominator (the hub is in everyone's k-NN list, so both
    // averages absorb it) pushes below the planted pair
    aVecs.foreach { case (id, _) =>
      assert(mined.get(id).contains(id + 1),
        s"a=$id mined ${mined.get(id)}, expected planted ${id + 1}") }
    assert(!mined.values.toSet.contains(999L), "hub vector must not be mined")
  }

  test("blocked margin mining: all-cells probe equals broadcast; split-cell recall; gate") {
    val a = emb.where(pmod(col("vec_id"), lit(2L)) === 0)
    val b = emb.where(pmod(col("vec_id"), lit(2L)) === 1)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    val bcast = key(Similarity.marginMining(a, b, k = 4, tau = 1.0))
    val cent = Similarity.kmeansCentroids(b, k = 8, iters = 2)
    // nprobe = nCells: every pair generated exactly once -> exact equality
    val blockedAll = key(Similarity.marginMiningBlocked(
      a, b, cent, nprobe = cent.length, k = 4, tau = 1.0))
    assert(blockedAll == bcast, "all-cells blocked mining != broadcast mining")
    // the size gate routes an over-cap b side through the blocked path:
    // broadcastCap = 0 forces it; nprobe = nCells keeps it exact
    val gated = key(Similarity.marginMining(a, b, k = 4, tau = 1.0,
      broadcastCap = 0L, nCells = 8, nprobe = 8))
    assert(gated == bcast, "gated (forced-blocked) mining != broadcast mining")
    // partial nprobe: planted near-copy translations land in their a
    // twin's own cell, so even a 2-cell probe keeps high recall on the
    // true pairs (the IVF trade drops only split-cell strays)
    val partial = Similarity.marginMiningBlocked(
      a, b, cent, nprobe = 4, k = 4, tau = 0.0)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = Similarity.marginMining(a, b, k = 4, tau = 0.0)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = partial.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"partial-probe recall $recall too low")
  }

  test("recall report: planted translations bound the partial probe, full probe is exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def unit(v: Array[Float]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n).toSeq
    }
    // 4 orthogonal cluster axes; each cluster holds 4 planted (a, b-twin)
    // pairs tight around its axis — a twin always lands in its a's cell
    val axes = (0 until 4).map { c =>
      Array.tabulate(16)(j => if (j == c * 4) 1f else 0f) }
    val pairs = for (c <- 0 until 4; i <- 0 until 4) yield {
      val base = axes(c).map(x => x + 0.05f * rnd.nextGaussian().toFloat)
      val aId = (c * 4 + i).toLong * 2
      (aId, unit(base),
       aId + 1, unit(base.map(x => x + 0.02f * rnd.nextGaussian().toFloat)))
    }
    val a = pairs.map(p => (p._1, p._2)).toDF("vec_id", "embedding")
    val b = pairs.map(p => (p._3, p._4)).toDF("vec_id", "embedding")
    val cents = axes.map(_.map(_.toDouble)).toArray
    val rep = Similarity.marginMiningRecallReport(a, b, cents,
      nprobes = Seq(1, 4), k = 3, tau = 1.0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val (t4, m4, x4, p4, r4) = rep(4L) // nprobe = nCells: exact
    assert(t4 == m4 && m4 == x4 && p4 == 1000000L && r4 == 1000000L,
      s"full probe must equal ground truth, got $rep")
    val (_, _, _, p1, r1) = rep(1L) // single cell still holds every twin
    assert(r1 >= 750000L, s"planted-twin recall at nprobe=1 too low: $r1")
    assert(p1 >= 750000L, s"planted-twin precision at nprobe=1 too low: $p1")
  }

  test("k-means centroids are deterministic and improve over iterations") {
    val c1 = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
    val c2 = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
    assert(c1.length == 8 && c1(0).length == 64)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) }, "not deterministic")
    // training moves centroids off the initial sample
    val c0 = Similarity.kmeansCentroids(emb, k = 8, iters = 0)
    assert(!c1.zip(c0).forall { case (a, b) => a.sameElements(b) })
  }

  test("block-local margin mining equals the window-pipeline reference bit-for-bit") {
    // r16: the miner scores pairs in ONE block-local pass (per-side
    // top-k generators + small final windows) instead of three
    // cross-join scans; this pins the mined rows — ids, cos6, margin6 —
    // bit-for-bit against the old full-window pipeline over adversarial
    // inputs: zero vectors (den==0 shortcut), duplicated vectors (cos
    // ties -> id tie-break), a NaN element (NaN sorts greatest), a null
    // element and a null vector (null cos sorts last), a hub, and a
    // length-mismatched vector (null dot, but 0 against the zero vec).
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    def vec(): Seq[java.lang.Float] =
      Seq.fill(8)(java.lang.Float.valueOf(rnd.nextGaussian().toFloat))
    val dup = vec()
    val aRows: Seq[SRow] = (0L until 40L).map { i =>
      val v: Seq[java.lang.Float] =
        if (i == 2) Seq.fill(8)(java.lang.Float.valueOf(0f)) // zero vector
        else if (i == 4) dup
        else if (i == 6) dup // duplicate -> cos ties on the b side
        else if (i == 8) vec().updated(3, null: java.lang.Float) // null element
        else vec()
      SRow(java.lang.Long.valueOf(i), v)
    } :+ SRow(null, vec()) // null id
    val bRows: Seq[SRow] = (100L until 130L).map { i =>
      val v: Seq[java.lang.Float] =
        if (i == 101) Seq.fill(8)(java.lang.Float.valueOf(0f))
        else if (i == 103) Seq.fill(5)(java.lang.Float.valueOf(1f)) // length mismatch
        else if (i == 105) vec().updated(0, java.lang.Float.valueOf(Float.NaN))
        else if (i == 107) null // null vector
        else vec()
      SRow(java.lang.Long.valueOf(i), v)
    }
    val (a, b) = (vecFrame(aRows), vecFrame(bRows))
    // reference: the pre-r16 pipeline — one scored cross join, full
    // rank windows on both sides, the identical margin algebra
    def reference(k: Int, tau: Double): Array[SRow] = {
      import graft.functions.{VectorFunctions => VF}
      val pa = a.select(col("vec_id").as("a_id"), col("embedding").as("av"),
        VF.norm(col("embedding")).as("na"))
      val pb = b.select(col("vec_id").as("b_id"), col("embedding").as("bv"),
        VF.norm(col("embedding")).as("nb"))
      val pairs = pa.crossJoin(broadcast(pb))
        .select(col("a_id"), col("b_id"),
          Similarity.pairCos(col("av"), col("bv"), col("na"), col("nb")).as("cos"))
      val wa = Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id").asc)
      val wb = Window.partitionBy("b_id").orderBy(col("cos").desc, col("a_id").asc)
      val rankedA = pairs.withColumn("ra", row_number().over(wa)).where(col("ra") <= k)
      val rankedB = pairs.withColumn("rb", row_number().over(wb)).where(col("rb") <= k)
      val da = rankedA.groupBy("a_id").agg(avg("cos").as("da"))
      val db = rankedB.groupBy("b_id").agg(avg("cos").as("db"))
      val cand = rankedA.join(da, Seq("a_id")).join(db, Seq("b_id"))
        .withColumn("margin", col("cos") / ((col("da") + col("db")) / 2))
      val wBest = Window.partitionBy("a_id").orderBy(col("margin").desc, col("b_id").asc)
      cand.withColumn("__rk", row_number().over(wBest))
        .where(col("__rk") === 1 && col("margin") >= tau)
        .select(col("a_id"), col("b_id"),
          round(col("cos"), 6).as("cos6"), round(col("margin"), 6).as("margin6"))
        .collect()
    }
    def key(rs: Array[SRow]): Set[(Any, Any, Long, Long)] = rs.map { r =>
      (r.get(0), r.get(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
    }.toSet
    for ((k, tau) <- Seq((3, 0.8), (4, 1.0), (1, 0.0))) {
      val ref = key(reference(k, tau))
      val got = key(Similarity.marginMining(a, b, k = k, tau = tau).collect())
      assert(got == ref, s"k=$k tau=$tau: block-local miner diverged\n" +
        s"missing=${ref -- got}\nextra=${got -- ref}")
    }
  }

  private def vecFrame(rows: Seq[org.apache.spark.sql.Row]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = true),
      StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).localCheckpoint(true)
  }

  /** a_id -> mined b_id at each of the bit-for-bit test's (k, tau), over
    * a ids 0-11 and b ids 100-119 of random vectors where the ids in
    * `nan` hold a NaN element (every cosine they take part in is NaN). */
  private def minedWithNaN(seed: Int, nan: Set[Long]): Seq[Map[Any, Any]] = {
    val rnd = new scala.util.Random(seed)
    def side(ids: Seq[Long]) = vecFrame(ids.map { i =>
      val v = Seq.fill(8)(java.lang.Float.valueOf(rnd.nextGaussian().toFloat))
      org.apache.spark.sql.Row(i, if (nan(i)) v.updated(2, java.lang.Float.valueOf(Float.NaN)) else v)
    })
    val (a, b) = (side(0L until 12L), side(100L until 120L))
    Seq((3, 0.8), (4, 1.0), (1, 0.0)).map { case (k, tau) =>
      Similarity.marginMining(a, b, k = k, tau = tau).collect().map(r => r.get(0) -> r.get(1)).toMap
    }
  }

  // Spark's window sorts NaN cosines greatest and breaks NaN ties to the
  // ascending partner id; NaN margins pass any tau
  test("an a-side NaN element mines the partner-ascending b_id, as Spark's window does") {
    minedWithNaN(7, Set(5L)).foreach(m => assert(m(5L) == 100L, m))
  }

  test("several NaN-scoring b vectors mine the partner-ascending b_id, as Spark's window does") {
    val nanB = Set(103L, 106L, 109L, 112L, 115L) // fill every a row's top-k
    minedWithNaN(11, nanB).foreach(m => assert(m == (0L until 12L).map(_ -> 103L).toMap, m))
  }

  test("sharded HNSW: executor-built shards probe with high recall, deterministically") {
    val idx = Similarity.hnswShardedIndex(emb, nShards = 4).localCheckpoint(true)
    assert(idx.count() == 4, "one serialized index row per non-empty shard")
    val got = rows(Similarity.hnswShardedTopK(idx, query, 10, efSearch = 128)
      .select(col("vec_id")))
    val again = rows(Similarity.hnswShardedTopK(idx, query, 10, efSearch = 128)
      .select(col("vec_id")))
    assert(got == again, "sharded probe not deterministic")
    val bf = rows(Similarity.bruteForceTopK(emb, query, 10).select(col("vec_id")))
    val recall = got.intersect(bf).size / 10.0
    assert(recall >= 0.9, s"sharded HNSW recall $recall vs brute force")
    // rebuilding yields the same shards (insertion order pinned per shard)
    val got2 = rows(Similarity.hnswShardedTopK(
      Similarity.hnswShardedIndex(emb, nShards = 4), query, 10, efSearch = 128)
      .select(col("vec_id")))
    assert(got2 == got, "rebuild changed the probe result")
  }

  test("all-cells trained-IVF probe equals brute force exactly") {
    val cent = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
    val bf = rows(Similarity.bruteForceTopK(emb, query, 10).select(col("vec_id")))
    val ivf = rows(Similarity.ivfTopKTrained(emb, query, 10, cent,
      nprobe = cent.length).select(col("vec_id")))
    assert(ivf == bf)
  }

  test("IVF-PQ: all probes + all-rows shortlist equals brute force; pruned probe keeps recall") {
    val cent = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
    val cb = Similarity.pqTrainedCodebooks(emb, dim = 64, m = 8, k = 16)
    val codes = Similarity.ivfPqEncode(emb, cent, cb).localCheckpoint(true)
    val bf = rows(Similarity.bruteForceTopK(emb, query, 10).select(col("vec_id")))
    val exactTwin = rows(Similarity.ivfPqTopK(emb, codes, query, cent, cb,
      k = 10, nprobe = cent.length, shortlist = 1000000).select(col("vec_id")))
    assert(exactTwin == bf, "all-probes+all-shortlist IVF-PQ must equal exact top-k")
    val pruned = rows(Similarity.ivfPqTopK(emb, codes, query, cent, cb,
      k = 10, nprobe = 3, shortlist = 50).select(col("vec_id"))).map(_.head)
    assert(pruned.size == 10)
    val recall = pruned.count(bf.map(_.head)).toDouble / 10
    assert(recall >= 0.5, s"ivfpq nprobe=3 shortlist=50 recall $recall")
  }

  test("partial probe keeps high recall at a fraction of the scan") {
    val cent = Similarity.kmeansCentroids(emb, k = 8, iters = 3)
    val bf = rows(Similarity.bruteForceTopK(emb, query, 10).select(col("vec_id")))
      .map(_.head)
    val ivf = rows(Similarity.ivfTopKTrained(emb, query, 10, cent, nprobe = 3)
      .select(col("vec_id"))).map(_.head)
    val recall = ivf.count(bf).toDouble / bf.size
    assert(recall >= 0.5, s"nprobe=3/8 recall $recall") // coarse but useful
    // pruning is real: the 3 probed cells hold strictly fewer rows than
    // the table (and at least the k candidates returned)
    val assigned = Similarity.ivfAssign(emb, cent).localCheckpoint(true)
    val perCell = assigned.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val probedRows = perCell.toSeq.sortBy(_._1).map(_._2)
    assert(perCell.values.sum == emb.count())
    val top3 = perCell.values.toSeq.sorted.takeRight(3).sum
    assert(top3 < emb.count(), s"no pruning: cell sizes $probedRows")
  }

  test("lsh all-probes variants equal brute force exactly") {
    val bf = rows(Similarity.bruteForceTopK(emb, query, 10).select(col("vec_id")))
    val orFilter = rows(Similarity.lshTopKAllProbes(emb, query, 10, dim = 64)
      .select(col("vec_id")))
    assert(orFilter == bf)
    val dir = java.nio.file.Files.createTempDirectory("lsh_layout").toString
    Similarity.lshAssign(emb, dim = 64).write.mode("overwrite")
      .partitionBy("bucket").parquet(dir)
    val layout = spark.read.parquet(dir)
    val bucketed = rows(Similarity.lshTopKBucketed(layout, query, 10, dim = 64,
      allProbes = true).select(col("vec_id")))
    assert(bucketed == bf)
  }

  test("bucketed lsh probe prunes the scan and keeps recall") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_probe").toString
    Similarity.lshAssign(emb, dim = 64).write.mode("overwrite")
      .partitionBy("bucket").parquet(dir)
    val layout = spark.read.parquet(dir)
    val probe = Similarity.lshTopKBucketed(layout, query, 10, dim = 64)
    // partition pruning is real: the probe's executed scan reads a
    // strict subset of the layout's files (bucket is a partition column,
    // so the isin filter prunes at file-listing time — the 100 TB
    // design point)
    probe.collect()
    def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def leaves(p: SparkPlan): Seq[SparkPlan] = p.collectLeaves().flatMap {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case l => Seq(l)
      }
      leaves(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f.metrics("numFiles").value }.sum
    }
    val allFiles = layout.inputFiles.length.toLong
    val probedFiles = scanFiles(probe)
    assert(probedFiles > 0 && probedFiles < allFiles,
      s"no pruning: probe reads $probedFiles of $allFiles files")
    // and the probed rows are a fraction of the table
    val total = emb.count()
    val probedRows = Similarity.lshTopKBucketed(layout, query, 100000, dim = 64).count()
    assert(probedRows < total, s"probe scanned every row ($probedRows)")
    // recall vs brute force: the test embeddings are near-uniform, so
    // the honest bound is LOCALITY LIFT — the probe must recover MORE
    // of the true top-10 than a random subset of the same size would
    // (recall > probed fraction), plus a floor. Exact correctness of
    // the machinery is anchored by the all-probes oracle (q66).
    val bf = rows(Similarity.bruteForceTopK(emb, query, 10).select(col("vec_id")))
      .map(_.head)
    val got = rows(probe.select(col("vec_id"))).map(_.head)
    val recall = got.count(bf).toDouble / bf.size
    val fraction = probedRows.toDouble / total
    assert(recall >= 0.3 && recall > fraction,
      s"bucketed-probe recall $recall at probed fraction $fraction")
  }

  test("random projection matches the driver-side plane dot products") {
    import graft.functions.{LshFunctions => LF}
    val proj = Similarity.randomProject(emb, dim = 64, k = 8)
    assert(proj.columns.toSeq == ("vec_id" +: (0 until 8).map(i => s"d$i")))
    val planes = LF.hyperplanes(dim = 64, nPlanes = 8, table = 0)
    val vecs = emb.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")).toMap
    val got = proj.collect()
    assert(got.length == vecs.size)
    got.take(50).foreach { r =>
      val v = vecs(r.getAs[Long]("vec_id"))
      (0 until 8).foreach { j =>
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i).toDouble * planes(j)(i); i += 1 }
        val want = BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getAs[Double](s"d$j") == want, s"vec ${r.get(0)} dim $j")
      }
    }
    // JL sanity: projected squared distances correlate with the originals
    // (deterministic seed, so this is a fixed, reproducible check). The
    // distortion shrinks ~1/√k, so the property check uses k=32 — the
    // k=8 slice above only pins the arithmetic
    val ids = vecs.keys.toSeq.sorted.take(20)
    val pm = Similarity.randomProject(emb, dim = 64, k = 32).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (0 until 32).map(j => r.getAs[Double](s"d$j")).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // E[‖P(u−v)‖²] = k·‖u−v‖² for unit-variance Gaussian planes: the
    // per-pair distortion ratio must concentrate around 1
    val ratios = for { a <- ids; b <- ids if a < b } yield {
      val va = vecs(a).map(_.toDouble).toArray
      val vb = vecs(b).map(_.toDouble).toArray
      d2(pm(a), pm(b)) / (32.0 * d2(va, vb))
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.4, s"JL mean distortion off: $mean")
    assert(ratios.min > 0.25 && ratios.max < 3.0,
      s"JL pairwise distortion out of range: ${ratios.min} .. ${ratios.max}")
  }

  test("PQ: codes are nearest subspace centroids, ADC matches driver recomputation") {
    val cb = Similarity.pqSeededCodebooks(dim = 64, m = 8, k = 16)
    val codes = Similarity.pqEncode(emb, cb).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (0 until 8).map(j => r.getAs[Int](s"c$j")).toArray).toMap
    val vecs = emb.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    // every code is the argmin-‖v_j − c‖² centroid (ties → lowest index)
    codes.take(50).foreach { case (id, cs) =>
      val v = vecs(id)
      (0 until 8).foreach { j =>
        val sub = v.slice(j * 8, j * 8 + 8)
        val d2s = cb(j).map(c => sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
        assert(d2s(cs(j)) == d2s.min, s"vec $id subspace $j code ${cs(j)}")
      }
    }
    // ADC distance = Σ_j lut(j)(code_j), bit-for-bit
    val q = vecs(0L).map(_.toFloat).toSeq
    val lut = Similarity.pqLut(q, cb)
    val top = Similarity.pqAdcTopK(
      Similarity.pqEncode(emb, cb), q, cb, k = 10).collect()
    top.foreach { r =>
      val cs = codes(r.getAs[Long]("vec_id"))
      val want = (0 until 8).map(j => lut(j)(cs(j))).reduce(_ + _)
      assert(r.getAs[Double]("adc_dist") == want)
    }
    // and the top-10 is the global ADC minimum set
    val all = codes.map { case (id, cs) =>
      id -> (0 until 8).map(j => lut(j)(cs(j))).reduce(_ + _)
    }.toSeq.sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
    assert(top.map(_.getAs[Long]("vec_id")).toSeq == all)
  }

  test("PQ: trained codebooks beat seeded on quantization error and keep recall") {
    val seeded = Similarity.pqSeededCodebooks(dim = 64, m = 8, k = 16)
    val trained = Similarity.pqTrainedCodebooks(emb, dim = 64, m = 8, k = 16)
    val vecs = emb.collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
    def mse(cb: Array[Array[Array[Double]]]): Double = vecs.map { v =>
      (0 until 8).map { j =>
        val sub = v.slice(j * 8, j * 8 + 8)
        cb(j).map(c => sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum).min
      }.sum
    }.sum / vecs.length
    assert(mse(trained) < mse(seeded),
      s"training did not reduce quantization error: ${mse(trained)} vs ${mse(seeded)}")
    // production shape: ADC shortlist + exact re-rank. The shortlist
    // must catch most of the exact top-10 (32-bit codes on near-uniform
    // synthetic data are too coarse for raw ADC@10 — that's what the
    // re-rank exists for)
    val q = emb.where(col("vec_id") === 7).select(col("embedding"))
      .head().getSeq[Float](0)
    val codes = Similarity.pqEncode(emb, trained)
    val shortlist = Similarity.pqAdcTopK(codes, q, trained, 100)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val qd = q.map(_.toDouble).toArray
    val exactAll = emb.collect().map { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
      r.getAs[Long]("vec_id") -> v.zip(qd).map { case (x, y) => (x - y) * (x - y) }.sum
    }
    val exact10 = exactAll.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val recall = (shortlist & exact10).size / 10.0
    assert(recall >= 0.6, s"ADC shortlist@100 recall too low: $recall")
    // and the re-ranked shortlist@N equals exact brute force — the
    // hard anchor for the semi-join + re-rank machinery
    val n = exactAll.length
    val reranked = Similarity.pqTopKReranked(emb, codes, q, trained, 10, shortlist = n)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(reranked == exactAll.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq)
  }

  test("mean pooling averages each component per group") {
    import spark.implicits._
    val df = Seq((1, Seq(1.0f, 2.0f)), (1, Seq(3.0f, 4.0f)), (2, Seq(5.0f, 6.0f)))
      .toDF("label", "embedding")
    val got = Similarity.meanPool(df).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == Map((1, 0) -> 2.0, (1, 1) -> 3.0, (2, 0) -> 5.0, (2, 1) -> 6.0))
    // full-table shape: one row per (label, dim)
    val n = Similarity.meanPool(emb).count()
    val labels = emb.select(countDistinct(col("label"))).head().getLong(0)
    assert(n == labels * 64)
  }

  test("prototypicality ranks centroid-aligned vectors above outliers") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f), 0),
      (2L, Seq(0.9f, 0.1f, 0.0f), 0),
      (3L, Seq(-1.0f, 0.0f, 0.0f), 0), // group-0 outlier
      (4L, Seq(0.0f, 1.0f, 0.0f), 1),
      (5L, Seq(0.0f, 1.0f, 0.0f), 1)   // group 1 IS its centroid
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.prototypicality(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.size == 5, "every vector must score")
    assert(got(4L) > 0.999 && got(5L) > 0.999)
    assert(got(3L) < got(1L) && got(3L) < got(2L), s"outlier not lowest: $got")
    assert(got.values.forall(v => v >= -1.0 && v <= 1.0))
    // deterministic across layouts (the oracle-exactness contract)
    val again = Similarity.prototypicality(df.repartition(4)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again == got)
  }

  test("int8 quantized storage is byte-typed end-to-end") {
    import org.apache.spark.sql.types._
    val stored = Similarity.quantizeInt8(emb).select(col("vec_id"), col("q_emb"))
    // the stored column is array<tinyint> — 1 byte per element, the
    // reference's VectorInt8 width (src/value/mod.rs:57-61)
    assert(stored.schema("q_emb").dataType == ArrayType(ByteType, containsNull = false) ||
      stored.schema("q_emb").dataType.asInstanceOf[ArrayType].elementType == ByteType)
    // parquet round-trip keeps the byte element type
    val dir = java.nio.file.Files.createTempDirectory("int8_store").toString
    stored.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("q_emb").dataType.asInstanceOf[ArrayType].elementType == ByteType)
    // scoring consumes the byte column directly (no cast in the plan)
    val qv = Similarity.quantizeQueryInt8(query)
    val top = Similarity.bruteForceTopKInt8(back, qv, 10)
    assert(top.count() == 10)
    assert(!top.queryExecution.executedPlan.toString.contains("cast(q_emb"),
      "byte column was widened before the kernel")
    // int8 top-k approximates the float top-k (rounding-only error)
    val bf = rows(Similarity.bruteForceTopK(emb, query, 10).select(col("vec_id"))).map(_.head)
    val got = rows(top.select(col("vec_id"))).map(_.head)
    assert(got.count(bf) >= 7, s"int8 recall ${got.count(bf)}/10")
  }

  test("quantized vectors stay byte-typed through the IQL dialect") {
    import org.apache.spark.sql.types._
    val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
    e.run(
      """+embedding[(1, [1.0, 0.5, -0.5, -1.0]), (2, [2.0, -2.0, 1.0, -1.0])]
        |+qv(Id, Q) <- embedding(Id, V), Q = quantize_symmetric(V)
        |""".stripMargin)
    val out = e.run("?qv(Id, Q)").last
    assert(out.schema("Q").dataType.asInstanceOf[ArrayType].elementType == ByteType,
      s"dialect-quantized column is ${out.schema("Q").dataType}, not byte")
    // and the int8 distance builtins consume it without widening
    val d = e.run("?qv(Id, Q), D = dot_int8(Q, Q)").last
    assert(d.count() == 2)
  }

  test("partitionBy(cell) layout round-trips and prunes") {
    val cent = Similarity.kmeansCentroids(emb, k = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivf_layout").toString
    Similarity.ivfAssign(emb, cent).write.mode("overwrite")
      .partitionBy("cell").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == emb.count())
    assert(back.select("cell").distinct().count() <= 4)
    // a single-cell read scans only that partition's files
    val oneCell = back.where(col("cell") === 0)
    assert(oneCell.count() < emb.count())
  }

  test("ivfAppend assigns to nearest stored centroid, is idempotent, and composes") {
    import spark.implicits._
    def vec(xs: Float*): Seq[Float] = xs
    val base = Seq((1L, vec(0f, 0f)), (2L, vec(10f, 10f))).toDF("vec_id", "embedding")
    val cent = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val layout = Similarity.ivfAssign(base, cent)
    val batch = Seq((3L, vec(0.5f, 0.5f)), (4L, vec(9f, 11f))).toDF("vec_id", "embedding")
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val once = Similarity.ivfAppend(layout, batch, cent)
    // nearest-centroid assignment: 3 -> cell 0, 4 -> cell 1
    assert(cells(once) == Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1))
    // idempotent re-ingest
    assert(cells(Similarity.ivfAppend(once, batch, cent)) == cells(once))
    // dedup-keyed: an id already stored keeps its stored row
    val conflict = Seq((1L, vec(10f, 10f))).toDF("vec_id", "embedding")
    assert(cells(Similarity.ivfAppend(once, conflict, cent)) == cells(once))
    // pruned probe over the appended layout: query at the origin with
    // nprobe=1 sees only cell 0's members
    val near = Similarity.ivfTopKFromLayout(once, vec(0.1f, 0.1f), 10, cent, nprobe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(near == Set(1L, 3L))
  }


  test("pca recovers the dominant axis, orders eigenvalues, stays deterministic") {
    import spark.implicits._
    // points spread 10x along (1,1,0)/sqrt2 and 1x along (1,-1,0)/sqrt2,
    // tiny z noise — all deterministic
    val data = (0 until 80).map { i =>
      val a = (i % 17 - 8) * 10.0 / 8
      val b = (i % 7 - 3) * 1.0 / 3
      val z = (i % 5 - 2) * 0.01
      (i.toLong, Seq((a + b).toFloat, (a - b).toFloat, z.toFloat))
    }.toDF("vec_id", "embedding")
    val m = Similarity.pcaTrain(data, nComp = 2)
    val v1 = m.components(0)
    val inv = 1.0 / math.sqrt(2)
    val cosTo11 = math.abs(v1(0) * inv + v1(1) * inv)
    assert(cosTo11 > 0.999, s"first component ${v1.toSeq} not along (1,1,0)")
    assert(m.eigenvalues(0) > m.eigenvalues(1) && m.eigenvalues(1) > 0,
      s"eigenvalues not ordered: ${m.eigenvalues.toSeq}")
    val ortho = math.abs(m.components(0).zip(m.components(1)).map { case (x, y) => x * y }.sum)
    assert(ortho < 1e-6, s"components not orthogonal: $ortho")
    // projection is deterministic across partitionings
    def proj(df: org.apache.spark.sql.DataFrame) =
      Similarity.pcaProjected(df, nComp = 2).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(proj(data) == proj(data.repartition(7)))
  }

}
