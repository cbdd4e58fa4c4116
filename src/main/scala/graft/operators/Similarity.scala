package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{LshFunctions => LF, VectorFunctions => VF}

/** Similarity search over an embedding column (`array<float>`).
  *
  * The reference exposes HNSW k-NN as `hnsw_nearest`/`top_k` predicates
  * (reference `src/hnsw_index.rs`, `src/ir/mod.rs:361-376`). A
  * driver-held graph index is the wrong shape for 100 TB on Spark; the
  * scale path here is:
  *   - brute-force: one scan, partial top-k per partition (TakeOrdered),
  *     no shuffle of vectors — the exact baseline;
  *   - IVF: k-means-lite centroid assignment (deterministic seeded
  *     centroids drawn from the data), probe nprobe nearest cells —
  *     the scan only reads matching cells thanks to partition pruning
  *     when the table is written bucketed by cell;
  *   - LSH: hyperplane buckets, probe home + Hamming-1 buckets.
  */
object Similarity {

  /** Sharded HNSW build — the distributed path for graph-ANN (the
    * driver-held [[graft.index.Hnsw]] mirrors the reference's
    * single-node index and tops out at driver memory): vectors
    * hash-partition by id into `nShards`, each shard builds its own
    * graph EXECUTOR-SIDE inside `mapPartitions`, and what comes back is
    * one serialized-index binary row per shard — a frame that persists
    * to parquet like any other table, so at 100 TB the indexes live in
    * storage and the driver never holds a vector. */
  def hnswShardedIndex(emb: DataFrame, nShards: Int, idCol: String = "vec_id",
                       vecCol: String = "embedding", metric: String = "cosine",
                       m: Int = 16, efConstruction: Int = 200): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long"), col(vecCol))
      .repartition(nShards, col(idCol))
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          // insertion order must not depend on task scheduling: HNSW
          // graphs are insertion-order sensitive, and a deterministic
          // build is what makes the probe reproducible run to run
          val sorted = rows.sortBy(_.getLong(0))
          val dim = sorted.head.getSeq[Float](1).length
          val idx = new graft.index.Hnsw(dim, metric, m, efConstruction)
          sorted.foreach(r => idx.insert(r.getLong(0), r.getSeq[Float](1).toArray))
          val bos = new java.io.ByteArrayOutputStream()
          val oos = new java.io.ObjectOutputStream(bos)
          try oos.writeObject(idx) finally oos.close()
          Iterator.single(bos.toByteArray)
        }
      }.toDF("index_bytes")
  }

  /** Probe every shard of a [[hnswShardedIndex]] frame and merge the
    * per-shard top-k into the global top-k (`orderBy(dist).limit(k)` is
    * TakeOrderedAndProject — only k rows per shard ever move). Recall
    * matches the single-index HNSW at the same efSearch since every
    * shard is searched; wall-clock is the slowest shard, not the sum. */
  def hnswShardedTopK(index: DataFrame, q: Seq[Float], k: Int,
                      efSearch: Int = 64): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val qArr = q.toArray
    index.select(col("index_bytes")).as[Array[Byte]]
      .mapPartitions { it =>
        it.flatMap { bytes =>
          val ois = new java.io.ObjectInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val idx = try ois.readObject().asInstanceOf[graft.index.Hnsw]
                    finally ois.close()
          idx.search(qArr, k, efSearch).iterator
        }
      }.toDF("vec_id", "dist")
      .orderBy(col("dist").asc, col("vec_id").asc).limit(k)
  }

  /** Exact top-k by cosine similarity against one query vector.
    * `orderBy(...).limit(k)` compiles to TakeOrderedAndProject: per-
    * partition heaps then a driver merge — no full sort, no shuffle. */
  def bruteForceTopK(emb: DataFrame, query: Seq[Float], k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = typedLit(query)
    emb.select(col(idCol), VF.cosineSimilarity(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Symmetric per-vector int8 quantization of the embedding column —
    * the stored BYTE layout (reference `VectorInt8`, 75% memory savings,
    * `src/value/mod.rs:57-61`). At 100 TB this is 4× fewer scan bytes;
    * cosine over symmetrically-quantized vectors approximates the float
    * cosine because the per-vector scale cancels in the normalization. */
  def quantizeInt8(emb: DataFrame, vecCol: String = "embedding",
                   outCol: String = "q_emb"): DataFrame =
    emb.withColumn(outCol, VF.quantizeSymmetric(col(vecCol)))

  /** Exact top-k by cosine over BYTE-typed quantized vectors: the scan
    * reads int8 arrays (4× fewer bytes than float), the codegen'd
    * kernels consume ByteType elements directly — no widening cast in
    * the stored column or the plan. Query must be pre-quantized with
    * the same scheme ([[quantizeQueryInt8]]). */
  def bruteForceTopKInt8(embQ: DataFrame, queryQ: Seq[Byte], k: Int,
                         idCol: String = "vec_id", vecCol: String = "q_emb"): DataFrame = {
    val q = typedLit(queryQ)
    embQ.select(col(idCol), VF.cosineSimilarity(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Driver-side symmetric int8 quantization of a query vector — the
    * exact arithmetic [[graft.functions.VectorFunctions.quantizeSymmetric]]
    * applies per row (HALF_UP ties like Spark's and DuckDB's `round`). */
  def quantizeQueryInt8(query: Seq[Float]): Seq[Byte] = {
    val maxAbs = if (query.isEmpty) 0.0 else query.iterator.map(x => math.abs(x.toDouble)).max
    val scale = if (maxAbs == 0.0) 1.0 else maxAbs / 127.0
    query.map(x => BigDecimal(x.toDouble / scale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toByte)
  }

  /** Random-projection dimensionality reduction (Johnson-Lindenstrauss):
    * project each embedding onto `k` deterministic seeded Gaussian
    * hyperplanes ([[LF.hyperplanes]] — the family LSH bucketing already
    * uses), one output column `d0..d{k-1}` per target dimension. The
    * standard pre-pass before clustering / LSH / near-dup over very
    * high-dimensional embeddings: distances are preserved within
    * 1±ε while scan bytes shrink dim/k ×.
    *
    * Map-only: the k×dim plane matrix is a driver-side literal baked
    * into the plan (k·dim ≤ a few thousand doubles at any realistic
    * setting), each projection one codegen'd [[VF.dot]] — no shuffle,
    * no UDF. Values round to 6 dp so the sequential double sums agree
    * bit-for-bit with the DuckDB oracle's `list_inner_product`. */
  def randomProject(emb: DataFrame, dim: Int, k: Int, table: Int = 0,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = LF.hyperplanes(dim, k, table)
    val vd = col(vecCol).cast("array<double>")
    emb.select(col(idCol) +: planes.zipWithIndex.map { case (p, j) =>
      round(VF.dot(vd, typedLit(p.toSeq)), 6).as(s"d$j")
    }: _*)
  }

  /** Exact top-k neighbours for EVERY row of `queries` against `emb`
    * (k-NN join) — broadcast the smaller query side, window top-k. */
  def knnJoin(emb: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    val joined = emb.crossJoin(broadcast(queries))
      .select(col(qIdCol), col(idCol),
        VF.cosineSimilarity(col(vecCol), col(qVecCol)).as("cosine"))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cosine").desc, col(idCol).asc)
    joined.withColumn("rank", row_number().over(w)).where(col("rank") <= k).drop("rank")
  }

  /** Margin-based BITEXT MINING (Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix parallel-corpus miner): for every vector of `a`
    * (one language side), its best `b` candidate under the RATIO
    * margin
    *   margin(x,y) = cos(x,y) / ((avgcos_k(x→B) + avgcos_k(y→A)) / 2),
    * kept when margin ≥ `tau`. The margin normalizes each cosine by
    * the two directions' k-NN neighborhood densities, which is what
    * separates true translation pairs from hubs — raw cosine
    * thresholds famously fail on hub vectors that are near everything.
    *
    * Returns (a_id, b_id, cos6, margin6) — one row per mined a-side
    * vector, scores rounded to 6 dp.
    *
    * Scale shape: ONE cosine pair table feeds everything — the
    * candidate lists AND both denominator averages are per-side top-k
    * windows over the same pairs, so pair scoring (the expensive part)
    * is paid once and margins touch only candidate rows. Pair
    * generation is SIZE-GATED: a b-side of at most `broadcastCap` rows
    * (a cap-probe, the HNSW capacity-guard pattern — never a full
    * count) takes the broadcast cross-join; above the cap the
    * generator — not the margin algebra — swaps for the
    * IVF-cell-blocked equi-join ([[marginMiningBlocked]]: train
    * centroids on b, assign both sides, equi-join on cell with
    * per-a-row nprobe cell expansion) exactly as production miners
    * shard by LSH/IVF bucket. A full second-language corpus never
    * broadcasts. */
  def marginMining(a: DataFrame, b: DataFrame, k: Int = 4, tau: Double = 1.0,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   broadcastCap: Long = 100000L, nCells: Int = 32,
                   nprobe: Int = 8): DataFrame = {
    require(k >= 1, "need k >= 1 neighbours for the margin denominator")
    val capProbe = math.min(broadcastCap + 1, Int.MaxValue.toLong).toInt
    if (blockLocalOk(a, idCol, vecCol) && blockLocalOk(b, idCol, vecCol)) {
      // r16: the cap probe IS the b-side collect — limit(cap+1) stays a
      // bounded single job, and an under-cap b never builds a separate
      // BroadcastExchange (the block-local generator ships the collected
      // rows once as a task broadcast)
      val bRows = b.select(col(idCol), col(vecCol)).limit(capProbe).collect()
      if (bRows.length > broadcastCap) {
        val cent = kmeansCentroids(b, math.max(2, nCells), iters = 2, idCol, vecCol)
        return marginMiningBlocked(a, b, cent, nprobe, k, tau, idCol, vecCol)
      }
      return marginFromTopK(
        topKScoreAgainstBlock(a, bRows, k, idCol, vecCol).localCheckpoint(true),
        k, tau)
    }
    val bOverCap = b.select(col(idCol)).limit(capProbe).count() > broadcastCap
    if (bOverCap) {
      val cent = kmeansCentroids(b, math.max(2, nCells), iters = 2, idCol, vecCol)
      return marginMiningBlocked(a, b, cent, nprobe, k, tau, idCol, vecCol)
    }
    val pa = a.select(col(idCol).as("a_id"), col(vecCol).as("av"),
      VF.norm(col(vecCol)).as("na"))
    val pb = b.select(col(idCol).as("b_id"), col(vecCol).as("bv"),
      VF.norm(col(vecCol)).as("nb"))
    val pairs = pa.crossJoin(broadcast(pb))
      .select(col("a_id"), col("b_id"),
        pairCos(col("av"), col("bv"), col("na"), col("nb")).as("cos"))
    marginFromPairs(pairs, k, tau)
  }

  // ── r16 block-local pair scoring ──────────────────────────────────────
  // The pair table used to be generated THREE times per mined side: the
  // margin algebra consumes it once per rank window (a-side, b-side) and
  // once more for the candidate list, and Catalyst shares none of those
  // subtrees — the physical plan carried three BroadcastNestedLoopJoin
  // scans (plans/r15/q181_bitext_margin_after.txt), so the |a|×|b| cosine
  // work was paid three times and every emitted pair row copied both
  // vectors. Now ONE pass scores each a-row against the whole b block in
  // a compiled loop and emits ONLY the per-side top-k candidate rows
  // (a-side complete per row since the whole b block is local; b-side as
  // per-partition partials merged by one small window), materialized
  // once — (a_id, b_id, cos) rows, never a joined vector row. Guide §1.2
  // ("the distributed algorithm": don't compute things three times),
  // §2.3 (shuffle/score slim rows, not payloads), §3 (broadcast shape).

  /** Fast path applies to long ids + float-array vectors (every caller
    * in the catalog; anything else keeps the generic Catalyst path). */
  private def blockLocalOk(df: DataFrame, idCol: String, vecCol: String): Boolean =
    df.schema(idCol).dataType == org.apache.spark.sql.types.LongType &&
      (df.schema(vecCol).dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => true
        case _ => false
      })

  /** `ORDER BY cos DESC, partner ASC` over nullable doubles, exactly as
    * Spark's window sort orders them: DESC puts NULL cos last, NaN
    * greatest among non-null (before +Inf), -0.0 == 0.0; ties break to
    * the ascending partner id with NULL id first (ASC NULLS FIRST).
    * Returns true when (c1, p1) sorts strictly before (c2, p2). */
  private def candBefore(c1: java.lang.Double, p1: java.lang.Long,
                         c2: java.lang.Double, p2: java.lang.Long): Boolean = {
    val byCos =
      if (c1 == null && c2 == null) 0
      else if (c1 == null) -1 // NULL cos sorts last under DESC
      else if (c2 == null) 1
      else graft.plans.SparkValues.compare(c1.doubleValue(), c2.doubleValue())
    if (byCos != 0) byCos > 0
    else if (p1 == null) p2 != null // ASC NULLS FIRST on the partner id
    else if (p2 == null) false
    else p1.longValue() < p2.longValue()
  }

  /** Bounded top-k buffer under [[candBefore]] — insertion sort; k is
    * the margin k (tiny). */
  private final class TopKBuf(k: Int) {
    val cos = new Array[java.lang.Double](k)
    val id = new Array[java.lang.Long](k)
    var n = 0
    def offer(c: java.lang.Double, p: java.lang.Long): Unit = {
      if (n == k && !candBefore(c, p, cos(n - 1), id(n - 1))) return
      var i = if (n < k) n else k - 1
      while (i > 0 && candBefore(c, p, cos(i - 1), id(i - 1))) {
        cos(i) = cos(i - 1); id(i) = id(i - 1); i -= 1
      }
      cos(i) = c; id(i) = p
      if (n < k) n += 1
    }
  }

  /** (vector as doubles or null, norm or null) from a Row's float-array
    * column — the identical arithmetic of `VF.norm` (Σ x² in index
    * order, then the correctly-rounded sqrt); a null array or any null
    * element nulls both, matching the kernels' null contract. */
  private def rowVecNorm(r: org.apache.spark.sql.Row, i: Int): (Array[Double], java.lang.Double) = {
    if (r.isNullAt(i)) return (null, null)
    val s = r.getSeq[Any](i)
    val n = s.length
    val arr = new Array[Double](n)
    var j = 0
    while (j < n) {
      val e = s(j)
      if (e == null) return (null, null)
      arr(j) = e.asInstanceOf[Float].toDouble
      j += 1
    }
    var ns = 0.0
    j = 0
    while (j < n) { ns += arr(j) * arr(j); j += 1 }
    (arr, java.lang.Double.valueOf(math.sqrt(ns)))
  }

  /** cosine with the exact [[pairCos]] semantics over pre-read arrays:
    * `when(na*nb === 0, 0) otherwise dot/(na*nb)` — the zero-denominator
    * shortcut fires BEFORE any length/null check (two zero vectors of
    * different lengths score 0, exactly as the column form), a null norm
    * or length mismatch yields null, and the dot folds in index order. */
  private def cosOf(av: Array[Double], na: java.lang.Double,
                    bv: Array[Double], nb: java.lang.Double): java.lang.Double = {
    if (na != null && nb != null && na.doubleValue() * nb.doubleValue() == 0.0)
      return java.lang.Double.valueOf(0.0)
    if (na == null || nb == null) return null
    if (av.length != bv.length) return null
    var dot = 0.0
    var i = 0
    while (i < av.length) { dot += av(i) * bv(i); i += 1 }
    java.lang.Double.valueOf(dot / (na.doubleValue() * nb.doubleValue()))
  }

  private val topKSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("kind",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("a_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("b_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("cos",
      org.apache.spark.sql.types.DoubleType, nullable = true)))

  /** ONE pass over `a` scoring each row against the whole collected b
    * block: emits kind-0 rows (the a-row's COMPLETE top-k — every b is
    * local) and kind-1 rows (per-partition partial top-k per b, merged
    * exactly by the small final window in [[marginFromTopK]]). The b
    * block rides a task broadcast once per executor; pair rows carry
    * (a_id, b_id, cos) only. */
  private def topKScoreAgainstBlock(a: DataFrame, bRows: Array[org.apache.spark.sql.Row],
                                    k: Int, idCol: String, vecCol: String): DataFrame = {
    val spark = a.sparkSession
    val nB = bRows.length
    val bIds = new Array[java.lang.Long](nB)
    val bVecs = new Array[Array[Double]](nB)
    val bNorms = new Array[java.lang.Double](nB)
    var j = 0
    while (j < nB) {
      val r = bRows(j)
      bIds(j) = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
      val (v, nm) = rowVecNorm(r, 1)
      bVecs(j) = v; bNorms(j) = nm
      j += 1
    }
    val bc = spark.sparkContext.broadcast((bIds, bVecs, bNorms))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(topKSchema)
    a.select(col(idCol), col(vecCol)).mapPartitions { it =>
      val (ids, vecs, norms) = bc.value
      val m = ids.length
      val bTop = new Array[TopKBuf](m)
      val aSide = it.flatMap { r =>
        val aId: java.lang.Long =
          if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
        val (av, na) = rowVecNorm(r, 1)
        val heap = new TopKBuf(k)
        var i = 0
        while (i < m) {
          val c = cosOf(av, na, vecs(i), norms(i))
          heap.offer(c, ids(i))
          var bt = bTop(i)
          if (bt == null) { bt = new TopKBuf(k); bTop(i) = bt }
          bt.offer(c, aId)
          i += 1
        }
        (0 until heap.n).iterator.map(x =>
          org.apache.spark.sql.Row(0, aId, heap.id(x), heap.cos(x)))
      }
      aSide ++ (0 until m).iterator.flatMap { i =>
        val bt = bTop(i)
        if (bt == null) Iterator.empty
        else (0 until bt.n).iterator.map(x =>
          org.apache.spark.sql.Row(1, bt.id(x), ids(i), bt.cos(x)))
      }
    }
  }

  /** Per-partition partial top-k on BOTH sides of an already-scored
    * (a_id, b_id, cos) pair frame — the blocked generator's one-pass
    * consumption: each task keeps k per a_id and k per b_id of its rows,
    * the final windows in [[marginFromTopK]] merge the partials exactly
    * (the order is a strict total order, so per-partition top-k loses
    * nothing the global top-k keeps). */
  private def topKBothSides(pairs: DataFrame, k: Int): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(topKSchema)
    pairs.select(col("a_id"), col("b_id"), col("cos")).mapPartitions { it =>
      val aTop = new java.util.HashMap[java.lang.Long, TopKBuf]()
      val bTop = new java.util.HashMap[java.lang.Long, TopKBuf]()
      it.foreach { r =>
        val aId: java.lang.Long =
          if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
        val bId: java.lang.Long =
          if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
        val c: java.lang.Double =
          if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
        var at = aTop.get(aId)
        if (at == null) { at = new TopKBuf(k); aTop.put(aId, at) }
        at.offer(c, bId)
        var bt = bTop.get(bId)
        if (bt == null) { bt = new TopKBuf(k); bTop.put(bId, bt) }
        bt.offer(c, aId)
      }
      import scala.jdk.CollectionConverters._
      aTop.entrySet().iterator().asScala.flatMap { e =>
        val t = e.getValue
        (0 until t.n).iterator.map(x =>
          org.apache.spark.sql.Row(0, e.getKey, t.id(x), t.cos(x)))
      } ++ bTop.entrySet().iterator().asScala.flatMap { e =>
        val t = e.getValue
        (0 until t.n).iterator.map(x =>
          org.apache.spark.sql.Row(1, t.id(x), e.getKey, t.cos(x)))
      }
    }
  }

  /** The margin algebra over a MATERIALIZED (kind, a_id, b_id, cos)
    * candidate frame: final per-side top-k windows (exact merges of the
    * generators' partials — tiny inputs, k rows per key per partition),
    * then the identical denominator averages, margin, best-per-a filter
    * and 6-dp rounding of [[marginFromPairs]]. */
  private def marginFromTopK(ranked: DataFrame, k: Int, tau: Double): DataFrame = {
    val wa = Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id").asc)
    val wb = Window.partitionBy("b_id").orderBy(col("cos").desc, col("a_id").asc)
    val rankedA = ranked.where(col("kind") === 0).drop("kind")
      .withColumn("ra", row_number().over(wa)).where(col("ra") <= k)
    val rankedB = ranked.where(col("kind") === 1).drop("kind")
      .withColumn("rb", row_number().over(wb)).where(col("rb") <= k)
    val da = rankedA.groupBy("a_id").agg(avg("cos").as("da"))
    val db = rankedB.groupBy("b_id").agg(avg("cos").as("db"))
    val cand = rankedA
      .join(da, Seq("a_id")).join(db, Seq("b_id"))
      .withColumn("margin", col("cos") / ((col("da") + col("db")) / 2))
    val wBest = Window.partitionBy("a_id").orderBy(col("margin").desc, col("b_id").asc)
    cand.withColumn("__rk", row_number().over(wBest))
      .where(col("__rk") === 1 && col("margin") >= tau)
      .select(col("a_id"), col("b_id"),
        round(col("cos"), 6).as("cos6"), round(col("margin"), 6).as("margin6"))
  }

  /** cosine(a, b) with each side's norm HOISTED to one evaluation per
    * input row instead of one per PAIR — `na`/`nb` must be
    * `VF.norm(vec)` projected before the join. Bit-identical to
    * [[VF.cosineSimilarity]]: same `norm(a) * norm(b)` product (the
    * norms are the same doubles, computed from the same arrays), same
    * zero-denominator guard, same dot/den division — only WHERE the
    * norms are computed moves. On a |a|×|b| pair table this removes
    * 2 of the 3 array traversals per pair (SimilaritySpec pins
    * equality). */
  private[operators] def pairCos(av: Column, bv: Column, na: Column, nb: Column): Column = {
    val den = na * nb
    when(den === 0.0, lit(0.0)).otherwise(VF.dot(av, bv) / den)
  }

  /** The margin algebra over a scored candidate pair table
    * (a_id, b_id, cos) — the GENERIC fallback (non-long ids or non-float
    * vectors); the catalog paths ride the r16 block-local top-k
    * generators + [[marginFromTopK]], which rank identically. */
  private def marginFromPairs(pairs: DataFrame, k: Int, tau: Double): DataFrame = {
    val wa = Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id").asc)
    val wb = Window.partitionBy("b_id").orderBy(col("cos").desc, col("a_id").asc)
    // One rank-filtered branch per side, the filter DIRECTLY on that
    // side's row_number, so InferWindowGroupLimit inserts a
    // per-partition partial top-k BEFORE each exchange. (r15 note,
    // corrected per the committed plans: Catalyst split the earlier
    // single `ra <= k || rb <= k` chain into the same per-branch
    // rank-filtered windows on its own — both forms plan
    // WindowGroupLimit(Partial) under both exchanges,
    // plans/r15/q181_bitext_margin_{before,after}.txt — the explicit
    // two-branch form just guarantees that shape without relying on
    // cross-branch filter pruning.) row_number over (cos desc, id asc)
    // is a deterministic total order per group, so each side's top-k
    // row set is unchanged either way.
    val rankedA = pairs.withColumn("ra", row_number().over(wa)).where(col("ra") <= k)
    val rankedB = pairs.withColumn("rb", row_number().over(wb)).where(col("rb") <= k)
    val da = rankedA.groupBy("a_id").agg(avg("cos").as("da"))
    val db = rankedB.groupBy("b_id").agg(avg("cos").as("db"))
    val cand = rankedA // forward mining: a's k-NN list
      .join(da, Seq("a_id")).join(db, Seq("b_id"))
      .withColumn("margin", col("cos") / ((col("da") + col("db")) / 2))
    val wBest = Window.partitionBy("a_id").orderBy(col("margin").desc, col("b_id").asc)
    cand.withColumn("__rk", row_number().over(wBest))
      .where(col("__rk") === 1 && col("margin") >= tau)
      .select(col("a_id"), col("b_id"),
        round(col("cos"), 6).as("cos6"), round(col("margin"), 6).as("margin6"))
  }

  /** The query's `nprobe` best cells as a per-ROW column expression —
    * the distributed twin of the driver-side [[probeCells]]: same
    * metric (min ‖v−c‖² = max (v·c − ‖c‖²/2)), same tie-break (lowest
    * cell index). Codegen'd dot kernels against plan-literal
    * centroids; `array_sort` over (negScore, cell) structs orders best
    * first with ties to the smaller cell. */
  private def probeCellsCol(v: Column, centroids: Array[Array[Double]],
                            nprobe: Int): Column = {
    import graft.functions.{VectorKernels => VK}
    val np = math.min(math.max(nprobe, 1), centroids.length)
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val halfSqNorm = c.map(x => x * x).sum / 2.0
      struct((lit(halfSqNorm) - VK.dot(v, typedLit(c.toSeq))).as("negScore"),
        lit(i).as("cell"))
    }
    transform(slice(array_sort(array(scored: _*)), 1, np),
      s => s.getField("cell"))
  }

  /** IVF-CELL-BLOCKED pair generation for [[marginMining]] — the
    * above-the-gate path, the shape production miners (CCMatrix-style)
    * actually run when both language sides are full corpus slices:
    * b assigns to its nearest centroid ([[ivfAssign]] — one map-only
    * pass, at 100 TB a stored `partitionBy("cell")` layout); each
    * a-row expands to its `nprobe` best cells ([[probeCellsCol]],
    * codegen'd) and the candidate pairs come from ONE equi-join on
    * `cell` — a hash-partitioned shuffle, never a broadcast of either
    * corpus. Each b lives in exactly one cell and a's probe list is
    * distinct cells, so no pair is generated twice and no dedup pass
    * is needed. The margin algebra downstream is [[marginFromPairs]],
    * byte-identical to the broadcast path's.
    *
    * Recall: approximate for nprobe < nCells (pairs split across
    * unprobed cells are unseen — the standard IVF trade); with
    * `nprobe = centroids.length` every (a,b) pair is generated exactly
    * once and the result EQUALS the broadcast [[marginMining]] — the
    * oracle anchor for the generator machinery. */
  def marginMiningBlocked(a: DataFrame, b: DataFrame,
                          centroids: Array[Array[Double]], nprobe: Int,
                          k: Int = 4, tau: Double = 1.0,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "need k >= 1 neighbours for the margin denominator")
    val pb = ivfAssign(
      b.select(col(idCol).as("b_id"), col(vecCol).as("bv"),
        VF.norm(col(vecCol)).as("nb")), centroids, "bv")
    val pa = a.select(col(idCol).as("a_id"), col(vecCol).as("av"),
      VF.norm(col(vecCol)).as("na"))
      .withColumn("cell", explode(probeCellsCol(col("av"), centroids, nprobe)))
    val pairs = pa.join(pb, Seq("cell"))
      .select(col("a_id"), col("b_id"),
        pairCos(col("av"), col("bv"), col("na"), col("nb")).as("cos"))
    // r16: consume the equi-join ONCE — per-partition two-sided partial
    // top-k, materialized small, merged by the final windows — instead
    // of re-running the join + cosine scan for each of the margin
    // algebra's three consumers (see the block-local notes above)
    if (blockLocalOk(a, idCol, vecCol) && blockLocalOk(b, idCol, vecCol))
      marginFromTopK(topKBothSides(pairs, k).localCheckpoint(true), k, tau)
    else marginFromPairs(pairs, k, tau)
  }

  /** MEASURED-RECALL REPORT for the blocked bitext miner (the q175
    * eval-report pattern): mines with [[marginMiningBlocked]] at each
    * production `nprobe` against the EXACT broadcast [[marginMining]]
    * ground truth on the same (bounded) slice, and reports one row per
    * nprobe — (nprobe, true_pairs, mined_pairs, matched_pairs,
    * precision_micro, recall_micro), the ratios floor-scaled to integer
    * micro-units so every engine lands on identical digits. `centroids`
    * are caller-supplied and DETERMINISTIC (e.g. the first nCells
    * b-vectors by id) so an external oracle can replay the cell
    * arithmetic — the k-means path stays for production mining, where
    * recall is better but the centroids are float-iteration artifacts
    * no external engine reproduces bit-exactly.
    *
    * Scale shape: the truth side is the report's cost and is run ONCE
    * on the bounded slice; each probed variant is the production
    * equi-join generator. Counts are scalar aggregates (three jobs per
    * nprobe), never a row collect. */
  def marginMiningRecallReport(a: DataFrame, b: DataFrame,
                               centroids: Array[Array[Double]],
                               nprobes: Seq[Int], k: Int = 4,
                               tau: Double = 1.0,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    val spark = a.sparkSession
    // r16: the exact truth side rides the same block-local generator as
    // the under-cap miner (the truth slice is bounded by the report's
    // contract) — one scored pass instead of three cross-join scans
    val truthMined: DataFrame =
      if (blockLocalOk(a, idCol, vecCol) && blockLocalOk(b, idCol, vecCol)) {
        val bRows = b.select(col(idCol), col(vecCol)).collect()
        marginFromTopK(
          topKScoreAgainstBlock(a, bRows, k, idCol, vecCol).localCheckpoint(true),
          k, tau)
      } else {
        val pa = a.select(col(idCol).as("a_id"), col(vecCol).as("av"),
          VF.norm(col(vecCol)).as("na"))
        val pb = b.select(col(idCol).as("b_id"), col(vecCol).as("bv"),
          VF.norm(col(vecCol)).as("nb"))
        marginFromPairs(pa.crossJoin(broadcast(pb))
          .select(col("a_id"), col("b_id"),
            pairCos(col("av"), col("bv"), col("na"), col("nb")).as("cos")), k, tau)
      }
    val truthM = graft.plans.Fixpoint.materialize(truthMined.select("a_id", "b_id"))
    val truth = truthM.df
    val truthN = truthM.count
    def micro(num: Long, den: Long): Long =
      if (den == 0L) 0L else num * 1000000L / den
    // r15: every probed variant counts in ONE aggregated action — the
    // variants union under an `np` key, match-against-truth is a
    // broadcast left join (truth is the report's bounded slice by
    // contract) and mined/matched are one grouped count. The previous
    // shape ran 3 jobs per nprobe (materialize, count, semi-join count)
    // plus a checkpoint each; mined rows were only ever counted, so
    // materializing them bought nothing.
    val minedAll = nprobes.map { np =>
      marginMiningBlocked(a, b, centroids, np, k, tau, idCol, vecCol)
        .select(lit(np.toLong).as("np"), col("a_id"), col("b_id"))
    }.reduce(_ union _)
    val counts = minedAll
      .join(broadcast(truth.withColumn("__t", lit(1L))), Seq("a_id", "b_id"), "left")
      .groupBy("np")
      .agg(count(lit(1)).as("mined"),
        coalesce(sum(col("__t")), lit(0L)).as("matched"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val rows = nprobes.map { np =>
      val (minedN, matched) = counts.getOrElse(np.toLong, (0L, 0L))
      org.apache.spark.sql.Row(np.toLong, truthN, minedN, matched,
        micro(matched, minedN), micro(matched, truthN))
    }
    graft.plans.Graveyard.buryAndDrain(graft.plans.Fixpoint.checkpointRddOf(truth))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      "nprobe", "true_pairs", "mined_pairs", "matched_pairs",
      "precision_micro", "recall_micro").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** SEMANTIC decontamination — the embedding-space twin of the
    * text-overlap benchmark filters ([[Dedup.decontaminateBloom]],
    * q120/q136): flag corpus vectors whose best cosine against ANY
    * benchmark vector reaches `tau` (paraphrased eval leakage that
    * n-gram overlap misses). Returns (idCol, bench_id, cos6) — one row
    * per flagged corpus vector with its strongest benchmark match
    * (ties to the smaller benchmark id); dropping them is one
    * anti-join for the caller.
    *
    * Scale shape: the benchmark side is SMALL by nature (eval suites,
    * not corpora) — it broadcasts, the corpus side is ONE scan, and
    * the per-row argmax partial-aggregates map-side (max of a
    * (cos, -bench_id) struct), so the only shuffle carries one slim
    * row per SCORED corpus vector. No corpus-side explode survives
    * the exchange. */
  def semanticDecontamination(corpus: DataFrame, bench: DataFrame,
                              tau: Double,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv"),
      VF.norm(col(vecCol)).as("__cn"))
    val b = bench.select(col(idCol).as("__bid"), col(vecCol).as("__bv"),
      VF.norm(col(vecCol)).as("__bn"))
    c.crossJoin(broadcast(b))
      .select(col("__cid"),
        struct(pairCos(col("__cv"), col("__bv"), col("__cn"), col("__bn")).as("cos"),
          (col("__bid") * -1).as("nb")).as("s"))
      .groupBy("__cid").agg(max(col("s")).as("m"))
      .where(col("m.cos") >= tau)
      .select(col("__cid").as(idCol), (col("m.nb") * -1).as("bench_id"),
        round(col("m.cos"), 6).as("cos6"))
  }

  /** IVF cell id for every vector: nearest of `nCells` deterministic
    * seeded centroids (sampled data points at scale; here seeded Gaussian
    * directions which is equivalent for bucketing purposes). */
  def ivfCell(v: Column, dim: Int, nCells: Int, seed: Long = 0xCE11L): Column = {
    val centroids = LF.hyperplanes(dim, nCells, table = 0, seed = seed)
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(VF.dot(v, typedLit(c.toSeq)).as("score"), lit(i).as("cell"))
    }
    greatest(scored: _*).getField("cell")
  }

  /** IVF top-k: restrict the exact search to the query's `nprobe` best
    * cells. Returns the same schema as [[bruteForceTopK]]; recall < 1.0
    * by construction, cost ≈ nprobe/nCells of the brute-force scan. */
  def ivfTopK(emb: DataFrame, query: Seq[Float], k: Int, dim: Int,
              nCells: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              seed: Long = 0xCE11L): DataFrame = {
    val centroids = LF.hyperplanes(dim, nCells, table = 0, seed = seed)
    def dotQ(c: Array[Double]): Double =
      query.zip(c).map { case (x, y) => x.toDouble * y }.sum
    val probeCells = centroids.zipWithIndex
      .sortBy { case (c, _) => -dotQ(c) }.take(nprobe).map(_._2)
    val probed = emb.where(ivfCell(col(vecCol), dim, nCells, seed).isin(probeCells: _*))
    bruteForceTopK(probed, query, k, idCol, vecCol)
  }

  /** LSH-bucketed approximate top-k against one query: candidates =
    * rows whose bucket in ANY table falls in that table's multi-probe
    * set (home + Hamming-1 flips). A pure OR-of-filters over the scan —
    * no explode, no distinct, one codegen'd pass; identical candidate
    * set to the explode + (table,bucket)-join formulation it replaces. */
  def lshTopK(emb: DataFrame, query: Seq[Float], k: Int, dim: Int,
              nTables: Int = 4, nPlanes: Int = 12,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Query buckets computed driver-side (same deterministic planes).
    val cond = (0 until nTables).map { t =>
      val probes: Seq[Any] = queryProbes(query, dim, t, nPlanes)
      LF.lshBucket(col(vecCol), dim, t, nPlanes).isin(probes: _*)
    }.reduce(_ || _)
    bruteForceTopK(emb.where(cond), query, k, idCol, vecCol)
  }

  /** [[lshTopK]] with EVERY bucket of every table in the probe set: the
    * candidate set is then the whole table and the result must EQUAL
    * [[bruteForceTopK]] — an oracle on the bucket computation itself
    * (each row's bucket must land in [0, 2^nPlanes); the per-row
    * expressions still run, unlike simply dropping the filter). */
  def lshTopKAllProbes(emb: DataFrame, query: Seq[Float], k: Int, dim: Int,
                       nTables: Int = 4, nPlanes: Int = 12,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val all: Seq[Any] = 0 until (1 << nPlanes)
    val cond = (0 until nTables).map { t =>
      LF.lshBucket(col(vecCol), dim, t, nPlanes).isin(all: _*)
    }.reduce(_ || _)
    bruteForceTopK(emb.where(cond), query, k, idCol, vecCol)
  }

  /** Probe buckets of `query` in `table` out to Hamming distance
    * `radius` (home + all ≤radius-bit flips), computed driver-side with
    * the same deterministic planes. */
  private def queryProbes(query: Seq[Float], dim: Int, table: Int,
                          nPlanes: Int, radius: Int = 1): Seq[Int] = {
    val planes = LF.hyperplanes(dim, nPlanes, table)
    val home = planes.zipWithIndex.map { case (p, i) =>
      val dp = query.zip(p).map { case (x, y) => x.toDouble * y }.sum
      if (dp > 0) 1 << i else 0
    }.sum
    val out = scala.collection.mutable.LinkedHashSet(home)
    (1 to radius).foreach { _ =>
      out.toSeq.foreach(b => (0 until nPlanes).foreach(i => out += (b ^ (1 << i))))
    }
    out.toSeq
  }

  /** Bucket-assignment column for writing an LSH-partitioned layout
    * (mirror of [[ivfAssign]]):
    * `lshAssign(emb, dim).write.partitionBy("bucket").parquet(path)`.
    * One table: at write time a row can live in only one partition;
    * recall comes from multi-probing (Hamming radius), not from
    * OR-amplification across tables. */
  def lshAssign(emb: DataFrame, dim: Int, nPlanes: Int = 6,
                table: Int = 0, vecCol: String = "embedding"): DataFrame =
    emb.withColumn("bucket", LF.lshBucket(col(vecCol), dim, table, nPlanes))

  /** Probe of an [[lshAssign]]-partitioned layout: filters on the STORED
    * bucket column, so a `partitionBy("bucket")` parquet layout prunes to
    * the probe buckets at scan time — the scan reads
    * ~(nPlanes+1)/2^nPlanes of the table instead of evaluating
    * hyperplane dots over every row (the round-3 filter-scan shape did
    * MORE per-row work than brute force; this does none for unprobed
    * rows, and `allProbes=true` turns the same code path into an exact
    * scan for oracle anchoring). */
  def lshTopKBucketed(layout: DataFrame, query: Seq[Float], k: Int, dim: Int,
                      nPlanes: Int = 6, table: Int = 0, radius: Int = 2,
                      allProbes: Boolean = false,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes: Seq[Any] =
      if (allProbes) 0 until (1 << nPlanes)
      else queryProbes(query, dim, table, nPlanes, radius)
    bruteForceTopK(layout.where(col("bucket").isin(probes: _*)),
      query, k, idCol, vecCol)
  }

  /** Deterministic k-means centroids for IVF (Lloyd iterations over the
    * data — the real "train the coarse quantizer" step; the seeded-
    * Gaussian [[ivfCell]] is the train-free fallback). Init = the k rows
    * with the smallest `xxhash64(id, seed)` (a deterministic pseudo-
    * random sample, reproducible across runs and executors); each
    * iteration assigns every vector to its best centroid with the
    * codegen'd dot kernel and recomputes element-wise means via
    * posexplode + groupBy(cell, pos) — ONE aggregation job per
    * iteration, shuffling (cell, pos, sum) triples, never the vectors.
    * Centroids (k × dim doubles) live on the driver — broadcast scale. */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int = 5,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      seed: Long = 0x5EEDL): Array[Array[Double]] = {
    val init = emb
      .select(col(idCol), col(vecCol))
      .withColumn("__h", xxhash64(col(idCol), lit(seed)))
      .orderBy(col("__h"), col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    var cent = init
    var it = 0
    while (it < iters) {
      val assigned = emb.select(
        bestCell(col(vecCol), cent).as("cell"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      val means = assigned.groupBy("cell", "pos").agg(avg(col("x")).as("m"))
        .collect()
      val next = cent.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cent = next
      it += 1
    }
    cent
  }

  /** Nearest (min squared-Euclidean) centroid index for a vector —
    * the single O(1)-plan-size [[graft.functions.VectorKernels.BestCell]]
    * kernel (the old per-centroid greatest-of-structs form made every
    * probe plan O(cells·dim) tree nodes and re-paid analysis+codegen
    * on it). Ties break to the LOWEST cell index. */
  private def bestCell(v: Column, centroids: Array[Array[Double]]): Column =
    if (centroids.length == 1) lit(0)
    else graft.functions.VectorKernels.bestCell(v, centroids)

  /** IVF with TRAINED centroids: restrict the exact search to the
    * query's `nprobe` best cells. With `nprobe = centroids.length` the
    * candidate set is the whole table and the result EQUALS
    * [[bruteForceTopK]] — the oracle anchor for the assignment + probe
    * machinery; smaller nprobe trades recall for a proportional scan
    * cut. At 100 TB the table is written `partitionBy("cell")`
    * ([[ivfAssign]]) so probing reads only matching partitions. */
  def ivfTopKTrained(emb: DataFrame, query: Seq[Float], k: Int,
                     centroids: Array[Array[Double]], nprobe: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = probeCells(query, centroids, nprobe)
    val probed =
      if (probes.length == centroids.length) emb
      else emb.where(bestCell(col(vecCol), centroids).isin(probes: _*))
    bruteForceTopK(probed, query, k, idCol, vecCol)
  }

  /** Cell-pruned candidate frame for a trained-IVF probe — the pruning
    * half of [[ivfTopKTrained]], exposed for metric-generic consumers
    * (the catalog's over-capacity `hnsw_nearest` fallback ranks these
    * candidates under the index's own metric). `nprobe >= nCells` keeps
    * the whole frame (exact anchor). */
  def ivfProbeCandidates(emb: DataFrame, query: Seq[Float],
                         centroids: Array[Array[Double]], nprobe: Int,
                         vecCol: String = "embedding"): DataFrame = {
    val probes = probeCells(query, centroids, nprobe)
    if (probes.length == centroids.length) emb
    else emb.where(bestCell(col(vecCol), centroids).isin(probes.toSeq: _*))
  }

  /** The query's `nprobe` best cells — same metric as [[bestCell]]:
    * min ‖q−c‖² = max (q·c − ‖c‖²/2); ties to the lowest index.
    * `private[graft]`: the catalog's batched over-capacity probe
    * ([[graft.iql.Catalog.hnswSearchBatch]]) reuses the exact selection. */
  private[graft] def probeCells(query: Seq[Float], centroids: Array[Array[Double]],
                                nprobe: Int): Array[Int] = {
    def cellScore(c: Array[Double]): Double =
      query.zip(c).map { case (x, y) => x.toDouble * y }.sum -
        c.map(x => x * x).sum / 2.0
    centroids.zipWithIndex
      .sortBy { case (c, i) => (-cellScore(c), i) }.take(nprobe).map(_._2)
  }

  /** Cell assignment column for writing an IVF-partitioned layout:
    * `ivfAssign(emb, cent).write.partitionBy("cell").parquet(path)` —
    * probes then prune partitions at scan time. */
  def ivfAssign(emb: DataFrame, centroids: Array[Array[Double]],
                vecCol: String = "embedding"): DataFrame =
    emb.withColumn("cell", bestCell(col(vecCol), centroids))

  /** IVF layout UPKEEP — the append half of incremental index
    * maintenance, completing the set with the catalog's maintained HNSW
    * and [[Dedup.appendSignatures]]: new vectors assign to their nearest
    * STORED centroid (no retrain — the production FAISS ingest shape;
    * retraining is a periodic offline job, not an ingest step) and fold
    * into the layout. Idempotent and dedup-keyed like the signature
    * upkeep: ids already present keep their stored row, so re-ingesting
    * a batch is a no-op and successive ingests compose. Map-only assign
    * (codegen'd dot kernels against driver centroids) + ONE id-keyed
    * anti-join. */
  def ivfAppend(layout: DataFrame, newEmb: DataFrame,
                centroids: Array[Array[Double]],
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = ivfAssign(
      newEmb.select(col(idCol), col(vecCol)), centroids, vecCol)
      .join(layout.select(col(idCol)), Seq(idCol), "left_anti")
    layout.select(col(idCol), col(vecCol), col("cell")).unionByName(assigned)
  }

  /** Probe a STORED IVF layout (the (id, vec, cell) table
    * [[ivfAssign]]/[[ivfAppend]] maintain): prune to the query's
    * `nprobe` best cells, exact top-k inside. With `nprobe =
    * centroids.length` the result EQUALS brute force over the layout's
    * rows — the oracle anchor for the append machinery (a dropped or
    * duplicated vector shifts the exact top-k). At scale the layout is
    * `partitionBy("cell")` parquet and the `isin` prunes partitions at
    * the scan. */
  def ivfTopKFromLayout(layout: DataFrame, query: Seq[Float], k: Int,
                        centroids: Array[Array[Double]], nprobe: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val probes = probeCells(query, centroids, nprobe)
    val probed =
      if (probes.length == centroids.length) layout
      else layout.where(col("cell").isin(probes: _*))
    bruteForceTopK(probed, query, k, idCol, vecCol)
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ / ADC): codes = per-subspace nearest
  // codebook centroid; search = one table-lookup sum per row against a
  // query-specific lookup table. At 100 TB the scan reads m bytes per
  // vector instead of dim floats (32× at dim=64, m=8) and the LUT sum
  // is codegen'd arithmetic — the memory-bound ANN path IVF/HNSW
  // can't give when even the float vectors don't fit.
  // ---------------------------------------------------------------------

  /** Seeded PQ codebooks — `m` subspaces × `k` centroids of `dim/m`
    * components from the deterministic hyperplane family. Untrained
    * (data-independent, so the DuckDB oracle bakes the identical
    * literals); [[pqTrainedCodebooks]] is the quality path. */
  def pqSeededCodebooks(dim: Int, m: Int, k: Int,
                        seed: Long = 0x90DEL): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    Array.tabulate(m)(j => LF.hyperplanes(dim / m, k, table = j, seed = seed))
  }

  /** Trained PQ codebooks: an independent k-means per subspace over the
    * sliced vectors (the [[kmeansCentroids]] loop — k·(dim/m) driver
    * state per subspace, assignment/means distributed). */
  def pqTrainedCodebooks(emb: DataFrame, dim: Int, m: Int, k: Int,
                         iters: Int = 3, idCol: String = "vec_id",
                         vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val d = dim / m
    Array.tabulate(m) { j =>
      kmeansCentroids(
        emb.select(col(idCol), slice(col(vecCol), j * d + 1, d).as(vecCol)),
        k, iters, idCol, vecCol)
    }
  }

  /** PQ encoding: one `c{j}` column per subspace holding the index of
    * the nearest centroid (min squared-Euclidean via the same
    * dot − ‖c‖²/2 identity as [[bestCell]]; ties → lowest index).
    * Map-only, all codegen'd kernels. */
  def pqEncode(emb: DataFrame, codebooks: Array[Array[Array[Double]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val d = codebooks(0)(0).length
    val vd = col(vecCol).cast("array<double>")
    emb.select(col(idCol) +: (0 until m).map { j =>
      bestCell(slice(vd, j * d + 1, d), codebooks(j)).as(s"c$j")
    }: _*)
  }

  /** The query's ADC lookup table: lut(j)(c) = ‖q_j − codebook(j)(c)‖²,
    * summed in component order (the DuckDB oracle mirrors the exact
    * double chain). */
  def pqLut(query: Seq[Float], codebooks: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val d = codebooks(0)(0).length
    codebooks.zipWithIndex.map { case (cb, j) =>
      cb.map { c =>
        var s = 0.0
        var i = 0
        while (i < d) {
          val diff = query(j * d + i).toDouble - c(i)
          s += diff * diff
          i += 1
        }
        s
      }
    }
  }

  /** Asymmetric-distance top-k over PQ codes: distance = Σ_j
    * lut(j)(c_j), the LUT baked into the plan as literals — per row m
    * array lookups and adds, then `orderBy.limit`
    * (TakeOrderedAndProject: per-partition heaps, no global sort).
    * `codes` is [[pqEncode]] output (or the stored code table — at
    * scale the float vectors never rescan). */
  def pqAdcTopK(codes: DataFrame, query: Seq[Float],
                codebooks: Array[Array[Array[Double]]], k: Int,
                idCol: String = "vec_id"): DataFrame = {
    val lut = pqLut(query, codebooks)
    val dist = lut.zipWithIndex.map { case (l, j) =>
      element_at(typedLit(l.toSeq), col(s"c$j") + 1)
    }.reduce(_ + _)
    codes.select(col(idCol), dist.as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** PQ search as production pipelines run it: ADC shortlist, then
    * exact re-rank of the shortlist only. The code scan does the heavy
    * lifting (m bytes/vector); the float vectors are touched for
    * `shortlist` rows via a semi-join — at 100 TB that join is the
    * only thing reading the full-precision store, and it reads
    * `shortlist / N` of it. With `shortlist ≥ N` the result EQUALS
    * exact Euclidean top-k (the oracle anchor for the re-rank path). */
  def pqTopKReranked(emb: DataFrame, codes: DataFrame, query: Seq[Float],
                     codebooks: Array[Array[Array[Double]]], k: Int,
                     shortlist: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val cand = pqAdcTopK(codes, query, codebooks, shortlist, idCol)
      .select(col(idCol))
    val q = typedLit(query)
    emb.join(cand, Seq(idCol), "left_semi")
      .select(col(idCol), VF.euclidean(col(vecCol), q).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-PQ stored layout: (id, cell, c0..c{m−1}) in ONE map-only pass —
    * the composed index production ANN systems actually ship (FAISS
    * IVFPQ): coarse cell for partition pruning, PQ codes for the in-cell
    * scan. Write it `partitionBy("cell")`; at 100 TB a probe then reads
    * `nprobe/nCells` of the table at m bytes per vector — the float
    * store is touched only by the re-rank semi-join. */
  def ivfPqEncode(emb: DataFrame, centroids: Array[Array[Double]],
                  codebooks: Array[Array[Array[Double]]],
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val d = codebooks(0)(0).length
    val vd = col(vecCol).cast("array<double>")
    emb.select(col(idCol) +: bestCell(col(vecCol), centroids).as("cell") +:
      (0 until m).map(j => bestCell(slice(vd, j * d + 1, d), codebooks(j)).as(s"c$j")): _*)
  }

  /** IVF-PQ search: restrict the ADC scan to the query's `nprobe` best
    * cells, then exact re-rank of the `shortlist` ADC winners (semi-join
    * into the float store). With `nprobe = nCells` AND `shortlist ≥ N`
    * both approximations vanish and the result EQUALS exact Euclidean
    * top-k — the oracle anchor; production runs small nprobe + small
    * shortlist and pays neither a full scan nor a float read. */
  def ivfPqTopK(emb: DataFrame, codes: DataFrame, query: Seq[Float],
                centroids: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]], k: Int,
                nprobe: Int, shortlist: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = probeCells(query, centroids, nprobe)
    val probed =
      if (probes.length == centroids.length) codes
      else codes.where(col("cell").isin(probes: _*))
    val cand = pqAdcTopK(probed.drop("cell"), query, codebooks, shortlist, idCol)
      .select(col(idCol))
    val q = typedLit(query)
    emb.join(cand, Seq(idCol), "left_semi")
      .select(col(idCol), VF.euclidean(col(vecCol), q).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Element-wise mean of the embedding column per group — mean pooling
    * (chunk→embed→pool, per-class centroids, source prototypes). Tall
    * output (group, pos, mean): one explode + one partial-aggregated
    * shuffle keyed (group, pos) — the k-means mean-step shape, linear
    * at any corpus size. The Σ goes through DECIMAL(38,30)
    * (order-independent) and the mean rounds to 6 dp, which pins the
    * one-shot result across engines (no iteration feeds the rounded
    * grid back in, so grid-boundary ties cannot accumulate). */
  def meanPool(emb: DataFrame, groupCol: String = "label",
               vecCol: String = "embedding"): DataFrame =
    emb.select(col(groupCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos"))
      .agg(round(sum(col("x").cast("decimal(38,30)")).cast("double") / count(lit(1)), 6)
        .as("mean"))

  /** Prototypicality: cosine similarity of each vector to its GROUP's
    * mean centroid — the cluster-quality signal semantic-dedup pipelines
    * rank by (SemDeDup and SSL-prototypes order cluster members by
    * distance-to-centroid to pick what to keep). Centroids are
    * [[meanPool]]'s decimal-summed, 6-dp-pinned means (engine-exact),
    * pivoted to arrays on the driver — groups × dim doubles, k-means-
    * sized state independent of corpus size — and broadcast back; the
    * per-row score is two sequential-fold dots + sqrt + one division,
    * every double op with a defined operand order, so an independent
    * engine reproduces the score bit-for-bit. Map-only after the
    * centroid build. */
  def prototypicality(emb: DataFrame, groupCol: String = "label",
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
    val spark = emb.sparkSession
    val tall = meanPool(emb, groupCol, vecCol).collect()
    val centRows = tall.groupBy(_.get(0)).toSeq.map { case (g, rs) =>
      org.apache.spark.sql.Row(g, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
    }
    val cents = spark.createDataFrame(
      java.util.Arrays.asList(centRows: _*),
      StructType(Seq(StructField(groupCol, emb.schema(groupCol).dataType),
        StructField("__cent", ArrayType(DoubleType)))))
    emb.join(broadcast(cents), Seq(groupCol))
      .select(col(idCol), col(groupCol),
        VF.cosineSimilarity(col(vecCol).cast("array<double>"), col("__cent"))
          .as("proto_score"))
  }

  /** All rows within a cosine-distance radius of the query (the
    * reference's `within_radius` ranking aggregate, `src/ir/mod.rs:40-47`). */
  def withinRadius(emb: DataFrame, query: Seq[Float], maxDist: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = typedLit(query)
    emb.select(col(idCol), VF.cosineDistance(col(vecCol), q).as("dist"))
      .where(col("dist") <= maxDist)
  }

  // ---------------------------------------------------------------------
  // PCA (power iteration + deflation): the dimensionality-reduction
  // stage of a production ANN pipeline (OPQ/PCA before PQ; whitening
  // before SemDeDup-style clustering). Deterministic and EXACTLY
  // oracle-replayable end to end.
  // ---------------------------------------------------------------------

  /** A trained PCA model: per-dimension mean, `nComp` unit components,
    * and their eigenvalue estimates. All driver-resident (d and d×k
    * doubles — broadcast scale, corpus-size-independent). */
  final case class PcaModel(mean: Array[Double],
                            components: Array[Array[Double]],
                            eigenvalues: Array[Double])

  /** PCA by FIXED-ITERATION POWER ITERATION with deflation — top-`nComp`
    * principal components of the embedding column.
    *
    * Determinism contract (every step cross-engine exact):
    *  - The data-order-sensitive reductions — the per-dimension mean and
    *    the d² covariance entries — sum in DECIMAL(38,30)
    *    (order-independent), cast to double once.
    *  - Everything after runs on the DRIVER over the d×d matrix in
    *    plain doubles with a FIXED operation order: matvec rows fold
    *    j = 1..d from 0.0; norms fold i = 1..d; normalization divides
    *    by `sqrt` (correctly rounded IEEE — exact on any engine);
    *    deflation subtracts (λ·vᵢ)·vⱼ elementwise. The DuckDB oracle
    *    replays the identical folds via `list_reduce(list_prepend(0,
    *    list_transform(...)))`, so the fixpoint matches bit for bit —
    *    no eigensolver-parity or transcendental trust anywhere.
    *  - Start vector is all-ones (fixed), `iters` iterations per
    *    component, no convergence test — a replayable trace, like the
    *    fixed-round k-core peel.
    *
    * Scale shape: one decimal aggregation for μ (d rows), one for the
    * covariance (d² rows via a per-row double explode — at 100 TB this
    * is the standard d²-per-partition outer-product accumulation; d is
    * model dimension, not data size), then zero further corpus scans
    * until projection. */
  def pcaTrain(emb: DataFrame, nComp: Int, iters: Int = 8,
               vecCol: String = "embedding",
               exactSums: Boolean = true): PcaModel = {
    // model dimension = the MOST FREQUENT length present (ties to the
    // smaller) — an aggregate, so layout- and scan-order-independent
    // (head() would let file layout pick d), and robust to a stray
    // over-long outlier row (max() would silently train on just the
    // outliers); rows of any other length are filtered below as before
    val dRows = emb.select(size(col(vecCol)).as("d")).where(col("d") > 0)
      .groupBy("d").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("d").asc).head(1)
    require(dRows.nonEmpty, "empty embedding table")
    val d = dRows(0).getInt(0)
    val n = emb.where(size(col(vecCol)) === d).count()
    require(n > 0, "empty embedding table")
    val vd = col(vecCol).cast("array<double>")
    val base = emb.where(size(col(vecCol)) === d)
    // Two sum modes, the PageRank knob: exact (decimal — order-
    // independent, the oracle shape; ~13× the aggregation cost, so pin
    // it on a bounded slice) vs production (plain double partial aggs —
    // the 100 TB shape; nondeterministic only at the ~1e-12 summation-
    // order level, anchored by the exact twin).
    def summed(c: Column): Column =
      if (exactSums) sum(c.cast("decimal(38,30)")).cast("double")
      else sum(c)
    val mean = base
      .select(posexplode(vd).as(Seq("i", "x")))
      .groupBy("i").agg(summed(col("x")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val mu = Array.tabulate(d)(i => mean(i) / n)
    val muLit = typedLit(mu.toSeq)
    val centered = base.select(
      transform(vd, (x, i) => x - element_at(muLit, i + 1)).as("c"))
    val covRows = centered
      .select(posexplode(col("c")).as(Seq("i", "xi")), col("c"))
      .select(col("i"), col("xi"), posexplode(col("c")).as(Seq("j", "xj")))
      .groupBy("i", "j")
      .agg(summed(col("xi") * col("xj")).as("s"))
      .collect()
    val cov = Array.ofDim[Double](d, d)
    covRows.foreach(r => cov(r.getInt(0))(r.getInt(1)) = r.getDouble(2) / n)
    // driver-side fixed-order power iteration (mirrored by the oracle)
    def matvec(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += m(i)(j) * v(j); j += 1 }
        s
      }
    def norm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    var m = cov
    val comps = Array.ofDim[Double](nComp, d)
    val eigs = Array.ofDim[Double](nComp)
    var c = 0
    while (c < nComp) {
      var v = Array.fill(d)(1.0)
      var t = 0
      while (t < iters) {
        val w = matvec(m, v)
        val nm = norm(w)
        v = if (nm == 0.0) w else w.map(_ / nm)
        t += 1
      }
      val mv = matvec(m, v)
      var lam = 0.0
      var i = 0
      while (i < d) { lam += v(i) * mv(i); i += 1 }
      comps(c) = v
      eigs(c) = lam
      m = Array.tabulate(d, d)((i, j) => m(i)(j) - lam * v(i) * v(j))
      c += 1
    }
    PcaModel(mu, comps, eigs)
  }

  /** Project embeddings onto a trained model's components: per row and
    * component, the fold Σᵢ (xᵢ − μᵢ)·vᵢ in ascending i from 0.0 (the
    * exact order the oracle replays), rounded to 6 dp. MAP-ONLY — the
    * model rides the plan as literals. Output (idCol, p1..p`k`). */
  def pcaProject(emb: DataFrame, model: PcaModel,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 whiten: Boolean = false): DataFrame = {
    val d = model.mean.length
    val muLit = typedLit(model.mean.toSeq)
    val vd = col(vecCol).cast("array<double>")
    val cols = model.components.zipWithIndex.map { case (comp, c) =>
      val vLit = typedLit(comp.toSeq)
      val proj = aggregate(sequence(lit(1), lit(d)), lit(0.0),
        (acc, i) => acc +
          (element_at(vd, i) - element_at(muLit, i)) * element_at(vLit, i))
      // whitening divides by sqrt(λ) (unit variance per component —
      // what SemDeDup-style clustering wants); λ ≤ 0 (numerically dead
      // direction) passes through unscaled. sqrt is correctly-rounded
      // IEEE, so the oracle's in-engine sqrt of the identical λ double
      // yields the identical divisor.
      val lam = model.eigenvalues(c)
      val scaled = if (whiten && lam > 0) proj / lit(math.sqrt(lam)) else proj
      round(scaled, 6).as(s"p${c + 1}")
    }
    emb.where(size(col(vecCol)) === d)
      .select(col(idCol) +: cols.toSeq: _*)
  }

  /** Train + project in one call (the `queries()` entry point). */
  def pcaProjected(emb: DataFrame, nComp: Int, iters: Int = 8,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   exactSums: Boolean = true, whiten: Boolean = false): DataFrame =
    pcaProject(emb, pcaTrain(emb, nComp, iters, vecCol, exactSums),
      idCol, vecCol, whiten)

  /** DuckDB replication of [[pcaProjected]]: decimal mean/covariance
    * CTEs, then each power-iteration step as a chained CTE whose
    * `list_reduce(list_prepend(0, list_transform(...)))` folds run in
    * the same ascending order as the driver loops, then the same
    * projection fold, 6-dp rounded. The oracle RETRAINS from scratch —
    * the whole eigen-decomposition trace is checked. */
  def pcaOracleSql(d: Int, nComp: Int, iters: Int = 8,
                   pred: String = "TRUE", whiten: Boolean = false): String = {
    val D = d
    def fold(terms: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $terms), (a, b) -> a + b)"
    val comps = (1 to nComp).map { c =>
      val covIn = if (c == 1) "cov" else s"cov${c}"
      val iterCtes = (1 to iters).map { t =>
        val vPrev = if (t == 1) s"v${c}_0" else s"v${c}_${t - 1}"
        s"""w${c}_$t AS (SELECT m.i, ${fold(s"list_transform(generate_series(1, $D), j -> m.carr[j] * v.v[j])")} AS w
           |  FROM $covIn m, $vPrev v),
           |v${c}_$t AS (SELECT CASE WHEN nm = 0 THEN wl
           |    ELSE list_transform(wl, x -> x / nm) END AS v
           |  FROM (SELECT wl, sqrt(${fold("list_transform(wl, x -> x * x)")}) AS nm
           |        FROM (SELECT list(w ORDER BY i) AS wl FROM w${c}_$t)))""".stripMargin
      }.mkString(",\n")
      val deflate =
        if (c == nComp) ""
        else s""",
           |cov${c + 1} AS MATERIALIZED (SELECT m.i,
           |  list_transform(generate_series(1, $D),
           |    j -> m.carr[j] - l.lam * v.v[m.i] * v.v[j]) AS carr
           |  FROM $covIn m, l$c l, v${c}_$iters v)""".stripMargin
      s"""v${c}_0 AS (SELECT list_transform(generate_series(1, $D),
         |  x -> CAST(1 AS DOUBLE)) AS v),
         |$iterCtes,
         |mv$c AS (SELECT m.i, ${fold(s"list_transform(generate_series(1, $D), j -> m.carr[j] * v.v[j])")} AS w
         |  FROM $covIn m, v${c}_$iters v),
         |l$c AS (SELECT ${fold(s"list_transform(generate_series(1, $D), i -> v.v[i] * t.tl[i])")} AS lam
         |  FROM v${c}_$iters v, (SELECT list(w ORDER BY i) AS tl FROM mv$c) t)$deflate""".stripMargin
    }.mkString(",\n")
    val projCols = (1 to nComp).map { c =>
      val raw = fold(
        s"list_transform(generate_series(1, $D), i -> (CAST(e.embedding[i] AS DOUBLE) - mu.m[i]) * v$c.v[i])")
      val scaled =
        if (whiten)
          s"CASE WHEN l$c.lam > 0 THEN ($raw) / sqrt(l$c.lam) ELSE ($raw) END"
        else raw
      s"round($scaled, 6) AS p$c"
    }.mkString(",\n  ")
    val projFrom = ((1 to nComp).map(c => s"v${c}_$iters v$c") ++
      (if (whiten) (1 to nComp).map(c => s"l$c") else Nil)).mkString(", ")
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE len(embedding) = $D AND ($pred)),
       |nn AS (SELECT COUNT(*) AS n FROM base),
       |mu AS (SELECT list(mm ORDER BY i) AS m FROM (
       |  SELECT i, CAST(SUM(CAST(x AS DECIMAL(38,30))) AS DOUBLE) / nn.n AS mm
       |  FROM (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
       |               generate_subscripts(embedding, 1) AS i FROM base), nn
       |  GROUP BY i, nn.n)),
       |cent AS (SELECT list_transform(generate_series(1, $D),
       |    i -> CAST(b.embedding[i] AS DOUBLE) - mu.m[i]) AS c
       |  FROM base b, mu),
       |cp AS (SELECT ci.i, cj.j, ci.xi * cj.xj AS t FROM (
       |    SELECT c, unnest(c) AS xi, generate_subscripts(c, 1) AS i FROM cent) ci,
       |  LATERAL (SELECT unnest(ci.c) AS xj, generate_subscripts(ci.c, 1) AS j) cj),
       |cov AS MATERIALIZED (SELECT i, list(cc ORDER BY j) AS carr FROM (
       |  SELECT i, j, CAST(SUM(CAST(t AS DECIMAL(38,30))) AS DOUBLE) / nn.n AS cc
       |  FROM cp, nn GROUP BY i, j, nn.n) GROUP BY i),
       |$comps
       |SELECT e.vec_id,
       |  $projCols
       |FROM base e, mu, $projFrom""".stripMargin
  }

}
