package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semi-naive fixpoint evaluation — the Spark realization of the
  * reference's recursive Datalog strata (reference: semi-naive DD loop
  * `src/code_generator/mod.rs:1033-1250`, specialized transitive-closure
  * path `:424-1002`).
  *
  * Spark has no recursive operator, so recursion is a driver loop over
  * DataFrames, engineered for both per-iteration latency (small graphs)
  * and scale (big ones):
  *  - SEMI-NAIVE: each iteration joins only the delta (new tuples) against
  *    the static relations — never the full accumulator.
  *  - LINEAGE CUT: eager `localCheckpoint` per iteration; otherwise the
  *    plan tree grows with graph diameter and planning cost explodes.
  *  - STAT-DRIVEN BROADCASTS: checkpointed RDDs carry no Catalyst stats,
  *    so the planner would shuffle-join every iteration. The loop tracks
  *    exact row counts driver-side (free — the RDD is already cached) and
  *    injects `broadcast()` hints when a side is small, making a whole
  *    iteration shuffle-free on small/medium frontiers while degrading
  *    gracefully to shuffle joins at scale.
  *  - RIGHT-SIZED SHUFFLES: shuffle partitions are scaled to the delta
  *    size each iteration (1 partition for a 100-row frontier, the session
  *    default for a 100M-row one) — the AQE-coalesce benefit without
  *    AQE's per-stage re-planning latency inside the loop.
  */
object Fixpoint {

  /** Rows below which a loop-side relation is broadcast. ~1M rows of
    * (long, long) ≈ 16 MB — inside Spark's executor broadcast comfort. */
  val BroadcastRows: Long = 1000000L

  /** Input-size ceiling for the driver-local fast path. A fixpoint on a
    * small graph costs 2-4 Spark jobs PER ITERATION (~0.5-1s each on a
    * warm local cluster) — three orders of magnitude more than just
    * computing the closure in-process, which is what the reference does
    * for every size (`src/code_generator/mod.rs:684-1002`). Below this
    * row count we collect, solve with a HashMap BFS/union-find, and
    * parallelize the result back; above it the distributed semi-naive
    * loop runs. Correctness is identical; both paths are tested. */
  val LocalEdgeRows: Long = 200000L
  /** Node ceiling for local FULL transitive closure (output is O(V²)). */
  val LocalTcNodes: Long = 4000L
  /** Connected components gets a HIGHER local cap than the fixpoint fast
    * paths: union-find memory is linear in the COLLECTED edges (no
    * transitive-output blowup like TC). At the cap the honest driver
    * footprint is boxed Rows + the parent map + per-component grouping —
    * a few hundred MB peak for 1M long-id rows, more for string ids —
    * acceptable transiently on the target driver, where the distributed
    * min-label loop would pay several seconds of per-iteration fixed
    * cost instead. Beyond the cap the distributed loop's costs amortize
    * over real data volume — that is the 100 TB path. */
  val LocalComponentRows: Long = 1000000L

  /** A materialized loop relation: plan-identity-barriered frame + its
    * exact row count. The barrier (rebuild from the checkpointed RDD)
    * gives fresh exprIds so iteration-over-the-same-relation self-joins
    * never trip Spark's ambiguous-column detection.
    *
    * `ownedCheckpoint` is the internally-persisted RDD holding the
    * block-manager blocks. Loops [[unpersist]] a Mat the moment a newer
    * materialization replaces it — waiting for GC + ContextCleaner lets
    * hundreds of dead checkpoints pile up across a long session (each
    * materialize COPIES its input, so a superseded Mat is never a
    * dependency of a later one). Only unpersist Mats the loop itself
    * created and no longer returns. */
  final case class Mat(df: DataFrame, count: Long,
                       ownedCheckpoint: Option[org.apache.spark.rdd.RDD[_]] = None) {
    def unpersist(): Unit = ownedCheckpoint.foreach(_.unpersist(false))
  }

  /** The per-loop isolated session (set inside [[withLoopConf]]):
    * materialized loop frames bind to it so the loop's conf (AQE off,
    * frontier-sized shuffle partitions) applies to THEIR jobs only —
    * concurrent queries on the shared session are unaffected. */
  private val loopSession = new ThreadLocal[SparkSession]()

  /** The persisted RDD behind a localCheckpoint'ed frame — owners
    * capture it to unpersist deterministically instead of waiting for
    * GC + ContextCleaner. One shared Spark-internal pattern match; the
    * dedup signature cache uses it too.
    *
    * The LogicalRDD found in the plan is NOT always the persisted RDD
    * itself: [[materialize]] re-binds the checkpointed frame through
    * `createDataFrame(ck.rdd, …)`, which wraps the checkpoint in two
    * never-persisted row-conversion layers — unpersisting THAT was a
    * silent no-op, and every release of a materialized frame leaked
    * its blocks for the session. Walk the narrow-dependency chain up
    * to the RDD actually holding storage. A nice side effect: a frame
    * whose checkpoint was already released resolves to None (storage
    * level gone), so releases are idempotent. */
  private[graft] def checkpointRddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.flatMap(persistedAncestor)
  @annotation.tailrec
  private def persistedAncestor(
      r: org.apache.spark.rdd.RDD[_]): Option[org.apache.spark.rdd.RDD[_]] =
    if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Some(r)
    else r.dependencies match {
      case Seq(d: org.apache.spark.NarrowDependency[_]) => persistedAncestor(d.rdd)
      case _ => None
    }

  def materialize(df: DataFrame): Mat = {
    val ck = df.localCheckpoint(true)
    val sess = Option(loopSession.get).getOrElse(ck.sparkSession)
    // re-bind the checkpoint's InternalRow RDD to the target session
    // DIRECTLY: `createDataFrame(ck.rdd, schema)` would wrap it in an
    // InternalRow→Row→InternalRow conversion pair that every later read
    // of the materialized frame pays (and whose wrapper RDDs defeated
    // deterministic release — see [[checkpointRddOf]])
    ck.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    } match {
      case Some(internal) =>
        val reb = org.apache.spark.sql.graftglue.ColumnGlue
          .internalCreateDataFrame(sess, internal, ck.schema)
        Mat(reb, internal.count(), Some(internal))
      case None => // never in practice: localCheckpoint always yields a LogicalRDD
        val rdd = ck.rdd
        Mat(sess.createDataFrame(rdd, ck.schema), rdd.count(), checkpointRddOf(ck))
    }
  }

  private def maybeBroadcast(m: Mat): DataFrame =
    if (m.count <= BroadcastRows) broadcast(m.df) else m.df

  /** Partition count for re-parallelizing a driver-computed result:
    * ~8k rows/task keeps serialized task payloads under Spark's 1 MB
    * task-size warning for (long, long) Rows — a 1M-pair closure ships
    * as ~120 small tasks, not 4 multi-MB ones. */
  private[graft] def parallelizeParts(rows: Long): Int =
    math.max(4L, math.min(256L, rows / 8192L)).toInt

  /** Single-job bounded collect with a plan-keyed cache: returns the rows
    * when the relation has ≤ cap of them, None otherwise. The cache key is
    * the canonicalized logical plan, so the bound and full variants of the
    * same query (q54/q55: both scan the same edge relation) pay ONE
    * collect between them. Soundness comes from [[cacheSalt]]:
    * checkpoint-derived plans embed their RDD identity, and file-scan
    * leaves contribute their current file-listing fingerprint to the
    * key — a changed or rewritten relation can never produce a false
    * hit. */
  private val collectCache =
    new java.util.LinkedHashMap[(SparkSession, Any), Array[org.apache.spark.sql.Row]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, Any), Array[org.apache.spark.sql.Row]]): Boolean =
        size > 8
    }

  /** Cache-soundness salt for a plan. The cache is sound when every
    * leaf pins its data: checkpoint RDDs and literal relations pin by
    * IDENTITY (the canonicalized plan embeds them — salt not needed),
    * `Range` is pure by construction, and a FILE-source leaf
    * (`spark.read.parquet(path)`) pins by CONTENT FINGERPRINT — its
    * current file listing + total size enter the key, so rewriting the
    * files in place between two calls changes the key instead of
    * serving stale rows (Spark overwrite always lands new part-file
    * names; a byte-in-place mutation outside Spark with identical
    * names and sizes is outside the contract, exactly as for Spark's
    * own FileIndex caching). Anything else → None → uncacheable. */
  private def cacheSalt(df: DataFrame): Option[Seq[Any]] = {
    val salts = df.queryExecution.analyzed.collectLeaves().map {
      case _: org.apache.spark.sql.execution.LogicalRDD => "rdd"
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => "local"
      case _: org.apache.spark.sql.catalyst.plans.logical.OneRowRelation => "one"
      case _: org.apache.spark.sql.catalyst.plans.logical.Range => "range"
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val files = fs.location.inputFiles
            if (files.length > 4096) return None // listing too big to key
            (java.util.Arrays.hashCode(files.asInstanceOf[Array[AnyRef]]),
              fs.sizeInBytes)
          case _ => return None
        }
      case _ => return None
    }
    Some(salts.toSeq)
  }

  private[graft] def collectUpTo(df: DataFrame, cap: Long): Option[Array[org.apache.spark.sql.Row]] = {
    val salt = cacheSalt(df)
    val key = (df.sparkSession,
      (df.queryExecution.analyzed.canonicalized, salt): Any)
    if (salt.isDefined) collectCache.synchronized {
      val hit = collectCache.get(key)
      if (hit != null) return Some(hit)
    }
    val rows = df.limit(cap.toInt + 1).collect()
    if (rows.length > cap) None
    else {
      // don't pin very large results in the cache — re-collecting a rare
      // million-row closure beats holding 8 × ~100 MB on the driver
      if (salt.isDefined && rows.length <= 200000)
        collectCache.synchronized { collectCache.put(key, rows) }
      Some(rows)
    }
  }

  /** left_anti on all columns with null-safe (`<=>`) equality. Plain
    * using-column anti-joins compare with EqualTo, so a tuple containing
    * null (the dialect derives null for x/0 and x%0) never matches the
    * accumulator and semi-naive's delta never drains. EqualNullSafe is
    * still a hash-join key for Spark, so this costs nothing. */
  def antiNullSafe(left: DataFrame, right: DataFrame, hintBroadcast: Boolean = false): DataFrame = {
    val cols = left.columns.toSeq
    val l = left.alias("__anti_l")
    val r0 = right.toDF(cols: _*).alias("__anti_r")
    val r = if (hintBroadcast) broadcast(r0) else r0
    val cond = cols.map(c => col(s"__anti_l.`$c`") <=> col(s"__anti_r.`$c`")).reduce(_ && _)
    l.join(r, cond, "left_anti")
  }

  /** left_semi twin of [[antiNullSafe]]: rows of `left` that DO have a
    * null-safe match in `right`. Lazy — one hash semi-join when (if)
    * the consumer executes the plan. */
  def semiNullSafe(left: DataFrame, right: DataFrame, hintBroadcast: Boolean = false): DataFrame = {
    val cols = left.columns.toSeq
    val l = left.alias("__semi_l")
    val r0 = right.toDF(cols: _*).alias("__semi_r")
    val r = if (hintBroadcast) broadcast(r0) else r0
    val cond = cols.map(c => col(s"__semi_l.`$c`") <=> col(s"__semi_r.`$c`")).reduce(_ && _)
    l.join(r, cond, "left_semi")
  }

  /** Transitive closure of an edge relation with columns (src, dst).
    * `reach(x,y) <- edge(x,y); reach(x,z) <- reach(x,y), edge(y,z)`.
    * Right-linear: delta ⋈ edges each iteration; edges are the static
    * side (broadcast when small, shuffle otherwise). */
  def transitiveClosure(edges: DataFrame, maxIter: Int = 0): DataFrame = {
    val dedup = edges.toDF("src", "dst")
    // Local fast path: ONE bounded collect (no checkpoint/count jobs)
    // decides eligibility and fetches the edges in the same job.
    if (maxIter <= 0) collectUpTo(dedup.distinct(), LocalEdgeRows).foreach { rows =>
      val pairs = rows.map(r => (r.get(0), r.get(1)))
      val nodes = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
      if (nodes.size <= LocalTcNodes)
        return localClosure(dedup.sparkSession, dedup.schema, pairs, nodes.toSeq)
    }
    val e = materialize(dedup.distinct())
    val out = iterateKeyed(e.df, delta => {
      val d = delta.toDF("p_src", "p_dst")
      d.join(maybeBroadcast(e), d("p_dst") === e.df("src"))
        .select(d("p_src").as("src"), e.df("dst").as("dst"))
    }, maxIter)
    // the loop's deltas are self-contained snapshots; the static edge
    // side is dead once the loop has converged
    e.unpersist()
    out
  }

  /** Reachable (src, dst) pairs from the given seed nodes only — the
    * magic-sets-restricted variant of [[transitiveClosure]] (reference:
    * bound-query rewrite `src/magic_sets/mod.rs`, `?reach(1,Y)`): the
    * fixpoint explores only the demanded subgraph, which is what turns
    * an O(V·E) closure into a BFS from the seeds. */
  def boundReachability(edges: DataFrame, seeds: DataFrame, maxIter: Int = 0): DataFrame = {
    val dedup = edges.toDF("src", "dst")
    val s = seeds.toDF("src").distinct()
    if (maxIter <= 0) collectUpTo(dedup.distinct(), LocalEdgeRows).foreach { rows =>
      val srcs = collectUpTo(s, LocalEdgeRows).map(_.map(_.get(0)).toSeq)
        .getOrElse(s.collect().map(_.get(0)).toSeq)
      return localClosure(dedup.sparkSession, dedup.schema,
        rows.map(r => (r.get(0), r.get(1))), srcs)
    }
    val e = materialize(dedup.distinct())
    val base = s.join(maybeBroadcast(e), "src").select(col("src"), col("dst"))
    val out = iterateKeyed(base, delta => {
      val d = delta.toDF("p_src", "p_dst")
      d.join(maybeBroadcast(e), d("p_dst") === e.df("src"))
        .select(d("p_src").as("src"), e.df("dst").as("dst"))
    }, maxIter)
    e.unpersist()
    out
  }

  /** Driver-local reachability: BFS from each source over a HashMap
    * adjacency list. The handoff back to Spark is GROUPED — one
    * `(src, array<dst>)` row per source, exploded distributed — so a
    * 1000-node / 1M-pair closure ships ~1,000 small rows instead of
    * 1M individually-allocated, individually-serialized `Row`s (the
    * dominant cost of the old shape: driver allocation + task
    * serialization both shrink ~1000×). */
  private def localClosure(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
                           pairs: Array[(Any, Any)], sources: Seq[Any]): DataFrame = {
    val adj = pairs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    var totalPairs = 0L
    val grouped = Seq.newBuilder[org.apache.spark.sql.Row]
    sources.foreach { src =>
      val seen = scala.collection.mutable.HashSet.empty[Any]
      val queue = scala.collection.mutable.ArrayDeque[Any](src)
      while (queue.nonEmpty) {
        val n = queue.removeHead()
        adj.getOrElse(n, Array.empty[Any]).foreach { m =>
          if (seen.add(m)) queue.append(m)
        }
      }
      if (seen.nonEmpty) {
        totalPairs += seen.size
        grouped += org.apache.spark.sql.Row(src, seen.toSeq)
      }
    }
    explodeGrouped(spark, schema, grouped.result(), totalPairs)
  }

  /** Parallelize `(key, array<value>)` rows and explode distributed into
    * the two-column `schema` (`valueFirst` puts the exploded value in
    * column 0, for outputs like (member, comp)). Partition count is
    * sized by the EXPLODED pair count (~8k pairs/task) so the fan-out
    * work spreads across the cluster even though only a few grouped
    * rows ship per task. */
  private def explodeGrouped(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
                             grouped: Seq[org.apache.spark.sql.Row], totalPairs: Long,
                             valueFirst: Boolean = false): DataFrame = {
    val (kf, vf) =
      if (valueFirst) (schema.fields(1), schema.fields(0))
      else (schema.fields(0), schema.fields(1))
    val gSchema = org.apache.spark.sql.types.StructType(Seq(
      kf.copy(name = "__k"),
      org.apache.spark.sql.types.StructField("__vs",
        org.apache.spark.sql.types.ArrayType(vf.dataType, vf.nullable), nullable = false)))
    val nParts = math.max(1, math.min(grouped.size, parallelizeParts(totalPairs)))
    val g = spark.createDataFrame(spark.sparkContext.parallelize(grouped, nParts), gSchema)
    val kCol = col("__k").as(kf.name)
    val vCol = explode(col("__vs")).as(vf.name)
    if (valueFirst) g.select(vCol, kCol) else g.select(kCol, vCol)
  }

  /** Connected components over an undirected edge list: returns
    * (id, comp) with comp = min reachable id (min-label propagation). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 0): DataFrame =
    withLoopConf(edges.sparkSession) {
      val sym = edges.toDF("a", "b")
      val und = materialize(sym.union(sym.select(col("b"), col("a"))).distinct())
      if (maxIter <= 0 && und.count <= LocalComponentRows) {
        val out = localComponents(und) // collects und; result doesn't reference it
        und.unpersist()
        return out
      }
      // SEMI-NAIVE min-label propagation: labels only ever decrease, and
      // any further improvement chain must pass through a node whose
      // label decreased LAST round — so only the frontier (just-improved
      // labels) joins the edges each iteration, instead of every label
      // re-propagating over every edge every round. Late rounds ship the
      // few still-moving labels; convergence = empty frontier (no
      // separate label-sum scan needed).
      var labels = materialize(und.df.select(col("a").as("id")).distinct()
        .withColumn("comp", col("id")))
      var frontier = labels // round 1 propagates everything (the base case)
      var frontierIsLabels = true
      var i = 0
      var done = false
      while (!done && (maxIter <= 0 || i < maxIter)) {
        graft.QueryGuard.checkCancelled()
        i += 1
        sizeShuffle(edges.sparkSession, frontier.count + und.count)
        val f = frontier.df.select(col("id").as("fid"), col("comp").as("fcomp"))
        // cand is consumed exactly once (by `improved`) — no barrier
        val cand = maybeBroadcast(und).join(f, und.df("b") === col("fid"))
          .groupBy(und.df("a")).agg(min(col("fcomp")).as("cand"))
          .select(und.df("a").as("id"), col("cand"))
        val improved = materialize(cand.join(labels.df, Seq("id"))
          .where(col("cand") < col("comp"))
          .select(col("id"), col("cand").as("comp")))
        if (improved.count == 0) { improved.unpersist(); done = true }
        else {
          val upd = materialize(labels.df
            .join(improved.df.select(col("id"), col("comp").as("ncomp")), Seq("id"), "left")
            .select(col("id"), coalesce(col("ncomp"), col("comp")).as("comp")))
          if (!frontierIsLabels) frontier.unpersist()
          labels.unpersist()
          labels = upd
          frontier = improved
          frontierIsLabels = false
        }
      }
      if (!frontierIsLabels) frontier.unpersist()
      und.unpersist()
      labels.df
    }

  /** Driver-local connected components: union-find over collected edges,
    * component label = min member id in Spark's order (matches the
    * distributed variant's min()). */
  private def localComponents(und: Mat): DataFrame = {
    val pairs = und.df.collect().map(r => (SparkValues.key(r.get(0)), SparkValues.key(r.get(1))))
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val byRoot = parent.keys.toSeq.groupBy(find)
    var total = 0L
    val grouped = byRoot.values.map { members =>
      val comp = members.reduce((a, b) => if (SparkValues.compare(a, b) <= 0) a else b)
      total += members.size
      org.apache.spark.sql.Row(comp, members)
    }.toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      und.df.schema.fields(0).copy(name = "id"),
      und.df.schema.fields(0).copy(name = "comp")))
    // grouped handoff: one (comp, array<member>) row per component,
    // exploded distributed (see localClosure)
    explodeGrouped(und.df.sparkSession, schema, grouped, total, valueFirst = true)
  }

  /** Core semi-naive loop for relations with plain equality-comparable
    * columns. `step` sees only the last delta. */
  def iterateKeyed(base: DataFrame, step: DataFrame => DataFrame, maxIter: Int = 0): DataFrame =
    withLoopConf(base.sparkSession) {
      val spark = base.sparkSession
      val cols = base.columns.toSeq
      var delta = materialize(base.distinct())
      // acc = lazy union of materialized deltas: the anti-join still scans
      // all prior deltas (that IS semi-naive's dedup), but we never pay an
      // O(|acc|) copy job per iteration. Compacted every few iterations so
      // deep recursions don't accumulate O(depth) scan stages.
      var deltas = List(delta)
      def accDf: DataFrame = deltas.map(_.df).reduce(_ union _)
      def accCount: Long = deltas.map(_.count).sum
      // defensive bound even when the caller passes no cap — a diverging
      // step function must terminate with an error, not spin forever
      val cap = if (maxIter > 0) maxIter else 100000
      var i = 0
      // a compacted-away delta still backs `delta` for one more step;
      // it is unpersisted when `delta` is replaced, the rest immediately
      var pendingDead: List[Mat] = Nil
      while (delta.count > 0 && i < cap) {
        graft.QueryGuard.checkCancelled()
        i += 1
        if (deltas.size >= 6) {
          val old = deltas
          deltas = List(materialize(accDf))
          old.filterNot(_ eq delta).foreach(_.unpersist())
          pendingDead = old.filter(_ eq delta)
        }
        sizeShuffle(spark, delta.count)
        val candidates = step(delta.df).toDF(cols: _*).distinct()
        val next = materialize(antiNullSafe(candidates, accDf, accCount <= BroadcastRows))
        if (next.count > 0) deltas = deltas :+ next
        pendingDead.foreach(_.unpersist()); pendingDead = Nil
        delta = next
      }
      // empty terminal checkpoint — unless it IS the (empty) base backing accDf
      if (delta.count == 0 && !deltas.exists(_ eq delta)) delta.unpersist()
      if (i >= cap && delta.count > 0)
        throw new IllegalStateException(
          s"fixpoint did not converge within $cap iterations")
      accDf
    }

  /** Scale shuffle partitions to the frontier size: tiny iterations get 1
    * partition (one task per stage), large ones keep the session default.
    * Applies to the thread's ISOLATED loop session when one is active —
    * never to the shared session a concurrent query might be planning on. */
  private[graft] def sizeShuffle(spark0: SparkSession, rows: Long): Unit = {
    val spark = Option(loopSession.get).getOrElse(spark0)
    val sessionDefault = spark.conf.get("spark.sql.shuffle.partitions.loopDefault",
      spark.conf.get("spark.sql.shuffle.partitions", "32")).toInt
    val p = math.max(1L, math.min(sessionDefault.toLong, rows / 50000L)).toInt
    spark.conf.set("spark.sql.shuffle.partitions.loopDefault", sessionDefault.toString)
    spark.conf.set("spark.sql.shuffle.partitions", p.toString)
  }

  /** Runs `body` with the loop conf (AQE off — inside a fixpoint loop
    * every job is a small known-shape plan whose sizes WE know exactly
    * from driver-side counts, so AQE's per-stage re-planning only adds
    * latency; the reference pays none of this, its loop is one dataflow,
    * `src/code_generator/mod.rs:314-423`) applied to an ISOLATED
    * `newSession()` that loop-materialized frames bind to. The shared
    * session's conf is never touched, so two concurrent fixpoints — or a
    * fixpoint and a plain query — can't interleave each other's shuffle
    * widths. Nested loops reuse the outer loop's session. */
  private[graft] def withLoopConf[T](spark: SparkSession)(body: => T): T = {
    if (loopSession.get != null) return body // nested: keep outer session
    val loop = spark.newSession()
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    loop.conf.set("spark.sql.shuffle.partitions",
      spark.conf.get("spark.sql.shuffle.partitions", "32"))
    loopSession.set(loop)
    try body finally loopSession.remove()
  }
}
