package graft.tools
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Dedup

/** Scale-up proof for the expensive end of the query catalog: every
  * probed operator runs on 1× (sf0.1) and 10× inputs and the wall-time
  * ratios land in `SCALECHECK.json` — the evidence behind the
  * "designed for 100 TB" claim, beyond the original MinHash probe.
  *
  * Two input regimes, because 10× means different things:
  *  - document queries run against a REPLICATED corpus (each doc gains
  *    9 id-offset copies — duplicate CLIQUES, the worst case for
  *    near-dup candidate volume). A full `documents.parquet` is
  *    written and the other tables symlinked, so the REAL SparkEntry
  *    query (scan, pushdown, fixtures and all) runs end-to-end on the
  *    10× directory.
  *  - graph queries run the same LCG generator at 10× nodes AND edges
  *    (replicating a 25-node graph would just dedup).
  *
  * Classification drives the verdict: a `scan`-shaped op must stay
  * ≤3.5× wall time at 10× input; an `output-sensitive` op (pair
  * emission grows with duplicate cliques, quadratically in clique
  * size) is additionally allowed time growth up to its OUTPUT growth —
  * flagged only when time outgrows both bounds. Regressions land in
  * the JSON by name; an empty `regressions` array is the pass. */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir1 = "/root/testdata/sf0.1"
    val dir10 = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale10")

    // ---- build the 10× directory: replicated documents + symlinks ----
    {
      import java.nio.file.{Files, Paths}
      val root = Paths.get(dir10)
      if (!Files.exists(root)) Files.createDirectories(root)
      val docsOut = root.resolve("documents.parquet")
      if (!Files.exists(docsOut)) {
        val docs = Tables.load(spark, dir1, "documents")
        (0 until 10).map(i => docs.select(
            (col("doc_id") + lit(i * 1000000L)).as("doc_id") +:
              docs.columns.filterNot(_ == "doc_id").map(col).toSeq: _*))
          .reduce(_ unionByName _)
          .repartition(32)
          .write.mode("overwrite").parquet(docsOut.toString)
      }
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "embeddings").foreach { t =>
        val link = root.resolve(s"$t.parquet")
        if (!Files.exists(link))
          Files.createSymbolicLink(link, Paths.get(dir1, s"$t.parquet"))
      }
    }

    final case class Entry(name: String, kind: String,
                           t1: Double, t10: Double, rows1: Long, rows10: Long) {
      def ratio: Double = if (t1 > 0) t10 / t1 else 0.0
      def rowRatio: Double = if (rows1 > 0) rows10.toDouble / rows1 else 1.0
      def regression: Boolean = kind match {
        case "scan" => ratio > 3.5
        case "asymmetry" => false // ratio IS the measured win, not a slope
        case _ => ratio > 3.5 && ratio > rowRatio // output-sensitive
      }
      def json: String =
        f"""{"name":"$name","kind":"$kind","t1_sec":$t1%.3f,"t10_sec":$t10%.3f,""" +
        f""""ratio":$ratio%.2f,"rows1":$rows1,"rows10":$rows10,"row_ratio":$rowRatio%.2f,""" +
        s""""regression":$regression}"""
    }
    def timeCount(f: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // sub-second probes report the MEDIAN of >=5 timed riding rounds:
    // with a min-of-2 a single AQE-scheduler blip (~0.3 s on these
    // quantities) flipped probe verdicts between captures (r14's
    // committed stacked_agg 1.59x vs the 1.02x measured two commits
    // earlier) — the median of five is immune to any two outliers
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    val entries = Seq.newBuilder[Entry]
    // `metric` measures the quantity that DRIVES an operator's work —
    // result-row count by default, but e.g. the span miners' cost
    // tracks duplicated-GRAM hit volume (Σ n_grams), which a fully
    // replicated corpus saturates (every gram becomes a hit), so the
    // row metric alone would misread work-linear scaling as a
    // regression
    def probeQuery(name: String, kind: String,
                   metric: DataFrame => Long = _.count(),
                   workOf: String => Long = null): Unit = {
      val fn = graft.SparkEntry.queries(name)
      try {
        fn(spark, dir1).count() // warm the 1× plan (codegen, footers)
        def run(dir: String): (Double, Long) = {
          val t0 = System.nanoTime()
          val n = metric(fn(spark, dir))
          val t = (System.nanoTime() - t0) / 1e9
          (t, if (workOf == null) n else workOf(dir)) // work measured untimed
        }
        val (t1, n1) = run(dir1)
        val (t10, n10) = run(dir10)
        val e = Entry(name, kind, t1, t10, n1, n10)
        println(e.json)
        entries += e
      } catch {
        case ex: Throwable => println(s"""{"name":"$name","error":"${ex.getClass.getSimpleName}"}""")
      }
    }
    def sumOf(c: String)(df: DataFrame): Long =
      df.agg(coalesce(sum(col(c)), lit(0L))).head().getLong(0)

    // ---- document-shaped queries (the bench top-10's doc members) ----
    probeQuery("q171_frequent_tokens", "scan")
    probeQuery("q160_quality_classifier", "scan")
    probeQuery("q134_duplicate_spans", "output-sensitive", sumOf("n_grams"))
    probeQuery("q155_span_removal", "output-sensitive", sumOf("n_removed"))
    probeQuery("q32_ngram_jaccard", "output-sensitive")
    probeQuery("q156_setsim_join", "output-sensitive")
    // best-rep dedup returns one row per survivor (flat at any scale)
    // while its work tracks the near-dup candidate PAIR volume — use
    // that as the untimed work metric (replicated corpus: ~100× pairs)
    probeQuery("q167_cluster_best_rep", "output-sensitive",
      workOf = dir => Dedup.minHashPairs(
        Tables.load(spark, dir, "documents"), threshold = 0.35).count())

    // ---- graph queries: LCG graph at 1× and 10× nodes AND edges ----
    def lcgGraph(nodes: Long, edges: Long): DataFrame =
      spark.range(edges).select(
        pmod(pmod(col("id") * 48271L, lit(65537L)), lit(nodes)).as("src"),
        pmod(pmod((col("id") + edges) * 16807L, lit(65537L)), lit(nodes)).as("dst"))
        .where(col("src") =!= col("dst")).localCheckpoint(true)
    val g1 = lcgGraph(1000L, 2000L)
    val g10 = lcgGraph(10000L, 20000L)
    def probeGraph(name: String)(f: DataFrame => DataFrame): Unit = {
      f(g1).count() // warm
      val (t1, n1) = timeCount(f(g1))
      val (t10, n10) = timeCount(f(g10))
      val e = Entry(name, "scan", t1, t10, n1, n10)
      println(e.json)
      entries += e
    }
    probeGraph("pagerank_5iter")(g =>
      graft.operators.GraphOps.pageRank(g, iters = 5))
    probeGraph("hits_5iter")(g =>
      graft.operators.GraphOps.hits(g, iters = 5))
    // r15: pagerank/hits gained a driver-local fast path below
    // Fixpoint.LocalEdgeRows (200k edges) — the 2k/20k probes above now
    // measure THAT (flat by construction). These probe the DISTRIBUTED
    // loop at 1× and 10× ABOVE the gate (300k → 3M edges), the 100 TB
    // shape the bench queries no longer exercise. NOT the lcgGraph
    // generator: its inner pmod 65537 caps distinct nodes at 65536, so
    // a "10×" graph past that is really 10× DENSITY (the first capture
    // measured row_ratio 2.18 and flagged a bogus regression); xxhash64
    // spreads ids uniformly at any node count, and these probes need
    // determinism only, not oracle replication.
    def bigGraph(nodes: Long, edges: Long): DataFrame =
      spark.range(edges).select(
        pmod(xxhash64(col("id")), lit(nodes)).as("src"),
        pmod(xxhash64(col("id"), lit(1L)), lit(nodes)).as("dst"))
        .where(col("src") =!= col("dst")).localCheckpoint(true)
    val gd1 = bigGraph(30000L, 300000L)
    val gd10 = bigGraph(300000L, 3000000L)
    def probeGraphDist(name: String)(f: DataFrame => DataFrame): Unit = {
      f(gd1).count() // warm
      val (t1, n1) = timeCount(f(gd1))
      val (t10, n10) = timeCount(f(gd10))
      val e = Entry(name, "scan", t1, t10, n1, n10)
      println(e.json)
      entries += e
    }
    probeGraphDist("pagerank_5iter_dist")(g =>
      graft.operators.GraphOps.pageRank(g, iters = 5))
    probeGraphDist("hits_5iter_dist")(g =>
      graft.operators.GraphOps.hits(g, iters = 5))

    // r16: the quality classifier's GD loop rides a driver-local replay
    // below TextAnalysis.LocalTrainDocs (the PageRank pattern), so the
    // q160 probe above measures that path at both scales (5k and 50k
    // docs are both under the gate). The DISTRIBUTED per-iteration loop
    // keeps its own 10× slope evidence here, forced via
    // localTrainDocs = 0; 4 iterations bound the probe's cost — the
    // slope, not the step count, is what's probed.
    {
      def train(dir: String): DataFrame =
        graft.operators.TextAnalysis.qualityClassifierTrain(
          Tables.load(spark, dir, "documents"), col("lang") === "en",
          iters = 4, localTrainDocs = 0L)._2
      train(dir1).count() // warm
      val (t1, n1) = timeCount(train(dir1))
      val (t10, n10) = timeCount(train(dir10))
      val e = Entry("cls_train_dist", "scan", t1, t10, n1, n10)
      println(e.json)
      entries += e
    }

    // ---- retraction IVM: delete-cone-bound, not database-bound ----
    // The reference's headline (BENCHMARKS.md:69-71) is re-query
    // latency after retracting a few edges from a materialized
    // closure. Build closures at 1× and 3× graph scale (closure SIZE
    // grows far faster than the graph), delete the same 10 edges'
    // worth, and time the maintained re-query: if retraction is
    // delta-bound the two times stay comparable while the closure
    // grew ~an order of magnitude.
    def tcDeleteProbe(nodes: Long, edges: Long): (Double, Long) = {
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
      e.catalog.register("sed", lcgGraph(nodes, edges))
      e.run("+sr(X, Y) <- sed(X, Y)\n+sr(X, Z) <- sr(X, Y), sed(Y, Z)")
      val closure = e.run("?sr(X, Y)").last.count()
      val dels = lcgGraph(nodes, edges).limit(10).collect()
        .map(r => s"(${r.getLong(0)}, ${r.getLong(1)})").mkString(",")
      e.run(s"-sed[$dels]")
      val t0 = System.nanoTime()
      e.run("?sr(X, Y)").last.count()
      ((System.nanoTime() - t0) / 1e9, closure)
    }
    {
      val (t1, c1) = tcDeleteProbe(1000L, 2000L)
      val (t10, c10) = tcDeleteProbe(3000L, 6000L)
      // the LCG graph is one giant component, so the delete cone IS the
      // database — the dense WORST case, where re-derivation mass scales
      // with the closure (rows here): output-sensitive by construction.
      // The sparse case (cone ≪ database: unaffected components pass
      // through verbatim) is pinned by EngineSpec's distributed
      // affected-source test instead.
      val e = Entry("tc_delete_requery", "output-sensitive", t1, t10, c1, c10)
      println(e.json)
      entries += e
    }

    // ---- IVM maintenance rounds: O(delta), not O(base) ----
    // The decrement paths' claim is that a maintenance round's cost is
    // bound by the delta and the VIEW (support-table pass + dirty
    // collect), not the base relation. Probe: same view shape over a
    // 1× and a 10× base with FIXED group cardinality and the SAME
    // 20-tuple delete batch; round 1 (which seeds the support/pairs
    // tables with one O(base) grouped pass) and the materialization
    // are untimed — the timed quantity is rounds riding the carried
    // tables. The exact-removal presence check that used to put the
    // whole base on the shuffled side of a sort-merge semi (the ~1.9×
    // slope these probes measured through round 11) is now a
    // broadcast-prefiltered map-only scan with a literal IN pushdown
    // (Catalog.presenceExact) — observed post-fix: ~1.0-1.1× at 10×
    // base, i.e. flat; every stage is delta- or view-bound (support
    // pass over 100 groups, bounded dirty collects). Note the engine's
    // 2-competitive seed deferral means round 1 here takes dirty-group
    // and round 2 seeds; the median sampling starts at
    // round 2, so every timed round rides the carried tables.
    def maintenanceProbe(name: String, rule: String, query: String,
                         parquetBase: Boolean = false)(n: Long): (Double, Long) = {
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
      val base0 = spark.range(n).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal"))
      // the 100× probes read a PARQUET base: the exact-removal presence
      // prefilter's literal IN prunes row groups by id min/max there —
      // the designed 100 TB shape — where an in-memory frame forces a
      // full (map-only) scan per round and fakes a slope at 6M rows
      val base = if (!parquetBase) base0.localCheckpoint(true) else {
        val p = s"/tmp/graft_scale_mbase_$n.parquet"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
          base0.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
      e.catalog.register("mbase", base)
      e.run(rule)
      e.run(query).last.count() // materialize (untimed)
      def batch(lo: Long): String = (lo until lo + 20L)
        .map(i => s"($i, ${i % 100}, ${(i * 48271) % 500})").mkString(",")
      e.run(s"-mbase[${batch(0L)}]") // round 1: seeds the carried tables
      e.run(query).last.count()
      // rounds 2..6 all ride the carried tables — median of five
      val samples = Seq(100L, 200L, 300L, 400L, 500L).map { lo =>
        val t0 = System.nanoTime()
        e.run(s"-mbase[${batch(lo)}]")
        val n = e.run(query).last.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (med(samples.map(_._1)), samples.last._2)
    }
    def probeMaintenance(name: String, rule: String, query: String): Unit = {
      try {
        val p = maintenanceProbe(name, rule, query) _
        p(60000L) // warm (codegen, first-plan costs)
        val (t1, n1) = p(60000L)
        val (t10, n10) = p(600000L)
        val e = Entry(name, "scan", t1, t10, n1, n10)
        println(e.json)
        entries += e
      } catch {
        case ex: Throwable => println(s"""{"name":"$name","error":"${ex.getClass.getSimpleName}"}""")
      }
    }
    probeMaintenance("agg_decrement_requery",
      "+mtot(D, sum<S>, count<S>, avg<S>) <- mbase(I, D, S)", "?mtot(D, S, C, A)")
    probeMaintenance("cd_retract_requery",
      "+mcd(D, count_distinct<S>, count<S>) <- mbase(I, D, S)", "?mcd(D, C, N)")
    probeMaintenance("minmax_retract_requery",
      "+mmm(D, min<S>, max<S>, count<S>) <- mbase(I, D, S)", "?mmm(D, L, H, C)")
    probeMaintenance("topk_retract_requery",
      "+mtk(D, top_k<3, I, S:desc>) <- mbase(I, D, S)", "?mtk(D, I, S)")
    probeMaintenance("globalagg_retract_requery",
      "+mg(sum<S>, count<S>) <- mbase(I, D, S)", "?mg(S, C)")

    // ---- one decade further: the headline IVM claims at 100× base ----
    // A flat 10× ratio can hide a term that only bites at the next
    // decade (e.g. a presence prefilter whose IN-list pruning stops
    // paying, or a broadcast build crossing a size cliff). Same probe
    // shape, same fixed 20-tuple delta, base at 6M rows — the timed
    // riding rounds must STAY delta/view-bound (support table is still
    // 100 groups, pairs ≤ 50k, buffer ≤ ~2k rows at any base size).
    def probeMaintenance100(name: String, rule: String, query: String): Unit = {
      try {
        val p = maintenanceProbe(name, rule, query, parquetBase = true) _
        p(60000L) // warm (codegen, first-plan costs)
        val (t1, n1) = p(60000L)
        val (t100, n100) = p(6000000L)
        val e = Entry(name, "scan", t1, t100, n1, n100)
        println(e.json)
        entries += e
      } catch {
        case ex: Throwable => println(s"""{"name":"$name","error":"${ex.getClass.getSimpleName}"}""")
      }
    }
    probeMaintenance100("agg_decrement_requery_100x",
      "+mtot(D, sum<S>, count<S>, avg<S>) <- mbase(I, D, S)", "?mtot(D, S, C, A)")
    probeMaintenance100("cd_retract_requery_100x",
      "+mcd(D, count_distinct<S>, count<S>) <- mbase(I, D, S)", "?mcd(D, C, N)")
    probeMaintenance100("topk_retract_requery_100x",
      "+mtk(D, top_k<3, I, S:desc>) <- mbase(I, D, S)", "?mtk(D, I, S)")

    // ---- STACKED views over a BIG lower stratum (the r12 weak) ----
    // An upper aggregate view over a DERIVED lower view that is itself
    // base-sized: the round's lower-stratum delta used to be re-derived
    // by two view-sized anti-joins; the maintenance paths now NAME their
    // exact delta (ViewState.namedDelta) and the stratum-diff injection consumes
    // it directly, leaving only map-only key-pruned scans as the
    // base-sized terms. Fixed 20-tuple base delete per round; timed
    // quantity is the riding rounds (seed rounds untimed) — flat means
    // the stacked round is delta-bound, not lower-view-bound (the
    // reference's stacked DD arrangements, src/incremental.rs:77-80).
    def stackedProbe(n: Long): (Double, Long) = {
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
      e.catalog.register("sbase", spark.range(n).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal")).localCheckpoint(true))
      e.run("+slow(I, D, S) <- sbase(I, D, S), S >= 0\n" +
        "+sup(D, sum<S>, count<S>) <- slow(I, D, S)")
      e.run("?slow(I, D, S)").last.count() // materialize lower (untimed)
      e.run("?sup(D, S, C)").last.count() // materialize upper (untimed)
      def batch(lo: Long): String = (lo until lo + 20L)
        .map(i => s"($i, ${i % 100}, ${(i * 48271) % 500})").mkString(",")
      e.run(s"-sbase[${batch(0L)}]") // round 1: seeds the carried tables
      e.run("?sup(D, S, C)").last.count()
      val samples = Seq(100L, 200L, 300L, 400L, 500L).map { lo =>
        val t0 = System.nanoTime()
        e.run(s"-sbase[${batch(lo)}]")
        val rows = e.run("?sup(D, S, C)").last.count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      (med(samples.map(_._1)), samples.last._2)
    }
    try {
      stackedProbe(60000L) // warm (codegen, first-plan costs)
      val (t1, n1) = stackedProbe(60000L)
      val (t10, n10) = stackedProbe(600000L)
      val e = Entry("stacked_big_lower_requery", "scan", t1, t10, n1, n10)
      println(e.json)
      entries += e
    } catch {
      case ex: Throwable => println(
        s"""{"name":"stacked_big_lower_requery","error":"${ex.getClass.getSimpleName}"}""")
    }

    // ---- same stack, AGGREGATE lower stratum with a VIEW-SIZED group
    // count (one group per base id): the lower view is maintained by
    // the per-group decrement whose support table exceeds the
    // driver-resident cap (distributed map-only commit passes), and its
    // NAMED delta feeds an ungrouped top_k upper view — the probe above
    // covers the other naming family (plain lower via the
    // link-restricted recompute).
    def stackedAggProbe(n: Long): (Double, Long) = {
      // pin BOTH scales onto the carrier: at 60k groups the support
      // fits the driver-resident cap and rides a zero-Spark-action
      // fast path, so the unpinned ratio compared two different modes
      // (job counts 14 vs 19 — the carrier's IN-pruned dirty read is
      // ~5 scheduler-latency jobs the resident mode never runs, a
      // constant that read as a fake 100x slope). Carrier-vs-carrier
      // isolates the claim under test: riding rounds stay delta-bound.
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark),
        graft.iql.Engine.Limits(tier = graft.iql.Engine.Tier.Carrier))
      e.catalog.register("pbase", spark.range(n).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal")).localCheckpoint(true))
      e.run("+plow(I, sum<S>, count<S>) <- pbase(I, D, S)\n" +
        "+pup(top_k<5, I, T:desc>) <- plow(I, T, C)")
      e.run("?plow(I, T, C)").last.count() // materialize lower (untimed)
      e.run("?pup(I, T)").last.count() // materialize upper (untimed)
      def batch(lo: Long): String = (lo until lo + 20L)
        .map(i => s"($i, ${i % 100}, ${(i * 48271) % 500})").mkString(",")
      // round 1 DEFERS the support seed (2-competitive tiny-literal
      // policy) and round 2 pays it — plus, over the cap, the one-off
      // keyed-parquet base write; both stay untimed so the timed
      // quantity is pure RIDING rounds, matching the probe's intent
      e.run(s"-pbase[${batch(0L)}]")
      e.run("?pup(I, T)").last.count()
      e.run(s"-pbase[${batch(50L)}]") // seeds + transitions (untimed)
      e.run("?pup(I, T)").last.count()
      val samples = Seq(100L, 200L, 300L, 400L, 500L).map { lo =>
        val t0 = System.nanoTime()
        e.run(s"-pbase[${batch(lo)}]")
        val rows = e.run("?pup(I, T)").last.count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      (med(samples.map(_._1)), samples.last._2)
    }
    try {
      stackedAggProbe(60000L) // warm
      val (t1, n1) = stackedAggProbe(60000L)
      val (t10, n10) = stackedAggProbe(600000L)
      val e = Entry("stacked_agg_lower_requery", "scan", t1, t10, n1, n10)
      println(e.json)
      entries += e
      // one decade further: the r14 keyed-parquet overlay commit must
      // keep the riding round delta-bound at 6M groups too (the
      // transition round's one-off base write is untimed by design —
      // the probe times the median of five riding rounds)
      val (t100, n100) = stackedAggProbe(6000000L)
      val e100 = Entry("stacked_agg_lower_requery_100x", "scan", t1, t100, n1, n100)
      println(e100.json)
      entries += e100
    } catch {
      case ex: Throwable => println(
        s"""{"name":"stacked_agg_lower_requery","error":"${ex.getClass.getSimpleName}"}""")
    }

    // ---- OVER-CAP RANK BUFFER riding rounds (r14): a top_k view with
    // a VIEW-SIZED group count (one group per id) carries a prefix
    // buffer past the driver cap; riding rounds must run the PARTIAL
    // parquet-overlay merge (touched groups only) instead of the six
    // buffer-sized distributed passes. A small global-agg view stacked
    // on top is what the round re-queries, so the timed quantity is
    // maintenance (delta-bound via named-delta injection), not the
    // inherent cost of counting a view-sized result. Seed + transition
    // rounds stay untimed, as in the stacked probes.
    def rankBufProbe(n: Long): (Double, Long) = {
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
      e.catalog.register("rbase", spark.range(n).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal")).localCheckpoint(true))
      e.run("+rvw(I, top_k<1, S:desc>) <- rbase(I, D, S)\n" +
        "+rup(sum<S>, count<S>) <- rvw(I, S)")
      e.run("?rvw(I, S)").last.count() // materialize lower (untimed)
      e.run("?rup(S, C)").last.count() // materialize upper (untimed)
      def batch(lo: Long): String = (lo until lo + 20L)
        .map(i => s"($i, ${i % 100}, ${(i * 48271) % 500})").mkString(",")
      e.run(s"-rbase[${batch(0L)}]") // buffer seed round (untimed)
      e.run("?rup(S, C)").last.count()
      e.run(s"-rbase[${batch(50L)}]") // first ride: over-cap transition
      e.run("?rup(S, C)").last.count()
      val samples = Seq(100L, 200L, 300L, 400L, 500L).map { lo =>
        val t0 = System.nanoTime()
        e.run(s"-rbase[${batch(lo)}]")
        val rows = e.run("?rup(S, C)").last.count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      (med(samples.map(_._1)), samples.last._2)
    }
    try {
      rankBufProbe(60000L) // warm
      val (t1, n1) = rankBufProbe(60000L)
      val (t10, n10) = rankBufProbe(600000L)
      val e = Entry("topk_viewgroups_requery", "scan", t1, t10, n1, n10)
      println(e.json)
      entries += e
      val (t100, n100) = rankBufProbe(6000000L)
      val e100 = Entry("topk_viewgroups_requery_100x", "scan", t1, t100, n1, n100)
      println(e100.json)
      entries += e100
    } catch {
      case ex: Throwable => println(
        s"""{"name":"topk_viewgroups_requery","error":"${ex.getClass.getSimpleName}"}""")
    }

    // ---- WITHIN_RADIUS riding rounds on the bag carry (r15: the
    // fourth carrier family gets the same 10x/100x coverage as its agg/
    // cd/topk siblings). The radius view is a FILTER, so its size
    // tracks the base — a view-sized re-query count would drown the
    // maintenance signal — hence the radius binds the ID column
    // (id <= 1000: exactly ~1001 rows at ANY base size) and the carry
    // gate is pinned open (the Carrier tier, as the radius fuzz pins it)
    // so the small fixture still rides the production bag-carry path.
    // Timed quantity: five riding rounds' median — two delta-bound
    // collects plus driver bag math per round; the delete statement's
    // presence check is the only base-sized term (IN-pruned on the
    // parquet bases).
    def radiusProbe(n: Long, parquetBase: Boolean)(dummy: Long): (Double, Long) = {
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark),
        graft.iql.Engine.Limits(tier = graft.iql.Engine.Tier.Carrier))
      val base0 = spark.range(n).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal"))
      val base = if (!parquetBase) base0.localCheckpoint(true) else {
        val pq = s"/tmp/graft_scale_mbase_$n.parquet"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(pq)))
          base0.write.mode("overwrite").parquet(pq)
        spark.read.parquet(pq)
      }
      e.catalog.register("mbase", base)
      e.run("+mrad(D, within_radius<1000, S, I>) <- mbase(I, D, S)")
      e.run("?mrad(D, S, I)").last.count() // materialize (untimed)
      def batch(lo: Long): String = (lo until lo + 20L)
        .map(i => s"($i, ${i % 100}, ${(i * 48271) % 500})").mkString(",")
      e.run(s"-mbase[${batch(0L)}]") // round 1: opens the carry (untimed)
      e.run("?mrad(D, S, I)").last.count()
      val samples = Seq(100L, 200L, 300L, 400L, 500L).map { lo =>
        val t0 = System.nanoTime()
        e.run(s"-mbase[${batch(lo)}]")
        val rows = e.run("?mrad(D, S, I)").last.count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      (med(samples.map(_._1)), samples.last._2)
    }
    try {
      radiusProbe(60000L, parquetBase = false)(0L) // warm
      val (t1, n1) = radiusProbe(60000L, parquetBase = false)(0L)
      val (t10, n10) = radiusProbe(600000L, parquetBase = false)(0L)
      val e = Entry("radius_retract_requery", "scan", t1, t10, n1, n10)
      println(e.json)
      entries += e
      val (t100, n100) = radiusProbe(6000000L, parquetBase = true)(0L)
      val e100 = Entry("radius_retract_requery_100x", "scan", t1, t100, n1, n100)
      println(e100.json)
      entries += e100
    } catch {
      case ex: Throwable => println(
        s"""{"name":"radius_retract_requery","error":"${ex.getClass.getSimpleName}"}""")
    }

    // ---- MID-SIZE CONDITIONAL DELETE rounds at scale (r13 directive
    // #6: the conditional-delete literal path had no ScaleCheck entry).
    // An aggregate-fed base takes the EAGER-LITERAL shape under the r14
    // consumer gate: the delete statement collects the matching window
    // once (the id-range predicate prunes parquet row groups, so the
    // probe scan is window-bound, not base-bound) and every downstream
    // consumer re-reads a literal. Fixed ~20k-row matching window per
    // round; flat means the round is bounded by the matched set, not
    // the base. Job counts ride the notes array.
    var cdJobs = (0, 0)
    def condDelProbe(n: Long): (Double, Long, Int) = {
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
      val p = s"/tmp/graft_scale_cdbase_$n.parquet"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
        spark.range(n).select(
          col("id"), pmod(col("id"), lit(100L)).as("dept"),
          pmod(col("id") * 48271L, lit(500L)).as("sal"))
          .write.mode("overwrite").parquet(p)
      e.catalog.register("cbase", spark.read.parquet(p))
      e.run("+cdt(D, sum<S>, count<S>) <- cbase(I, D, S)")
      e.run("?cdt(D, S, C)").last.count() // materialize (untimed)
      e.run("-cbase(I, D, S) <- cbase(I, D, S), I >= 0, I < 20000") // seeds
      e.run("?cdt(D, S, C)").last.count()
      val tracker = spark.sparkContext.statusTracker
      // max job id, not list length — the tracker evicts old entries,
      // so a length delta can go negative over a long run
      def maxJob: Int = {
        val ids = tracker.getJobIdsForGroup(null)
        if (ids.isEmpty) 0 else ids.max
      }
      val j0 = maxJob
      val samples = Seq(100000L, 200000L, 300000L, 400000L, 500000L).map { lo =>
        val t0 = System.nanoTime()
        e.run(s"-cbase(I, D, S) <- cbase(I, D, S), I >= $lo, I < ${lo + 20000L}")
        val rows = e.run("?cdt(D, S, C)").last.count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val dj = maxJob - j0
      (med(samples.map(_._1)), samples.last._2, dj)
    }
    try {
      condDelProbe(600000L) // warm
      val (t1, n1, j1) = condDelProbe(600000L)
      val (t10, n10, j10) = condDelProbe(6000000L)
      cdJobs = (j1, j10)
      val e = Entry("cond_delete_requery", "scan", t1, t10, n1, n10)
      println(e.json)
      entries += e
    } catch {
      case ex: Throwable => println(
        s"""{"name":"cond_delete_requery","error":"${ex.getClass.getSimpleName}"}""")
    }

    // ---- negation-driven maintenance (q189's shape at scale) ----
    // The view negates a DERIVED relation; each round's mixed batch
    // moves one sentinel (insert a high row into a fresh dept = kills
    // that dept downstream, delete the previous sentinel = re-creates
    // its dept), so both flip directions run every round. The timed
    // quantity is the riding round: the derived-stratum diff (two
    // delta-sized collects) plus the DRed kill/rederive phases, whose
    // only base-sized terms are broadcast-joined map-only scans.
    def negProbe(n: Long): (Double, Long) = {
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
      e.catalog.register("mbase", spark.range(n).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal")).localCheckpoint(true))
      e.run("+nhigh(D) <- mbase(I, D, S), S >= 600\n" +
        "+nview(I, D) <- mbase(I, D, S), !nhigh(D), I % 997 = 0")
      e.run("?nview(I, D)").last.count() // materialize (untimed)
      var i = 0
      def round(): (Double, Long) = {
        val prev = s"-mbase(${9100000 + i - 1}, ${(i + 99) % 100}, 600)\n"
        val stmt = (if (i == 0) "" else prev) +
          s"+mbase[(${9100000 + i}, ${i % 100}, 600)]"
        val t0 = System.nanoTime()
        e.run(stmt)
        val rows = e.run("?nview(I, D)").last.count()
        i += 1
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      round() // warm (seeds the sentinel; insert-only round)
      val samples = Seq.fill(5)(round()) // all ride: mixed batches
      (med(samples.map(_._1)), samples.last._2)
    }
    try {
      negProbe(60000L) // warm (codegen, first-plan costs)
      val (t1, n1) = negProbe(60000L)
      val (t10, n10) = negProbe(600000L)
      // output-sensitive: nview (I % 997 filter over the base) grows
      // ~10x with the base, and each round's count() re-collects it
      val entry = Entry("neg_retract_requery", "output-sensitive", t1, t10, n1, n10)
      println(entry.json)
      entries += entry
    } catch {
      case ex: Throwable => println(
        s"""{"name":"neg_retract_requery","error":"${ex.getClass.getSimpleName}"}""")
    }

    // ---- negated dependency under an AGGREGATE head (q193's shape at
    // scale): blocklist moves maintain by dirty-group recompute keyed
    // off the flipped negated occurrence — per round two dirty groups
    // (the newly blocked and the newly unblocked dept), their recompute
    // a key-pruned scan, every other group's cached row kept verbatim.
    def aggNegProbe(n: Long): (Double, Long) = {
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
      e.catalog.register("mbase", spark.range(n).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal")).localCheckpoint(true))
      e.run("+mblk[(999)]\n+mav(D, sum<S>, count<S>) <- mbase(I, D, S), !mblk(D)")
      e.run("?mav(D, S, C)").last.count() // materialize (untimed)
      var i = 0
      def round(): (Double, Long) = {
        val stmt = s"+mblk[(${i % 100})]" +
          (if (i == 0) "" else s"\n-mblk[(${(i - 1) % 100})]")
        val t0 = System.nanoTime()
        e.run(stmt)
        val rows = e.run("?mav(D, S, C)").last.count()
        i += 1
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      round() // warm
      val samples = Seq.fill(5)(round())
      (med(samples.map(_._1)), samples.last._2)
    }
    try {
      aggNegProbe(60000L) // warm (codegen, first-plan costs)
      val (t1, n1) = aggNegProbe(60000L)
      val (t10, n10) = aggNegProbe(600000L)
      val entry = Entry("aggneg_retract_requery", "scan", t1, t10, n1, n10)
      println(entry.json)
      entries += entry
    } catch {
      case ex: Throwable => println(
        s"""{"name":"aggneg_retract_requery","error":"${ex.getClass.getSimpleName}"}""")
    }

    // ---- round-count flatness (the literal-churn overlay) ----
    // The OTHER scale axis: round COUNT, not data size. Before the
    // overlay, every literal batch stacked one operator onto the live
    // base plan, so round 50 re-executed 100 accumulated broadcast
    // builds per scan and cost grew linearly in rounds. t1 = min of
    // rounds 2-4, t10 = min of rounds 48-50 on one 600k-row engine;
    // flat ratio = maintenance cost is independent of session age.
    try {
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
      e.catalog.register("cbase", spark.range(600000L).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal")).localCheckpoint(true))
      e.run("+ctot(D, sum<S>, count<S>) <- cbase(I, D, S)")
      e.run("?ctot(D, S, C)").last.count() // materialize (untimed)
      def round(i: Int): (Double, Long) = {
        val t0 = System.nanoTime()
        e.run(s"+cbase[(${9200000 + i}, ${i % 100}, ${i % 500})]")
        e.run(s"-cbase(${9200000 + i}, ${i % 100}, ${i % 500})")
        val n = e.run("?ctot(D, S, C)").last.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val all = (0 until 50).map(round)
      val early = all.slice(1, 4).map(_._1).min
      val late = all.slice(47, 50).map(_._1).min
      val entry = Entry("churn_round50_vs_round3", "scan",
        early, late, all(3)._2, all(49)._2)
      println(entry.json)
      entries += entry
    } catch {
      case ex: Throwable => println(
        s"""{"name":"churn_round50_vs_round3","error":"${ex.getClass.getSimpleName}"}""")
    }

    // ---- rule-change invalidation is dependency-scoped ----
    // Round 11 made rule adds invalidate only DEPENDENT views (EngineSpec
    // pins the live-vs-retired counters); this probe makes the win
    // scale-visible on a big base: after an UNRELATED rule lands, the
    // view re-serves from its materialization (cache-hit cost, flat in
    // base size); after a DEPENDENT rule lands (head inside the view's
    // closure) it must re-derive and pays the body scan again.
    // t1 = unrelated-add re-query, t10 = dependent-add re-query — the
    // ratio IS the measured asymmetry, not a regression slope.
    try {
      val e = new graft.iql.Engine(new graft.iql.Catalog(spark))
      e.catalog.register("rbase", spark.range(600000L).select(
        col("id"), pmod(col("id"), lit(100L)).as("dept"),
        pmod(col("id") * 48271L, lit(500L)).as("sal")).localCheckpoint(true))
      e.run("+rmid(I, D, S) <- rbase(I, D, S)\n+rview(D, S) <- rmid(I, D, S), S > 250")
      e.run("?rview(D, S)").last.count() // materialize (untimed)
      e.run("+rtiny[(900000001)]")
      e.run("?rview(D, S)").last.count() // settle post-insert maintenance
      e.run("+runrel(X) <- rtiny(X)") // UNRELATED head: view stays live
      val tHit0 = System.nanoTime()
      val nHit = e.run("?rview(D, S)").last.count()
      val tHit = (System.nanoTime() - tHit0) / 1e9
      // DEPENDENT head (rmid is in rview's closure): re-derivation
      e.run("+rmid(I, D, S) <- rtiny(I), rtiny(D), rtiny(S)")
      val tMiss0 = System.nanoTime()
      val nMiss = e.run("?rview(D, S)").last.count()
      val tMiss = (System.nanoTime() - tMiss0) / 1e9
      val entry = Entry("rule_invalidation_asymmetry", "asymmetry",
        tHit, tMiss, nHit, nMiss)
      println(entry.json)
      entries += entry
    } catch {
      case ex: Throwable => println(
        s"""{"name":"rule_invalidation_asymmetry","error":"${ex.getClass.getSimpleName}"}""")
    }

    // ---- the original MinHash output-sensitivity probe ----
    {
      val docs = Tables.load(spark, dir1, "documents").localCheckpoint(true)
      val docs10 = Tables.load(spark, dir10, "documents").localCheckpoint(true)
      Dedup.minHashPairs(docs, threshold = 0.35).count() // warm
      val (t1, n1) = timeCount(Dedup.minHashPairs(docs, threshold = 0.35))
      val (t10, n10) = timeCount(Dedup.minHashPairs(docs10, threshold = 0.35))
      val e = Entry("minhash_pairs", "output-sensitive", t1, t10, n1, n10)
      println(e.json)
      entries += e
    }

    val all = entries.result()
    val regressions = all.filter(_.regression).map(_.name)
    // q150 (span mix) cannot run on THIS 10× corpus by construction:
    // full replication dup-covers every document, so its quality gate
    // legitimately empties the mix input (verified: temperatureMix
    // rejects the empty frame). Its heavy stages are probed via
    // q134/q155; the mix stage is a map-only splitmix pass (q145 shape).
    val notes = Seq(
      "\"q150_curation_span_mix: skipped — fully-replicated corpus dup-covers every doc, " +
      "the quality gate empties the mix input; heavy stages covered by q134/q155\"",
      s""""cond_delete_requery: two timed rounds (mid-size literal path) ran ${cdJobs._1} jobs at 600k and ${cdJobs._2} jobs at 6M"""")
    val json =
      s"""{"sf":"$dir1","scale":"10x","entries":[${all.map(_.json).mkString(",")}],""" +
      s""""regressions":[${regressions.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""notes":[${notes.mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALECHECK.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
