package graft

import org.apache.spark.sql.execution.SimpleMode

/** Plan-shape regression guards: the physical plans the 100 TB design
  * depends on (filter pushdown to the parquet scan, column pruning,
  * ordered-limit instead of global windows) must survive refactors.
  * Asserting on explain output is deliberate — these properties are
  * invisible to row-level correctness checks. */
class PlanQualitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.explainString(SimpleMode)

  test("q01 pushes its predicate into the parquet scan and prunes columns") {
    assume(new java.io.File(s"$sf/lineitem.parquet").exists)
    val plan = planOf("q01_filter_project")
    assert("PushedFilters: \\[[^\\]]*[A-Za-z]".r.findFirstIn(plan).isDefined, plan)
    // pruned read: the scan must not request every lineitem column
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(read.exists(_.split(",").length <= 6), s"unpruned scan: $read")
  }

  test("q19 pushes the timestamp range filter down under micros storage") {
    assume(new java.io.File(s"$sf/events.parquet").exists)
    val plan = planOf("q19_temporal_filter")
    // under nanos-as-long storage ts is computed and this can't push; the
    // current testdata is timestamp[us], where pushdown must hold. The
    // loader exposes ts/ts_ns under BOTH storage types, so detection must
    // look at the RAW parquet schema (nanos generations read ts as long).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawTs = spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType
    assume(rawTs != org.apache.spark.sql.types.LongType)
    if (plan.contains("PushedFilters")) {
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).mkString
      assert(pushed.contains("GreaterThanOrEqual(ts") || pushed.contains("LessThan(ts"),
        s"q19 range filter not pushed: $pushed")
    }
  }

  test("q94 quantiles partial-aggregate map-side and prune the scan") {
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    val plan = planOf("q94_corpus_quantiles")
    // map-side combine before the exchange: percentile state (a bounded
    // value→count map) must partial-aggregate, or every raw token count
    // crosses the shuffle at corpus scale
    assert(plan.contains("partial_percentile_disc"), plan)
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(read.exists(_.split(",").length <= 2), s"unpruned scan: $read")
  }

  test("q33 brute-force ANN is a TakeOrderedAndProject, not a global sort") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists)
    val plan = planOf("q33_ann_bruteforce")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("map-only pipeline ops stay shuffle-free: mix, BPE encode, projection, PQ codes") {
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    // each of these is per-row work — an Exchange in the plan means a
    // refactor introduced a shuffle that linear 100 TB scans can't pay
    Seq("q97_source_mix", "q100_bpe_encode", "q102_random_projection",
        "q104_pq_codes").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("Exchange"), s"$q gained a shuffle:\n$plan")
    }
  }

  test("q157 gopher repetition is one map-only pass with one kernel call per row") {
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    val plan = planOf("q157_gopher_repetition")
    Seq("Exchange", "Window", "Generate", "Join", "Aggregate").foreach { op =>
      assert(!plan.contains(op), s"q157 gained a $op:\n$plan")
    }
    // the numerators array is projected once and read four times
    assert("UDF\\(".r.findAllIn(plan).length == 1, s"kernel evaluated more than once:\n$plan")
  }

  test("q185 blocked bitext mining never broadcasts a corpus side") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists)
    // the blocked generator is an equi-join on cell — Catalyst may
    // hash-broadcast a SMALL side by size (fine; at scale it flips to
    // a shuffled join), but a nested-loop cross-join of corpus sides
    // must never appear
    val plan = planOf("q185_bitext_blocked")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // r16: under the gate the broadcast form is the BLOCK-LOCAL
    // generator (one mapPartitions pass over a against the collected b
    // block) — no join of any kind generates pairs anymore; the margin
    // algebra reads the materialized (kind, a_id, b_id, cos) candidates
    val bplan = planOf("q181_bitext_margin")
    assert(!bplan.contains("BroadcastNestedLoopJoin"), bplan)
    assert(bplan.contains("ExistingRDD"), bplan)
  }

  test("PQ ADC top-k is a TakeOrderedAndProject over the code scan") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists)
    val plan = planOf("q105_pq_adc_seeded")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("pps sampling is a pure scan filter; heavy hitters rank via WindowGroupLimit") {
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    assert(!planOf("q109_pps_sample").contains("Exchange"),
      "pps sample gained a shuffle")
    val hh = planOf("q115_top_terms")
    assert(hh.contains("WindowGroupLimit"), hh)
    // per-source cap: rank ≤ cap must cut inside the sort (cap rows of
    // per-task state however hot the domain), not via a full window
    val cap = planOf("q121_source_cap")
    assert(cap.contains("WindowGroupLimit"), cap)
  }

  test("contamination report broadcasts the benchmark side") {
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    val plan = planOf("q120_contamination_score")
    // the benchmark's distinct shingle set must ship broadcast — a
    // shuffle join here would re-shuffle the full corpus's shingles
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("semdedup hot-cell guard spreads a degenerate cell over blocked join keys") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // single centroid = every row in ONE cell; threshold 0 forces the
    // blocked path, whose pair join must key on (cell, __p, __q) — B²
    // reducer keys — never on cell alone (one reducer, O(n²) pairs)
    val plan = graft.operators.Dedup.semanticPairs(emb,
        Array(Array.fill(64)(0.0)), minCosine = 0.3,
        hotCellThreshold = 0L, hotCellBlocks = 4)
      .queryExecution.explainString(SimpleMode)
    assert("hashpartitioning\\([^)]*__p[^)]*__q".r.findFirstIn(plan).isDefined,
      s"blocked join keys missing from:\n$plan")
  }

  test("sketched quantiles partial-aggregate map-side") {
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    val plan = planOf("q116_quantile_sketch")
    assert(plan.contains("partial_approx_percentile"), plan)
  }

  test("new analytics stay scale-shaped: keyed windows, partial aggs, no cartesian") {
    assume(new java.io.File(s"$sf/orders.parquet").exists)
    // q146/q151: every window is PARTITION-keyed — an unpartitioned
    // window funnels the corpus through one task
    Seq("q146_window_suite", "q151_sliding_window").foreach { q =>
      val physical = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(physical.contains("Window"), s"$q lost its window operator")
      assert("windowspecdefinition\\(\\s*(o_totalprice|epoch|ts_ns)".r
        .findFirstIn(physical).isEmpty, s"$q window has no partition keys")
    }
    // q147/q153/q154: aggregates partial-aggregate map-side
    Seq("q147_rollup", "q153_grouped_corr", "q154_histogram").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("partial_"), s"$q has no map-side partial agg:\n$plan")
    }
    // q134: the gram df decision at minDocs=2 must be min/max (no
    // distinct expansion) and the islands window keyed per doc
    val spans = planOf("q134_duplicate_spans")
    assert(!spans.contains("count(distinct"), s"q134 re-grew the distinct expansion")
  }

  test("bucketed co-located join runs with zero exchanges") {
    assume(new java.io.File(s"$sf/orders.parquet").exists)
    // disable broadcast so the join would otherwise be a shuffled
    // sort-merge — the bucketing metadata must remove both exchanges
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q144_bucketed_join")(spark, sf)
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"),
        s"bucketed join still shuffles:\n$physical")
      // and the layout changed only the plan, not the result
      assert(df.count() ==
        SparkEntry.queries("q113_salted_join")(spark, sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("html extraction is map-only and setsim's PPJoin path never aggregates pairs") {
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    // extraction is per-row regex work — any Exchange is a regression
    val ext = planOf("q159_html_extract")
    assert(!ext.contains("Exchange"), s"q159 gained a shuffle:\n$ext")
    // PPJoin path (large vocabulary forces it): the canonical-generator
    // kernel replaced the pair-dedup shuffle, so no aggregation may sit
    // ABOVE the prefix self-join — the only aggregates allowed are the
    // upstream df/rank/sets builds. Guard: the kernel is present and no
    // HashAggregate keys on the pair columns.
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(1)
    val docs = (1 to 50).map { i =>
      (i.toLong, Seq.fill(10)("w" + rnd.nextInt(200)).mkString(" "))
    }.toDF("doc_id", "text")
    val plan = graft.operators.Dedup.setSimilarityJoin(docs)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("setsim_canon_inter"), s"kernel missing:\n$plan")
    assert(!"hashaggregate.*id_a.*id_b".r.findFirstIn(plan.toLowerCase).isDefined,
      s"pair-dedup aggregation came back:\n$plan")
  }

  test("semantic decontam broadcasts the benchmark and partial-aggregates the argmax") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists)
    val plan = planOf("q182_semantic_decontam")
    // the benchmark set broadcasts (eval suites are small by nature)...
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    // ...and the per-corpus-row argmax combines map-side, so the only
    // exchange carries one slim row per corpus vector, never the
    // corpus × benchmark cross product
    assert(plan.contains("partial_max") || plan.contains("HashAggregate(keys=[__cid"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("exact-delete presence check never shuffles the base relation") {
    // Catalog.presenceExact: the pruned plan's only base-sized term must
    // be a (broadcast-filtered) scan — a SortMergeJoin or base-side
    // shuffle here is the O(base-shuffle)-per-maintenance-round shape
    // the round-12 fix removed (ScaleCheck retract probes 1.9x -> ~1.0x)
    val cat = new graft.iql.Catalog(spark)
    cat.register("pbase", spark.range(50000L).selectExpr(
      "id", "id % 100 AS dept", "(id * 48271) % 500 AS sal"))
    // (7,7,397) and (8,8,168) are present; the third tuple is a phantom
    cat.delete("pbase", Seq(Seq(7L, 7L, 397L), Seq(8L, 8L, 168L),
      Seq(999999L, 1L, 1L)))
    val exact = cat.changeLog.last.removedExact
    assert(exact != null)
    val plan = exact.queryExecution.explainString(SimpleMode)
    assert(!plan.contains("SortMergeJoin"), s"presence check shuffles the base:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"presence check not broadcast:\n$plan")
    // the literal IN prefilter reaches the base scan's filter
    assert(plan.contains(" IN (") || plan.contains("id#"),
      s"missing literal prefilter:\n$plan")
    // and it still computes the right rows: only the present tuple
    assert(exact.count() == 2L)
  }

  test("a riding top_k delete round serves from the carried buffer, not the base") {
    // maintainRankBuffered: after the buffer seeds, a riding delete
    // round's served view is an expansion over the checkpointed buffer
    // (window + explode over ≤ k+slack rows per group) — a parquet /
    // range rescan of the base in the served plan would mean the round
    // recomputed after all
    val cat = new graft.iql.Catalog(spark)
    cat.register("tkbase", spark.range(50000L).selectExpr(
      "id", "id % 100 AS dept", "(id * 48271) % 500 AS sal"))
    val e = new graft.iql.Engine(cat)
    e.run("+tkb(D, top_k<3, I, S:desc>) <- tkbase(I, D, S)")
    e.run("?tkb(D, I, S)")
    e.run("-tkbase[(7, 7, 397)]")   // deferral round (registered base)
    e.run("?tkb(D, I, S)")
    e.run("-tkbase[(8, 8, 168)]")   // seeds the buffer
    e.run("?tkb(D, I, S)")
    val s0 = e.rankBufferSeeds
    val l0 = e.rankLocalRides
    e.run("-tkbase[(107, 7, 497)]") // rides the carried buffer
    val served = e.run("?tkb(D, I, S)").last
    assert(e.rankBufferSeeds == s0, "riding round must not reseed")
    val plan = served.queryExecution.explainString(SimpleMode)
    assert(!plan.contains("Range (0, 50000"),
      s"riding round rescans the base:\n$plan")
    // the common riding round merges driver-locally and serves a
    // literal frame (zero-job read of the carried buffer copy); a
    // fallback round expands the checkpointed buffer via a keyed
    // window — both are buffer-only serves, so accept either, but pin
    // that THIS unexceptional round took the local path
    assert(e.rankLocalRides == l0 + 1, "expected the local riding path")
    assert(plan.contains("LocalTableScan") || plan.contains("Window") ||
      plan.contains("RunningWindowFunction"),
      s"served view should come from the buffer merge:\n$plan")
    assert(served.count() == 300L)
  }

  test("bitext margin mining computes its pair table once") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists)
    val plan = planOf("q181_bitext_margin")
    // r16: ONE block-local scoring pass materializes the per-side top-k
    // candidates; the rank windows and both denominator averages read
    // that checkpoint (Scan ExistingRDD) — no pair-generating join of
    // any kind survives in the plan, so the |a|×|b| cosine work can
    // only have run once (the r15 shape re-ran a
    // BroadcastNestedLoopJoin subtree per consumer — six in the plan)
    assert(plan.contains("ExistingRDD"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pca projection and hard negatives keep their scale shapes") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists)
    // projection with a trained model is map-only (model rides as
    // literals); only the training aggregations may shuffle — so plan
    // the PROJECT stage alone
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = graft.operators.Similarity.PcaModel(
      Array.fill(64)(0.0), Array(Array.fill(64)(0.1)), Array(1.0))
    val proj = graft.operators.Similarity.pcaProject(emb, model)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!proj.contains("Exchange"), s"pcaProject gained a shuffle:\n$proj")
    // hard negatives: probe side broadcasts; no sort-merge of the corpus
    val neg = planOf("q170_hard_negatives")
    assert(neg.contains("BroadcastExchange") || neg.contains("BroadcastNestedLoopJoin"),
      s"q170 probe side not broadcast:\n$neg")
  }

}
