package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.plans.Fixpoint
import graft.operators.{Bpe, Dedup, EventOps, Similarity, TextAnalysis, Multimodal, Sampling}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF, TemporalFunctions => TempF}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator family from
  * SURVEY.md §2 (scan/filter/project, equi- and cross-join, antijoin,
  * union/intersect/except, distinct, group/global aggregation, compute,
  * ranking top-k, sort/limit/offset, recursion/fixpoint, vector,
  * temporal, text-pipeline ops). Entries with an [[oracleSql]] twin are
  * hash-checked against DuckDB; the rest are rows-only (non-SQL ops)
  * and verified by ScalaTest specs instead.
  *
  * Determinism rules used throughout so Spark and DuckDB agree bit-for-
  * bit on doubles: sums go through DECIMAL(18,x) (order-independent)
  * and are cast back to DOUBLE; averages divide an exact decimal
  * numerator by a count in IEEE double; per-row double arithmetic is
  * identical expression trees on both sides; libm-divergent functions
  * (pow, exp, log) are kept out of oracle-checked outputs.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** sum(CAST(c AS DECIMAL(18,2))) cast back to double — deterministic. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  private def dsum4(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_join3_arith")(spark, "/root/testdata/sf0.001")

  /** Deterministic 25-node edge relation derived from `nation`:
    * chain n→n+1 plus skip links n→n+5 (for the recursion queries). */
  private def graphEdges(s: SparkSession, dir: String): DataFrame = {
    val n = T(s, dir, "nation").select(col("n_nationkey").cast("int").as("k"))
    n.where(col("k") < 24).select(col("k").as("src"), (col("k") + 1).as("dst"))
      .union(n.where(col("k") + 5 <= 24).select(col("k").as("src"), (col("k") + 5).as("dst")))
  }
  private val graphEdgesSql =
    """SELECT n_nationkey AS src, n_nationkey + 1 AS dst FROM nation WHERE n_nationkey < 24
      |UNION ALL
      |SELECT n_nationkey AS src, n_nationkey + 5 AS dst FROM nation WHERE n_nationkey + 5 <= 24""".stripMargin

  /** 1000-node / 2000-edge pseudo-random digraph at the reference
    * BASELINE's benchmark scale (`BENCHMARKS.md:19`), generated from an
    * arithmetic LCG so the DuckDB oracle reproduces the identical edge
    * set (hash functions differ across engines; multiply-add doesn't). */
  private def benchGraph(s: SparkSession): DataFrame =
    s.range(2000).select(
      pmod(pmod(col("id") * 48271L, lit(65537L)), lit(1000L)).as("src"),
      pmod(pmod(col("id") * 69621L + 12345L, lit(65537L)), lit(1000L)).as("dst"))
  private val benchGraphSql =
    """SELECT ((i*48271)%65537)%1000 AS src, ((i*69621+12345)%65537)%1000 AS dst
      |FROM range(2000) t(i)""".stripMargin

  /** The bench digraph's LCG folded onto 200 nodes — avg degree ~20, so
    * it actually contains triangles (1048 of them; the 1000-node graph
    * has 9 — too thin to exercise a per-node triangle count). */
  private def denseGraph(s: SparkSession): DataFrame =
    s.range(2000).select(
      pmod(pmod(col("id") * 48271L, lit(65537L)), lit(200L)).as("src"),
      pmod(pmod(col("id") * 69621L + 12345L, lit(65537L)), lit(200L)).as("dst"))
  private val denseGraphSql =
    """SELECT ((i*48271)%65537)%200 AS src, ((i*69621+12345)%65537)%200 AS dst
      |FROM range(2000) t(i)""".stripMargin

  /** Deterministic synthetic crawl-page shell around a text column: real
    * chrome (head/script/style/comment, an all-anchor nav, a footer
    * with an entity) so [[graft.operators.TextAnalysis.extractHtmlText]]
    * must strip markup AND apply the link-density rule, while the body
    * text must survive byte-for-byte. */
  private val HtmlPrefix =
    "<html><head><title>T</title><script>var x = 1 < 2;</script>" +
      "<style>.m { color: red; }</style></head><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/about\">About us</a> " +
      "<a href=\"/contact\">Contact</a></nav><!-- layout --><div class=\"main\">"
  private val HtmlSuffix =
    "</div><footer><a href=\"/privacy\">Privacy</a> &amp; " +
      "<a href=\"/terms\">Terms</a></footer></body></html>"
  private def htmlWrap(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit(HtmlPrefix), coalesce(text, lit("")), lit(HtmlSuffix))
  private def sqlQuote(s: String): String = s.replace("'", "''")
  private val htmlWrapSql =
    s"SELECT doc_id, '${sqlQuote(HtmlPrefix)}' || coalesce(text, '') || " +
      s"'${sqlQuote(HtmlSuffix)}' AS html FROM documents"

  /** Sparse undirected chain with 5 components (for connected components). */
  private def ccEdges(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "nation").select(col("n_nationkey").cast("int").as("k"))
      .where(col("k") < 24 && pmod(col("k"), lit(5)) =!= 4)
      .select(col("k").as("a"), (col("k") + 1).as("b"))

  // =====================================================================
  // Query catalog
  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- scan / filter / project (predicate + projection pushdown) ----
    "q01_filter_project" -> ((s, dir) =>
      T(s, dir, "lineitem").where(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // --- group-by aggregation (TPC-H Q1 shape) ------------------------
    "q02_groupby_agg" -> ((s, dir) =>
      T(s, dir, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_rows"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))),

    // --- equi-join -----------------------------------------------------
    "q03_join_basic" -> ((s, dir) =>
      T(s, dir, "nation").join(T(s, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name"), col("r_name"))),

    // --- 3-way join + filter + arithmetic + aggregation ----------------
    "q04_join3_arith" -> ((s, dir) => {
      val c = T(s, dir, "customer"); val o = T(s, dir, "orders"); val l = T(s, dir, "lineitem")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .where(col("l_quantity") > 10)
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // --- antijoin (stratified negation) --------------------------------
    "q05_antijoin" -> ((s, dir) =>
      T(s, dir, "customer").join(T(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    // --- semijoin (EXISTS) ----------------------------------------------
    "q06_semijoin" -> ((s, dir) =>
      T(s, dir, "customer").join(T(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"))),

    // --- union + distinct (multi-rule head semantics) -------------------
    "q07_union_distinct" -> ((s, dir) =>
      T(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .union(T(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .distinct()),

    // --- intersect / except ---------------------------------------------
    "q41_intersect" -> ((s, dir) =>
      T(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .intersect(T(s, dir, "supplier").select(col("s_nationkey").as("nk")))),
    "q42_except" -> ((s, dir) =>
      T(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .except(T(s, dir, "supplier").select(col("s_nationkey").as("nk")))),

    // --- cartesian product ----------------------------------------------
    "q08_cross_product" -> ((s, dir) =>
      T(s, dir, "region").select(col("r_name"))
        .crossJoin(T(s, dir, "nation").select(col("n_name")))),

    // --- distinct ---------------------------------------------------------
    "q09_distinct" -> ((s, dir) =>
      T(s, dir, "customer").select(col("c_mktsegment")).distinct()),

    // --- top-k per group (ranking aggregate) ------------------------------
    "q10_topk_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      T(s, dir, "orders").withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    }),

    // --- sort + limit + offset --------------------------------------------
    "q11_sort_limit_offset" -> ((s, dir) =>
      T(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_totalprice"))
        .offset(10).limit(50)),

    // --- aggregate function suite -----------------------------------------
    "q12_agg_suite" -> ((s, dir) =>
      T(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_partkey")).as("n_parts"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          dsum(col("l_quantity")).as("sum_qty"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))),

    // --- HAVING (filter over aggregate) -------------------------------------
    "q13_having" -> ((s, dir) =>
      T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .where(col("n_orders") >= 12)),

    // --- compute (per-row scalar arithmetic) --------------------------------
    "q14_compute_arith" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_price"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("charge"))),

    // --- string builtins ------------------------------------------------------
    "q15_string_funcs" -> ((s, dir) =>
      T(s, dir, "part").select(col("p_partkey"),
        upper(col("p_name")).as("uname"),
        lower(col("p_brand")).as("lbrand"),
        substring(col("p_type"), 1, 5).as("type5"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), " ", "_").as("uscored"))),

    // --- math builtins ---------------------------------------------------------
    "q16_math_funcs" -> ((s, dir) =>
      T(s, dir, "customer").select(col("c_custkey"),
        abs(col("c_acctbal")).as("abal"),
        sqrt(abs(col("c_acctbal"))).as("sq"),
        floor(col("c_acctbal")).cast("long").as("fl"),
        ceil(col("c_acctbal")).cast("long").as("ce"),
        signum(col("c_acctbal")).cast("long").as("sgn"),
        (col("c_acctbal") * col("c_acctbal")).as("sq2"))),

    // --- conditional expression --------------------------------------------------
    "q17_case_when" -> ((s, dir) =>
      T(s, dir, "orders").select(
        when(col("o_totalprice") > 200000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))),

    // --- temporal: date parts ------------------------------------------------------
    "q18_date_parts" -> ((s, dir) =>
      T(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))),

    // --- temporal: ms-epoch window filter (reference temporal_ops domain).
    //     Filters on the NATIVE timestamp column so the range predicate
    //     reaches the parquet scan as PushedFilters (with timestamp[us]
    //     storage; under nanos-as-long storage ts is computed and the
    //     filter evaluates post-scan but stays exact). Bounds are the ms
    //     window widened to the storage µs resolution: epoch_ms(ts) <= X
    //     ⟺ µs < (X+1)·1000. ---------------------------------------------
    "q19_temporal_filter" -> ((s, dir) =>
      T(s, dir, "events")
        .where(col("ts") >= expr(s"timestamp_micros(${1704844800000L * 1000L}L)") &&
               col("ts") < expr(s"timestamp_micros(${1705449600001L * 1000L}L)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"), max(col("value")).as("max_v"))),

    // --- window: running sum ----------------------------------------------------------
    "q20_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").as("running_total"))
    }),

    // --- relational: the full WINDOW-FUNCTION suite — row_number /
    //     rank / ntile / lag / lead under one total order (price desc,
    //     key) per customer; partition-keyed windows scale out --------
    "q146_window_suite" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rk"),
        ntile(4).over(w).cast("long").as("quartile"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"))
    }),

    // --- relational: ROLLUP — the OLAP subtotal lattice (flag,status)
    //     → (flag) → (); decimal sums for order-independent exactness -
    "q147_rollup" -> ((s, dir) =>
      T(s, dir, "lineitem").rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))),

    // --- relational: PIVOT — order status to columns per customer
    //     bucket (explicit value list keeps the plan static) ----------
    "q148_pivot" -> ((s, dir) =>
      T(s, dir, "orders")
        .withColumn("bucket", pmod(col("o_custkey"), lit(10L)))
        .groupBy("bucket").pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))),

    // --- events: FUNNEL — view → purchase conversion, overall and
    //     within 24h of the user's FIRST view; one aggregated row ----
    "q149_funnel" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts_ns")).as("first_view"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ns"))
      val conv = v.join(p, Seq("user_id"))
        .where(col("ts_ns") >= col("first_view"))
        .groupBy("user_id")
        .agg(min(col("ts_ns") - col("first_view")).as("delay"))
      v.agg(count(lit(1)).as("n_view_users")).crossJoin(
        conv.agg(count(lit(1)).as("n_converted"),
          count(when(col("delay") <= 86400L * 1000000000L, 1)).as("n_converted_24h")))
    }),

    // --- recursion: full transitive closure (semi-naive fixpoint) ----------------------
    "q21_transitive_closure" -> ((s, dir) =>
      Fixpoint.transitiveClosure(graphEdges(s, dir))),

    // --- recursion: bound reachability (magic-sets demand restriction) -----------------
    "q22_bound_reach" -> ((s, dir) => {
      import s.implicits._
      Fixpoint.boundReachability(graphEdges(s, dir), Seq(0).toDF("src"))
        .select(col("dst"))
    }),

    // --- recursion: connected components -----------------------------------------------
    "q23_connected_components" -> ((s, dir) =>
      Fixpoint.connectedComponents(ccEdges(s, dir))),

    // --- global (group-less) aggregate --------------------------------------------------
    "q24_global_agg" -> ((s, dir) =>
      T(s, dir, "lineitem").agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        dsum(col("l_extendedprice")).as("sum_price"))),

    // --- pipeline: exact dedup -----------------------------------------------------------
    "q25_dedup_exact" -> ((s, dir) =>
      Dedup.exact(T(s, dir, "documents"))),

    // --- pipeline: token counting ----------------------------------------------------------
    "q26_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenCounts(T(s, dir, "documents"))),

    // --- pipeline: quality features ---------------------------------------------------------
    "q27_quality_features" -> ((s, dir) =>
      TextAnalysis.qualityFeatures(T(s, dir, "documents"))),

    // --- pipeline: composite quality score (heuristic — rows-only) ---------------------------
    "q28_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScores(T(s, dir, "documents"))),

    // --- pipeline: language id (heuristic — rows-only, accuracy in specs) ---------------------
    "q29_lang_id" -> ((s, dir) =>
      TextAnalysis.languageId(T(s, dir, "documents"))),

    // --- pipeline: MinHash near-dup pairs (rows-only; properties in specs) ---------------------
    "q30_minhash_pairs" -> ((s, dir) =>
      Dedup.minHashPairs(T(s, dir, "documents"), threshold = 0.35)),

    // --- pipeline: SimHash + rolling-hash fingerprints (FNV+splitmix
    //     hash family — exact-oracled in DuckDB since round 5) ----------
    "q31_fingerprints" -> ((s, dir) =>
      TextAnalysis.fingerprints(T(s, dir, "documents"))),

    // --- pipeline: exact n-gram Jaccard over LSH candidates (rows-only) --------------------------
    "q32_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), shingleN = 2, threshold = 0.3)),

    // --- pipeline: exact brute-force ANN top-k ----------------------------------------------------
    "q33_ann_bruteforce" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.bruteForceTopK(emb, q, 10).select(col("vec_id"))
    }),

    // --- pipeline: LSH approximate ANN over the partitionBy(bucket)
    //     layout — the probe filters on the STORED bucket column, so the
    //     scan prunes to the probe partitions instead of evaluating
    //     hyperplane dots over every row. The seeded planes are
    //     deterministic constants, so the DuckDB oracle replays the
    //     bucket + Hamming≤2 probe math on literal planes — exact-hash
    //     checked, plus the all-probes twin q66 ------------------------
    "q34_ann_lsh" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.lshTopKBucketed(lshLayout(s, dir), q, 10, dim = 64)
        .select(col("vec_id"))
    }),

    // --- pipeline: IVF approximate ANN (seeded centroids are constants:
    //     oracle replays cell argmax + 4-probe selection on literals;
    //     all-probes twin q67, trained variant q61) --------------------
    "q35_ann_ivf" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.ivfTopK(emb, q, 10, dim = 64)
        .select(col("vec_id"))
    }),

    // --- pipeline: TRAINED IVF (k-means coarse quantizer), probing ALL
    //     cells — the candidate set is then the whole table, so the
    //     result must EQUAL brute-force top-k: a hard oracle on the
    //     train/assign/probe machinery (smaller nprobe is the recall/
    //     cost knob; the 100 TB layout writes partitionBy(cell)) --------
    "q61_ann_ivf_trained" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cent = ivfCentroids(s, dir)
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.ivfTopKTrained(emb, q, 10, cent, nprobe = cent.length)
        .select(col("vec_id"))
    }),

    // --- pipeline: LSH bucketed layout probed with EVERY bucket — reads
    //     all partitions through the same stored-bucket path q34 prunes,
    //     so the result must EQUAL brute-force top-k: a hard oracle on
    //     the assign/write/probe machinery (q34's exact twin) ------------
    "q66_ann_lsh_allprobes" -> ((s, dir) => {
      val q = T(s, dir, "embeddings").where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.lshTopKBucketed(lshLayout(s, dir), q, 10, dim = 64,
        allProbes = true).select(col("vec_id"))
    }),

    // --- IQL: retraction through a MULTI-RULE non-recursive view — a
    //     conditional delete logs its exact removed tuples, and the
    //     re-query is served by DRed maintenance (over-delete the
    //     derivations through removed tuples, re-derive survivors with
    //     the head pushed into the body as a guard) instead of
    //     recomputing; EngineSpec asserts the maintenance counter -------
    "q68_iql_dred_delete" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("nat", T(s, dir, "nation").select(
        col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long")))
      e.catalog.register("reg", T(s, dir, "region").select(
        col("r_regionkey").cast("long"), col("r_name")))
      e.run(
        """+big(N, R) <- nat(NK, N, RK), reg(RK, R)
          |+big(N, "extra") <- nat(NK, N, RK), NK > 20
          |?big(N, R)
          |""".stripMargin)
      e.run("-nat(NK, N, RK) <- nat(NK, N, RK), RK = 2") // conditional delete
      e.run("?big(N, R)").last                           // DRed-maintained
    }),

    // --- IQL: retraction through a RECURSIVE multi-rule view — DRed's
    //     over-delete cascades through the closure's own derivations to
    //     fixpoint, then survivors re-derive iteratively: (5,10) keeps
    //     its e2 derivation, and everything reachable only through
    //     (0,1) retracts; EngineSpec asserts the maintenance counter ----
    "q76_iql_dred_recursive" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      val n = T(s, dir, "nation").select(col("n_nationkey").cast("int").as("k"))
      e.catalog.register("e1", graphEdges(s, dir))
      e.catalog.register("e2",
        n.where(col("k") + 5 <= 24).select(col("k").as("src"), (col("k") + 5).as("dst")))
      e.run(
        """+r(X, Y) <- e1(X, Y)
          |+r(X, Y) <- e2(X, Y)
          |+r(X, Z) <- r(X, Y), r(Y, Z)
          |?r(X, Y)
          |""".stripMargin)
      e.run("-e1[(0, 1), (5, 10)]") // (5,10) survives via e2; (0,1) is gone
      e.run("?r(X, Y)").last        // served by recursive DRed
    }),

    // --- IQL: NEGATION-DEPENDENT incremental maintenance — changes to a
    //     relation appearing under stratified negation flip sign: the
    //     +nblk insert KILLS closure rows through the recursion (DRed
    //     with the negated occurrence flipped positive), the -nblk
    //     removal REVIVES them (flip-bound seeds feeding the semi-naive
    //     continuation); both rounds maintain, never recompute
    //     (EngineSpec pins the counter for these shapes) ----------------
    "q180_iql_negation_ivm" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("nedge", graphEdges(s, dir))
      e.run(
        """+nblk[(3), (17)]
          |+nreach(X, Y) <- nedge(X, Y), !nblk(Y)
          |+nreach(X, Z) <- nreach(X, Y), nedge(Y, Z), !nblk(Z)
          |?nreach(X, Y)
          |""".stripMargin)
      e.run("+nblk[(5)]") // kill node 5 through the recursion
      e.run("?nreach(X, Y)")
      e.run("-nblk[(3)]") // revive node 3 through the recursion
      e.run("?nreach(X, Y)").last
    }),

    // --- IQL: retraction through MUTUAL recursion — odd/even-length
    //     reachability is a 2-relation SCC; the first query caches BOTH
    //     members at one version, and the deletes are then maintained
    //     SCC-jointly by DRed (over-delete cascades across odd and even
    //     alike). The oracle encodes the mutual pair as one
    //     parity-tracking recursive CTE ---------------------------------
    "q77_iql_mutual_dred" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("medge", graphEdges(s, dir))
      e.run(
        """+modd(X, Y) <- medge(X, Y)
          |+modd(X, Z) <- meven(X, Y), medge(Y, Z)
          |+meven(X, Z) <- modd(X, Y), medge(Y, Z)
          |?modd(X, Y)
          |""".stripMargin)
      e.run("-medge[(0, 1), (10, 15)]")
      e.run("?modd(X, Y)").last // served by mutual-recursion DRed
    }),

    // --- IQL: MIXED batch through a recursive view — an atomic update
    //     (`-old,+new <- body`) retargets every edge out of node 0 in
    //     ONE transactional batch; maintenance sequences the DRed
    //     delete phase against the mid state (inserts backed out) and
    //     then the insert continuation replays the new edge (EngineSpec
    //     asserts the maintenance counter for this shape) --------------
    "q82_iql_mixed_update" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("uedge", graphEdges(s, dir))
      e.run(
        """+ur(X, Y) <- uedge(X, Y)
          |+ur(X, Z) <- ur(X, Y), ur(Y, Z)
          |?ur(X, Y)
          |""".stripMargin)
      e.run("-uedge(0, Y), +uedge(0, 24) <- uedge(0, Y)")
      e.run("?ur(X, Y)").last // two-phase maintained, not recomputed
    }),

    // --- pipeline: benchmark decontamination — docs sharing any word
    //     3-gram with the "test set" (doc_id % 20 == 0) are removed;
    //     shingles travel as xxhash64 longs, benchmark side broadcast --
    "q72_decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.decontaminate(docs, docs.where(pmod(col("doc_id"), lit(20L)) === 0))
        .select(col("doc_id"))
    }),

    // --- pipeline: BLOOM decontamination — the zero-shuffle 100 TB
    //     form of q72: benchmark shingles fold into a driver-built
    //     Bloom filter (fpp 1e-12, no false negatives), the corpus is
    //     ONE map-only scan probing it. Same exact oracle as q72:
    //     deterministic filter, over-removal odds ~1e-12/shingle ------
    "q136_decontaminate_bloom" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.decontaminateBloom(docs, docs.where(pmod(col("doc_id"), lit(20L)) === 0))
        .select(col("doc_id"))
    }),

    // --- pipeline: contamination REPORT — per-doc benchmark 3-gram
    //     overlap counts + fraction (the measuring form of q72;
    //     pipelines publish contamination rates before dropping).
    //     Integer counts + one double division = engine-exact ----------
    "q120_contamination_score" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.contaminationScore(docs,
        docs.where(pmod(col("doc_id"), lit(20L)) === 0))
    }),

    // --- pipeline: per-source document cap (the per-domain cap before
    //     mixing) — admits the `cap` smallest splitmix positions per
    //     source, deterministic and exactly oracle-checkable; plan is
    //     one source-key shuffle + WindowGroupLimit ---------------------
    "q121_source_cap" -> ((s, dir) =>
      Sampling.perSourceCap(T(s, dir, "documents"), "doc_id", col("source"),
        cap = 15).select(col("doc_id"), col("source"))),

    // --- pipeline: prototypicality — cosine of each embedding to its
    //     label's mean centroid (the SemDeDup/SSL-prototypes ranking
    //     signal). Centroids via the q108 mean-pool machinery (decimal
    //     sums, 6-dp pin); scores are sequential-fold dots — bit-exact --
    "q122_prototypicality" -> ((s, dir) =>
      Similarity.prototypicality(T(s, dir, "embeddings"))),

    // --- pipeline: COMPOSED curation #2 — contamination-filter (score
    //     ≤ 0.2 against the doc_id%20 benchmark) then per-source cap
    //     (10 smallest splitmix positions per source WITHIN the
    //     filtered set); every stage deterministic, the whole chain one
    //     exact chained-CTE oracle (the q110 pattern for round-8 ops) --
    "q123_curation_contamination_cap" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scored = Dedup.contaminationScore(docs,
        docs.where(pmod(col("doc_id"), lit(20L)) === 0))
      val clean = docs.join(
        scored.where(col("contamination") <= 0.2).select(col("doc_id")),
        Seq("doc_id"))
      Sampling.perSourceCap(clean, "doc_id", col("source"), cap = 10)
        .select(col("doc_id"), col("source"))
    }),

    // --- pipeline: composed curation #3 — SUB-DOCUMENT dedup gate
    //     feeding TEMPERATURE rebalancing: drop every doc whose
    //     duplicate-span coverage exceeds 30% of its normalized text,
    //     then sqrt-upsample the survivors' language mix. Both stages
    //     exact → ONE chained oracle checks the whole job ------------
    "q150_curation_span_mix" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val cover = Dedup.duplicateSpans(docs)
        .groupBy("doc_id")
        .agg(sum(col("span_end") - col("span_start") + 1).as("dup_chars"))
      val keep = docs
        .join(cover, Seq("doc_id"), "left")
        .where(coalesce(col("dup_chars"), lit(0L)) * 10 <=
          length(TF.normText(col("text"))) * 3)
        .select(col("doc_id"), col("lang"))
      // r16: the temperature mix consumes its input twice (stratum
      // counts, then copy decisions) — un-checkpointed, the second
      // consumption re-ran the entire span-dedup gate above; one
      // checkpoint of the slim (id, lang) survivor list serves both
      Sampling.temperatureMix(keep.localCheckpoint(true), "doc_id", "lang")
    }),

    // --- pipeline: deterministic stratified sampling (domain mixing) —
    //     LCG keep-decision per row, rates per token-count band; pure
    //     arithmetic, so reproducible AND exactly oracle-checkable ------
    "q73_stratified_sample" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val band = when(graft.functions.TextFunctions.tokenCount(col("text")) < 25, lit("short"))
        .when(graft.functions.TextFunctions.tokenCount(col("text")) < 35, lit("mid"))
        .otherwise(lit("long"))
      Sampling.stratifiedSample(docs, "doc_id", band,
        Seq("short" -> (1, 2), "mid" -> (3, 10), "long" -> (1, 10)))
        .select(col("doc_id"))
    }),

    // --- pipeline: deterministic epoch shuffle — a reproducible global
    //     permutation (ONE total-order sort by LCG hash, not rand()) ----
    "q74_epoch_shuffle" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Sampling.epochShuffle(docs, "doc_id", epoch = 3L)
        .select(col("doc_id"), col("pos"))
    }),

    // --- pipeline: intra-document repetition stats (boilerplate
    //     detection) — token/distinct counts, max token frequency -------
    "q75_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(T(s, dir, "documents"))),

    // --- pipeline: sequence packing (concatenate-then-chunk training
    //     context assembly) — one prefix-sum window assigns each doc its
    //     2048-token bin and offset; deterministic and exactly
    //     SQL-replicable, unlike stateful first-fit ---------------------
    "q78_seq_packing" -> ((s, dir) =>
      Sampling.packSequences(T(s, dir, "documents"), capacity = 2048)
        .select(col("doc_id"), col("bin"), col("bin_off"))),

    // --- pipeline: assembled training examples — each 2048-token bin's
    //     documents concatenate in id order into one example row; the
    //     one shuffle that moves text is the output materialization ----
    // sharded: bins restart per `source`, so examples key on (shard, bin)
    "q81_packed_examples" -> ((s, dir) =>
      Sampling.packedExamples(T(s, dir, "documents"), capacity = 2048,
          shardCol = col("source"))
        .select(col("shard"), col("bin"), col("example_text"),
          col("n_docs"), col("n_tokens"))),

    // --- pipeline: token-budget selection — keep the best-quality docs
    //     while the running token total fits a 10k budget (quality
    //     ranking + prefix-sum window; the post-scoring mixing step) ----
    "q83_token_budget" -> ((s, dir) =>
      Sampling.selectByBudget(T(s, dir, "documents"), budget = 10000L,
          score = graft.functions.TextFunctions.qualityScore(col("text")))
        .select(col("doc_id"), col("cum_tokens"))),

    // --- pipeline: top-k TF-IDF terms per document — keyword extraction
    //     for corpus analysis; ranked by the 6-dp-rounded score so the
    //     oracle reproduces the exact selection -------------------------
    "q84_tfidf_terms" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(T(s, dir, "documents"), k = 5)),

    // --- pipeline: REAL image decode — one solid-color 24-bit BMP per
    //     document (pure-JVM encoder), decoded back by the byte-level
    //     BMP parser per partition; dims come from the HEADER and the
    //     channel means from actual pixel reads, so the oracle's
    //     closed-form prediction checks the whole encode->decode path --
    "q70_multimodal_bmp" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Multimodal.decodeBmpStats(Multimodal.syntheticBmpAssets(docs))
    }),

    // --- pipeline: REAL audio decode — PCM-16 WAV per document,
    //     chunk-scanning RIFF parser, mean amplitude from sample reads --
    "q71_multimodal_wav" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Multimodal.decodeWavStats(Multimodal.syntheticWavAssets(docs))
    }),

    // --- pipeline: IMAGE PERCEPTUAL HASH (dHash-64) — real BMP decode
    //     (bottom-up stride, integer luma) → difference hash; the
    //     closed-form gradient oracle breaks on any decode/orientation/
    //     luma error. Planted twins differ in ONE pixel → ≤ 1 bit -----
    "q129_image_dhash" -> ((s, dir) =>
      Multimodal.imageDHashes(
        Multimodal.syntheticGradientBmpAssets(T(s, dir, "documents")))),

    // --- pipeline: INCREMENTAL new-vs-base near-dup — which incoming
    //     docs (id%5==0) duplicate the existing snapshot (id%5!=0)?
    //     Base signatures come from the persistable signature table;
    //     candidates are CROSS-corpus only (the ingestion shape) -------
    "q133_incremental_neardup" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.minHashPairsAgainst(
        docs.where(pmod(col("doc_id"), lit(5L)) === 0),
        Dedup.minHashSignatures(docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)),
        threshold = 0.35)
    }),

    // --- pipeline: DUPLICATE-SUBSTRING SPANS (Lee et al. 2022 shape) —
    //     maximal regions covered by char 20-grams shared across >= 2
    //     docs; hashes shuffle, never text; per-doc islands merge ------
    "q134_duplicate_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(T(s, dir, "documents"))),

    // --- pipeline: SEGMENT DEDUP (CCNet line-dedup shape, windowed
    //     onto this corpus): drop 2-word segments recurring in >= 20
    //     docs, reassemble survivors in order ------------------------
    "q135_segment_dedup" -> ((s, dir) =>
      Dedup.windowDedup(T(s, dir, "documents"))),

    // --- pipeline: AUDIO ENVELOPE HASH — real RIFF/PCM16 decode →
    //     65-window energy envelope → 64-bit difference hash; the
    //     closed-form oracle breaks on any chunk-parse/window error ----
    "q131_audio_envhash" -> ((s, dir) =>
      Multimodal.audioEnvHashes(
        Multimodal.syntheticEnvWavAssets(T(s, dir, "documents")))),

    // --- pipeline: AUDIO NEAR-DUP pairs — envelope hashes through the
    //     same slice-bucket Hamming machinery as text/image -----------
    "q132_audio_neardup" -> ((s, dir) =>
      Dedup.hammingPairs64(
        Multimodal.audioEnvHashes(
          Multimodal.syntheticEnvWavAssets(T(s, dir, "documents"))),
        "asset_id", "ahash", maxHamming = 2)),

    // --- pipeline: IMAGE NEAR-DUP pairs — dHash through the shared
    //     16-bit-slice Hamming machinery (complete for maxHamming ≤ 3);
    //     finds the planted one-pixel twins AND the id≡id' (mod 256)
    //     identical-gradient collisions, exactly as the oracle does ----
    "q130_image_neardup" -> ((s, dir) =>
      Dedup.hammingPairs64(
        Multimodal.imageDHashes(
          Multimodal.syntheticGradientBmpAssets(T(s, dir, "documents"))),
        "asset_id", "dhash", maxHamming = 2)),

    // --- pipeline: int8-quantized ANN — embeddings stored as BYTE
    //     arrays (reference VectorInt8, 4x fewer scan bytes at 100 TB),
    //     cosine computed by the byte-consuming codegen kernels; the
    //     oracle replicates the symmetric quantization in DuckDB, so
    //     this exactly checks the whole int8 scoring path --------------
    "q69_ann_int8" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val qv = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      val stored = Similarity.quantizeInt8(emb).select(col("vec_id"), col("q_emb"))
      Similarity.bruteForceTopKInt8(stored, Similarity.quantizeQueryInt8(qv), 10)
        .select(col("vec_id"))
    }),

    // --- pipeline: seeded IVF probed with ALL cells — the per-row cell
    //     assignment still executes (isin over every cell id), so the
    //     result must EQUAL brute-force top-k: q35's exact twin ----------
    "q67_ann_ivf_allprobes" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.ivfTopK(emb, q, 10, dim = 64, nCells = 16, nprobe = 16)
        .select(col("vec_id"))
    }),

    // --- pipeline: embedding near-dup pairs (LSH candidates + exact cosine
    //     verify; oracled against the exact all-pairs SQL — DedupSpec
    //     asserts 100% recall of the bucketed path at this scale) ----------
    "q36_embedding_dedup" -> ((s, dir) =>
      Dedup.embeddingCosinePairs(T(s, dir, "embeddings"), dim = 64, minCosine = 0.8)),

    // --- pipeline: cluster dedup — connected components over the exact
    //     near-dup pair graph, keep the min-id representative per
    //     cluster (pairwise right-side dropping deletes chain members
    //     whose own representative was already deleted) ------------------
    "q80_cluster_dedup" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // Pair source = the BUCKETED candidate path over the full corpus
      // (the plan you'd run at 100 TB), not the quadratic id-capped
      // all-pairs baseline. The all-pairs query stays the oracle
      // anchor: at sf0.01 (where correctness is graded) its id cap is
      // vacuous — 500 docs — and q32 passing hash-exact against the
      // uncapped all-pairs oracle proves the candidates' full recall
      // at these params, so both sources yield the same components.
      // Shares q32's cached signature table (same input + params).
      val pairs = Dedup.ngramJaccardPairs(docs, shingleN = 2, threshold = 0.3)
      Dedup.clusterSurvivors(docs, pairs).select(col("doc_id"))
    }),

    // --- pipeline: EXACT all-pairs n-gram Jaccard (oracle baseline for the
    //     MinHash-candidate q32; capIds keeps the quadratic pair set a
    //     deterministic bounded subset at larger SFs) ----------------------
    "q57_ngram_exact" -> ((s, dir) =>
      Dedup.ngramJaccardAllPairs(T(s, dir, "documents"), shingleN = 2, threshold = 0.3,
        capIds = 500L)),

    // --- pipeline: EXACT all-pairs embedding cosine (oracle baseline for
    //     the LSH-bucketed q36; threshold 0.3 yields a non-trivial pair set
    //     on this corpus where 0.8 near-dups don't exist) ------------------
    "q58_cosine_exact" -> ((s, dir) =>
      Dedup.cosineAllPairs(T(s, dir, "embeddings"), minCosine = 0.3, capIds = 500L)),

    // --- IQL: text-pipeline builtins in the dialect — quality scoring
    //     composed with a rule + threshold filter (the pipeline ops as
    //     first-class IQL functions) ------------------------------------
    "q65_iql_quality" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("doc",
        T(s, dir, "documents").select(col("doc_id"), col("text")))
      e.run(
        """qs(D, S) <- doc(D, T), S = quality_score(T)
          |?qs(D, S)
          |""".stripMargin).last
    }),

    // --- pipeline: bulk k-NN JOIN — exact top-3 neighbours for EVERY
    //     query row (broadcast queries + per-group window), the
    //     batch-ANN shape large pipelines run nightly ------------------
    // --- pipeline: COMPOSED CURATION #5 (cross-lingual) — semantic
    //     decontamination feeds margin-based bitext mining: corpus
    //     vectors too close to the benchmark set drop FIRST (their
    //     pairs must not enter training data), then the survivors'
    //     two language sides mine translation pairs under the ratio
    //     margin. Removing vectors changes k-NN lists and denominator
    //     averages, so the composition is NOT a filter of q181's
    //     output — the oracle replays the whole chain ------------------
    "q184_curation_crosslingual" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") >= 25)
      val flagged = Similarity.semanticDecontamination(
        corpus, emb.where(col("vec_id") < 25), tau = 0.3)
      val clean = corpus.join(flagged.select("vec_id"), Seq("vec_id"), "left_anti")
      Similarity.marginMining(
        clean.where(pmod(col("vec_id"), lit(2L)) === 0),
        clean.where(pmod(col("vec_id"), lit(2L)) === 1),
        k = 4, tau = 1.0)
    }),

    // --- pipeline: SEMANTIC DECONTAMINATION — the embedding-space twin
    //     of the q120/q136 text-overlap benchmark filters: corpus
    //     vectors whose best cosine against the (broadcast) benchmark
    //     set reaches τ are flagged with their strongest match;
    //     paraphrased eval leakage that n-gram overlap misses ----------
    "q182_semantic_decontam" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.semanticDecontamination(
        emb.where(col("vec_id") >= 25), emb.where(col("vec_id") < 25),
        tau = 0.3)
    }),

    // --- pipeline: MARGIN-BASED BITEXT MINING (Artetxe & Schwenk, the
    //     LASER/CCMatrix parallel-corpus miner) — even-id vectors play
    //     one language side, odd-id the other; each a-side vector keeps
    //     its best b candidate under the ratio margin over k-NN lists,
    //     which defeats hub vectors where raw cosine thresholds fail.
    //     One cosine pair table feeds candidates AND both denominator
    //     averages ------------------------------------------------------
    "q181_bitext_margin" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.marginMining(
        emb.where(pmod(col("vec_id"), lit(2L)) === 0),
        emb.where(pmod(col("vec_id"), lit(2L)) === 1),
        k = 4, tau = 1.0)
    }),

    // --- pipeline: IVF-CELL-BLOCKED bitext mining — the above-the-gate
    //     generator (trained centroids, b assigned by cell, a expanded
    //     to its nprobe best cells, ONE equi-join on cell — no
    //     broadcast of either corpus side). Probed at nprobe = nCells
    //     every (a,b) pair is generated exactly once, so the result
    //     EQUALS the broadcast q181 — the oracle anchors the whole
    //     generator machinery (a dropped or duplicated candidate pair
    //     shifts a k-NN denominator) ------------------------------------
    "q185_bitext_blocked" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val b = emb.where(pmod(col("vec_id"), lit(2L)) === 1)
      val cent = Similarity.kmeansCentroids(b, k = 8, iters = 2)
      Similarity.marginMiningBlocked(
        emb.where(pmod(col("vec_id"), lit(2L)) === 0), b,
        cent, nprobe = cent.length, k = 4, tau = 1.0)
    }),

    // --- pipeline: BLOCKED-MINER RECALL REPORT — the production-nprobe
    //     eval (q175 pattern): blocked mining at nprobe 4 and 8 (of 8
    //     cells) vs the broadcast ground truth on the same slice,
    //     precision/recall floor-scaled to integer micro-units. The
    //     report's centroids are DETERMINISTIC (the first 8 b-vectors
    //     by id) so the oracle replays the cell arithmetic; production
    //     mining keeps trained k-means centroids (q185 anchors that
    //     generator at nprobe = nCells) ---------------------------------
    "q190_bitext_recall_report" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val aSide = emb.where(pmod(col("vec_id"), lit(2L)) === 0 &&
        col("vec_id") < 1000)
      val bSide = emb.where(pmod(col("vec_id"), lit(2L)) === 1)
      val cents = bSide.orderBy(col("vec_id")).limit(8)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      Similarity.marginMiningRecallReport(aSide, bSide, cents,
        nprobes = Seq(4, 8), k = 4, tau = 1.0)
    }),

    "q64_knn_join" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.knnJoin(emb, queries, k = 3)
        .select(col("q_id"), col("vec_id"))
    }),

    // --- pipeline: PII scrubbing (email/IP/phone redaction + counts) ----
    "q62_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(T(s, dir, "documents"))),

    // --- pipeline: fixed-window character chunking with overlap ---------
    "q63_chunking" -> ((s, dir) =>
      TextAnalysis.chunk(T(s, dir, "documents"), size = 200, overlap = 50)),

    // --- vector norms (oracle via DuckDB list fns) ---------------------------------------------------
    "q37_vector_norms" -> ((s, dir) =>
      T(s, dir, "embeddings").select(col("vec_id"),
        VF.vecDim(col("embedding")).as("dim"),
        VF.norm(col("embedding")).as("l2_norm"))),

    // --- within-radius range query (reference within_radius aggregate) ------------------------------
    "q38_within_radius" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.withinRadius(emb, q, 0.35).select(col("vec_id"))
    }),

    // --- temporal: linear decay scoring (exact arithmetic) --------------------------------------------
    "q39_time_decay" -> ((s, dir) => {
      val now = lit(1706659200000L) // 2024-01-31 00:00:00 UTC
      T(s, dir, "events").select(col("event_id"),
        (now - TempF.fromTimestamp(col("ts"))).as("age_ms"),
        TempF.timeDecayLinear(TempF.fromTimestamp(col("ts")), now, lit(2592000000L)).as("decay"),
        TempF.withinLast(TempF.fromTimestamp(col("ts")), now, lit(604800000L)).as("recent"))
    }),

    // --- multimodal: video frame sampling --------------------------------------------------------------
    "q40_multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.syntheticAssets(T(s, dir, "documents")))
        .select(col("asset_id"), col("frame_ts_ms"))),

    // --- multimodal: decode + feature extraction (rows-only; stubbed codec) -----------------------------
    "q43_multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.syntheticAssets(T(s, dir, "documents")))
        .select(col("asset_id"), col("modality"), col("n_bytes"))),

    // --- multimodal: image resize plumbing ---------------------------------------------------------------
    "q44_multimodal_resize" -> ((s, dir) =>
      Multimodal.resizePlan(Multimodal.syntheticAssets(T(s, dir, "documents")), 224, 224)
        .select(col("asset_id"), col("width"), col("height"), col("scale"))),

    // =================================================================
    // IQL (Datalog) engine end-to-end: parse → stratify → compile to
    // DataFrames → (fixpoint when recursive) — graft.iql.Engine
    // =================================================================

    // --- IQL: join + projection rule -------------------------------------
    "q45_iql_join" -> ((s, dir) => {
      val e = iqlEngine(s, dir, "nation", "region")
      e.run(
        """nr(NK, NN, RN) <- nation(NK, NN, RK), region(RK, RN)
          |?nr(NK, NN, RN)
          |""".stripMargin).last
    }),

    // --- IQL: aggregation rule with comparison filter ---------------------
    // (sums l_quantity: integral-valued doubles sum exactly in IEEE754,
    // so Spark's and DuckDB's accumulation orders can't diverge)
    "q46_iql_agg" -> ((s, dir) => {
      val e = iqlEngine(s, dir, "lineitem")
      e.run(
        """tot(RF, count<OK>, sum<Q>) <- lineitem(OK, _, _, _, Q, _, _, _, RF, _, _), Q > 10.0
          |?tot(RF, N, S)
          |""".stripMargin).last
    }),

    // --- IQL: stratified negation -----------------------------------------
    "q47_iql_negation" -> ((s, dir) => {
      val e = iqlEngine(s, dir, "customer", "orders")
      e.run(
        """has_order(CK) <- orders(_, CK, _, _, _, _)
          |inactive(CK, NM) <- customer(CK, NM, _, _, _), !has_order(CK)
          |?inactive(CK, NM)
          |""".stripMargin).last
    }),

    // --- IQL: recursive transitive closure --------------------------------
    "q48_iql_tc" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("edge", graphEdges(s, dir))
      e.run(
        """reach(X, Y) <- edge(X, Y)
          |reach(X, Z) <- reach(X, Y), edge(Y, Z)
          |?reach(X, Y)
          |""".stripMargin).last
    }),

    // --- IQL: bound recursive query (demand restriction / magic sets) -----
    "q49_iql_bound_reach" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("edge", graphEdges(s, dir))
      e.run(
        """reach(X, Y) <- edge(X, Y)
          |reach(X, Z) <- reach(X, Y), edge(Y, Z)
          |?- reach(0, Y)
          |""".stripMargin).last
    }),

    // --- HNSW index probe (driver-held graph, reference hnsw_index.rs;
    //     rows-only — recall asserted in HnswSpec). The index builds once
    //     per scale dir and is reused across probes, like the reference's
    //     persistent per-relation index (its 7.36 ms benchmark number is
    //     search-only too). ------------------------------------------------
    // --- ANN: SHARDED HNSW — per-shard graphs built executor-side
    //     inside mapPartitions, shipped as serialized binary rows, every
    //     shard probed and merged (TakeOrdered k). The distributed path
    //     the driver-held q51 index can't scale to; rows-only here, but
    //     SimilaritySpec pins determinism and recall >= 0.9 against the
    //     exact q33 twin --------------------------------------------------
    "q79_hnsw_sharded" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.hnswShardedTopK(
        Similarity.hnswShardedIndex(emb, nShards = 4), q, 10, efSearch = 128)
        .select(col("vec_id"))
    }),

    "q51_hnsw_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val idx = hnswCache.getOrElseUpdate(dir,
        graft.index.Hnsw.build(emb, "vec_id", "embedding"))
      val cat = new graft.iql.Catalog(s)
      cat.register("embeddings", emb)
      cat.indexes(("embeddings", "embedding")) = idx
      cat.hnswSearch("embeddings", "embedding", q, 10, efSearch = 128)
    }),

    // --- ANN: HNSW probed with efSearch = index size — best-first search
    //     then visits every reachable node, so the result must EQUAL
    //     brute-force top-k: a hard oracle on the build/search machinery
    //     itself (q51's exact twin, the analogue of q66/q61 for the
    //     LSH/IVF layouts; smaller efSearch is the recall/cost knob) -----
    "q91_hnsw_allprobes" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val idx = hnswCache.getOrElseUpdate(dir,
        graft.index.Hnsw.build(emb, "vec_id", "embedding"))
      val cat = new graft.iql.Catalog(s)
      cat.register("embeddings", emb)
      cat.indexes(("embeddings", "embedding")) = idx
      cat.hnswSearch("embeddings", "embedding", q, 10, efSearch = idx.size)
        .select(col("id").as("vec_id"))
    }),

    // --- ANN: SHARDED HNSW probed with efSearch = corpus size — each
    //     shard's search is exhaustive and the shard merge keeps the
    //     true global top-k, so the result must EQUAL brute-force:
    //     q79's exact twin through the executor-built binary-row path ---
    "q92_hnsw_sharded_allprobes" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      val n = emb.count().toInt
      Similarity.hnswShardedTopK(
        Similarity.hnswShardedIndex(emb, nShards = 4), q, 10, efSearch = n)
        .select(col("vec_id"))
    }),

    // --- ANN: MAINTAINED HNSW — mutate the indexed relation through the
    //     catalog (+2 copies of the query vector, -1 of them), then probe
    //     exhaustively: the result must equal brute force over the POST-
    //     mutation relation, proving Catalog.insert/delete keep the index
    //     live (reference src/index_manager.rs:84-126 — no manual rebuild).
    //     Mutations are set-semantics idempotent, so the cached fixture
    //     re-runs stably; tombstoned 999998 must NOT appear -------------
    "q118_hnsw_maintained" -> ((s, dir) => {
      val cat = hnswMaintCatalog(s, dir)
      val q = T(s, dir, "embeddings").where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      cat.insert("embeddings",
        Seq(Seq(999998L, q, 0), Seq(999999L, q, 0)))
      cat.delete("embeddings", Seq(Seq(999998L, q, 0)))
      val idx = cat.indexByName("emb_idx").get._1
      cat.hnswSearch("embeddings", "embedding", q.toArray, 10,
          efSearch = idx.size + 16)
        .select(col("id").as("vec_id"))
    }),

    // --- IQL: computed bindings + string/math builtins ---------------------
    "q50_iql_compute" -> ((s, dir) => {
      val e = iqlEngine(s, dir, "part")
      e.run(
        """pp(PK, UN, L, PR2) <- part(PK, NM, _, _, _, PR), UN = upper(NM),
          |  L = len(NM), PR2 = PR * 2 + 1
          |?pp(PK, UN, L, PR2)
          |""".stripMargin).last
    }),

    // --- IQL: incremental re-query — materialize a recursive closure,
    //     insert edges, re-query; the second query delta-extends the
    //     cached fixpoint instead of recomputing (reference BENCHMARKS.md
    //     "re-query after +100 edges" headline; Engine.tryMaintain) ------
    "q53_iql_incremental" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("edge", graphEdges(s, dir))
      e.run(
        """+reach(X, Y) <- edge(X, Y)
          |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
          |?reach(X, Y)
          |""".stripMargin)
      e.run("+edge[(0, 10), (5, 20)]") // monotone change
      e.run("?reach(X, Y)").last       // served by incremental maintenance
    }),

    // --- recursion at the reference's benchmark scale: full transitive
    //     closure of a 1000-node / 2000-edge pseudo-random digraph — the
    //     BASELINE config at BENCHMARKS.md:19 (reference: 2.40 s for the
    //     closure; this graph's closure is exactly 1M pairs, the output
    //     scale of their 2000n/4K benchmark at BENCHMARKS.md:108). Edges
    //     come from a MINSTD LCG so DuckDB reproduces them exactly. --
    "q54_tc_1000" -> ((s, dir) =>
      Fixpoint.transitiveClosure(benchGraph(s)).toDF("SRC", "DST")),

    // --- bound reachability on the same graph (BASELINE bound query,
    //     BENCHMARKS.md:19: 3.52 ms) — magic-sets demand restriction ------
    "q55_bound_reach_1000" -> ((s, dir) => {
      import s.implicits._
      Fixpoint.boundReachability(benchGraph(s), Seq(0L).toDF("src"))
        .select(col("dst").as("DST"))
    }),

    // --- IQL: incremental aggregate re-query — materialize group sums,
    //     insert rows, re-query; the cached per-group aggregates MERGE
    //     with the delta instead of recomputing (reference BENCHMARKS.md
    //     :91-93 "re-query dept sums after +N rows") --------------------
    "q56_iql_incremental_agg" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("emp", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(100L)).as("dept"),
        floor(col("o_totalprice")).cast("long").as("sal")))
      e.run(
        """+tot(D, sum<S>, count<S>) <- emp(I, D, S)
          |?tot(D, S, C)
          |""".stripMargin)
      e.run("+emp[(900000001, 0, 1000), (900000002, 1, 2000), (900000003, 0, 3000)]")
      e.run("?tot(D, S, C)").last // merged, not recomputed
    }),

    // --- IQL: retraction maintenance — materialize a recursive closure,
    //     DELETE edges, re-query; affected-source maintenance rebuilds
    //     only the reach sets that could have used a deleted edge instead
    //     of recomputing the fixpoint (reference BENCHMARKS.md:69-71 —
    //     incremental retraction through recursive views, 602 ms vs
    //     10.5 s recompute; `src/derived_relations.rs:1-60`) -----------
    "q59_iql_retraction" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("edge", graphEdges(s, dir))
      e.run(
        """+reach(X, Y) <- edge(X, Y)
          |+reach(X, Z) <- reach(X, Y), edge(Y, Z)
          |?reach(X, Y)
          |""".stripMargin)
      e.run("-edge[(0, 1), (10, 15)]") // retraction
      e.run("?reach(X, Y)").last       // served by delete maintenance
    }),

    // --- IQL: magic-sets bound query — same-generation over a binary
    //     tree of the nation keys; the binding does NOT pass through
    //     (head X flows into up, not into sg's first argument), so the
    //     full adornment rewrite (not the pass-through demand filter)
    //     restricts the fixpoint to the demanded subtree (reference
    //     `src/magic_sets/mod.rs:1-60`) ---------------------------------
    "q60_iql_magic_sg" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      val n = T(s, dir, "nation").select(col("n_nationkey").cast("long").as("k"))
      e.catalog.register("person", n.select(col("k")))
      val up = n.where(col("k") >= 1)
        .select(col("k").as("c"), floor((col("k") - 1) / 2).cast("long").as("p"))
      e.catalog.register("up", up)
      e.catalog.register("down", up.select(col("p"), col("c")))
      e.run(
        """sg(X, X) <- person(X)
          |sg(X, Y) <- up(X, Z1), sg(Z1, Z2), down(Z2, Y)
          |?- sg(1, Y)
          |""".stripMargin).last
    }),

    // --- IQL: recursive min aggregate (weighted shortest path — the
    //     MinDiff-semiring semantics, realized as value iteration) --------
    "q52_iql_shortest_path" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("wedge", graphEdges(s, dir).select(col("src"), col("dst"),
        (pmod(col("src") * 7, lit(5)) + 1).as("w")))
      e.run(
        """+sp[(0, 0)]
          |+sp(Y, min<D + W>) <- sp(X, D), wedge(X, Y, W)
          |?sp(X, D)
          |""".stripMargin).last
    }),

    // --- IQL: DECREMENTAL shortest path — edge deletes maintain the
    //     cached label view by the suspect-cascade restart: labels with
    //     a tight chain through a removed edge re-derive, everything
    //     else provably keeps its exact value (EngineSpec asserts the
    //     maintenance counter for this shape) ---------------------------
    "q85_iql_decremental_sp" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("dwedge", graphEdges(s, dir).select(col("src"), col("dst"),
        (pmod(col("src") * 7, lit(5)) + 1).as("w")))
      e.run(
        """+dsp[(0, 0)]
          |+dsp(Y, min<D + W>) <- dsp(X, D), dwedge(X, Y, W)
          |?dsp(X, D)
          |""".stripMargin)
      e.run("-dwedge[(0, 1, 1), (5, 10, 1)]")
      e.run("?dsp(X, D)").last
    }),

    // --- pipeline: cross-document boilerplate coverage — 5-token
    //     shingles occurring in ≥2 distinct docs are template/near-dup
    //     content; per-doc coverage ratio ------------------------------
    "q86_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplate(T(s, dir, "documents"), n = 5, minDf = 2)),

    // --- pipeline: corpus-trained unigram-LM scoring — mean ln p(t)
    //     per document, the perplexity-style quality signal -------------
    "q87_unigram_lm" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(T(s, dir, "documents"))),

    // --- pipeline: corpus-trained BIGRAM-LM scoring (add-one smoothed)
    //     — word-order-sensitive perplexity gate, q87's next order up --
    "q124_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(T(s, dir, "documents"))),

    // --- pipeline: token-distribution DRIFT between corpus slices
    //     (en vs rest): smoothed KL both ways + Jensen-Shannon — the
    //     snapshot-monitoring op; one vocab join, one global sum -------
    "q125_distribution_drift" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextAnalysis.distributionDrift(
        docs.where(col("lang") === "en"), docs.where(col("lang") =!= "en"))
    }),

    // --- pipeline: TEMPERATURE mixing (α = 0.5) — upsample each lang
    //     by √(n_max/n): the multinomial-sampling exponent flattening
    //     the language mix halfway toward uniform; exactly-rounded √
    //     factors rationalize to integers, decisions are splitmix
    //     arithmetic — deterministic and oracle-exact ----------------
    "q145_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureMix(
        T(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang")),

    // --- pipeline: DSIR importance selection (Xie et al. 2023) —
    //     hashed unigram+bigram bucket model of the en slice vs the
    //     rest; log-likelihood-ratio scores, deterministic top-50.
    //     B-row count tables collect (B-bounded), λ bakes into the
    //     plan, scoring is a map-only second scan --------------------
    "q139_dsir_select" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Sampling.dsirSelect(docs.where(col("lang") =!= "en"),
        docs.where(col("lang") === "en"), n = 50)
    }),

    // --- pipeline: blocklist screen (the C4 bad-words step) — distinct
    //     blocked-term count per doc + pass flag; blocklist is a plan
    //     literal, map-only, no shuffle -------------------------------
    "q128_blocklist" -> ((s, dir) =>
      TextAnalysis.blocklistScreen(T(s, dir, "documents"),
        Seq("slow", "dup", "noise"))),

    // --- pipeline: WINNOWING fingerprints (MOSS scheme) — sliding-
    //     window-min of k-gram hashes: passage-level overlap signal
    //     global MinHash can't give; map-only per-row expressions ------
    "q126_winnow" -> ((s, dir) =>
      TextAnalysis.winnow(T(s, dir, "documents"))),

    // --- pipeline: winnow-overlap pairs — docs sharing >= 2 selected
    //     fingerprints with the shared count; (fp, id) shuffle only ----
    "q127_winnow_pairs" -> ((s, dir) =>
      TextAnalysis.winnowPairs(T(s, dir, "documents"))),

    // --- pipeline: SPAN REMOVAL — the apply half of substring dedup
    //     (Lee et al. 2022): cut the q134 duplicate spans out of each
    //     doc and reassemble; spans aggregate per doc BEFORE touching
    //     text, the rewrite is one map-side fold ----------------------
    "q155_span_removal" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.removeSpans(docs, Dedup.duplicateSpans(docs))
    }),

    // --- pipeline: EXACT set-similarity self-join via PREFIX FILTERING
    //     (PPJoin family) — every token-Jaccard ≥ 0.5 pair with zero
    //     approximation; rarest-first prefixes bound candidates where
    //     LSH would trade recall; integer-exact threshold -------------
    "q156_setsim_join" -> ((s, dir) =>
      Dedup.setSimilarityJoin(T(s, dir, "documents"), num = 1, den = 2)),

    // --- pipeline: GOPHER repetition filters — top-{2,3,4}-gram char
    //     fraction + duplicated-5-gram char COVERAGE (islands merge,
    //     overlaps counted once); one map-only pass per document row, no
    //     explode, window, join or shuffle ------------------------------
    "q157_gopher_repetition" -> ((s, dir) =>
      TextAnalysis.gopherRepetition(T(s, dir, "documents"))),

    // --- graph: K-CORE decomposition — synchronous peel rounds on the
    //     dense digraph's undirected simple form; id-only shuffles.
    //     k=17 keeps a PROPER non-empty core (199 of 200 nodes survive,
    //     one peels) so the query exercises the peel loop — k≥18 empties
    //     the core and the differential test would pass vacuously -------
    "q158_kcore" -> ((s, dir) =>
      graft.operators.GraphOps.kCore(denseGraph(s), k = 17, rounds = 8)),

    // --- pipeline: HTML TEXT EXTRACTION — documents wrapped in a
    //     synthetic crawl page (head/script/nav/footer chrome around the
    //     body) so the operator must strip markup AND drop the all-link
    //     nav/footer blocks by link density while keeping body prose
    //     byte-for-byte; map-only, the scan is the operator ------------
    "q159_html_extract" -> ((s, dir) =>
      TextAnalysis.extractHtmlText(
        T(s, dir, "documents").select(col("doc_id"), htmlWrap(col("text")).as("html")))),

    // --- pipeline: CLUSTER DEDUP, BEST-REP POLICY — per near-dup
    //     component keep the LONGEST member (ties to min id) instead of
    //     q80's min-id rule; same bucketed pair source, argmax is a
    //     component-partitioned window --------------------------------
    "q167_cluster_best_rep" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, shingleN = 2, threshold = 0.3)
      val rank = TextAnalysis.tokenCounts(docs).select(col("doc_id"), col("n_tokens"))
      Dedup.clusterSurvivorsBest(docs, pairs, rank).select(col("doc_id"))
    }),

    // --- pipeline: COMPOSED CURATION #4 — raw crawl page to filtered
    //     corpus in one chain: HTML extraction (markup + link-density
    //     boilerplate), then the trained quality classifier RUNS ON THE
    //     EXTRACTED TEXT (target = even doc_ids), then the score gate;
    //     one oracle replays extraction AND the training loop ----------
    "q166_curation_html_quality" -> ((s, dir) => {
      val extracted = TextAnalysis.extractHtmlText(
        T(s, dir, "documents").select(col("doc_id"), htmlWrap(col("text")).as("html")))
      TextAnalysis.qualityClassifierScores(
        extracted.select(col("doc_id"), col("extracted_text").as("text")),
        pmod(col("doc_id"), lit(2L)) === 0)
        .where(col("quality_score") >= 0.5)
    }),

    // --- pipeline: PCA — top-3 principal components by fixed-iteration
    //     power iteration + deflation; decimal mean/covariance sums,
    //     fixed-order driver folds, sqrt-only normalization — the whole
    //     eigen trace replays bit-for-bit in the oracle ----------------
    "q164_pca_project" -> ((s, dir) =>
      Similarity.pcaProject(
        T(s, dir, "embeddings").where(col("vec_id") < 500), pcaModel(s, dir))),

    // --- pipeline: PCA WHITENING — per-component unit variance
    //     (divide by sqrt(eigenvalue)), the normalization embedding
    //     clustering wants; same exact-trace contract as q164 ----------
    "q168_pca_whiten" -> ((s, dir) =>
      Similarity.pcaProject(
        T(s, dir, "embeddings").where(col("vec_id") < 500), pcaModel(s, dir),
        whiten = true)),

    // --- pipeline: PCA, PRODUCTION sum mode — plain double partial
    //     aggs over the FULL table (the 100 TB shape; summation order
    //     moves results only at ~1e-12), anchored by the exact q164 ----
    "q165_pca_production" -> ((s, dir) =>
      Similarity.pcaProjected(T(s, dir, "embeddings"), nComp = 3,
        exactSums = false)),

    // --- pipeline: HARD-NEGATIVE MINING — for each probe vector, the
    //     top-3 nearest neighbours with a DIFFERENT label (contrastive-
    //     training negatives): broadcast probes, one scan, per-probe
    //     windowed top-k (probe-keyed partitions, never global) --------
    "q170_hard_negatives" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val scored = emb.crossJoin(broadcast(probes))
        .where(col("label") =!= col("q_label"))
        .select(col("q_id"), col("vec_id"),
          graft.functions.VectorFunctions.cosineSimilarity(
            col("embedding"), col("q_vec")).as("cos"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)
      scored.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("q_id"), col("vec_id").as("neg_id"), col("rnk"))
    }),

    // --- pipeline: IVF LAYOUT UPKEEP — two append rounds (assign to
    //     stored centroids, no retrain) then an all-cells probe, which
    //     must EQUAL brute force over every vector: a dropped,
    //     duplicated, or re-signed row shifts the exact top-k ----------
    "q163_ivf_upkeep" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      def third(r: Long) = emb.where(pmod(col("vec_id"), lit(3L)) === r)
      val cent = ivfCentroids(s, dir)
      val base = Similarity.ivfAssign(
        third(0).select(col("vec_id"), col("embedding")), cent)
      val layout = Similarity.ivfAppend(
        Similarity.ivfAppend(base, third(1), cent), third(2), cent)
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.ivfTopKFromLayout(layout, q, 10, cent, nprobe = cent.length)
        .select(col("vec_id"))
    }),

    // --- pipeline: SIGNATURE-TABLE UPKEEP — the two-round incremental
    //     ingest: batch A probes the base snapshot, appendSignatures
    //     folds A's signatures in (idempotent, dedup-keyed), batch B
    //     probes base+A; successive ingests compose -------------------
    "q162_signature_upkeep" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      def third(r: Long) = docs.where(pmod(col("doc_id"), lit(3L)) === r)
      val base = Dedup.minHashSignatures(third(0))
      val afterA = Dedup.appendSignatures(base, third(1))
      Dedup.minHashPairsAgainst(third(1), base, threshold = 0.35)
        .withColumn("round", lit(1L))
        .unionByName(
          Dedup.minHashPairsAgainst(third(2), afterA, threshold = 0.35)
            .withColumn("round", lit(2L)))
    }),

    // --- pipeline: 5-GRAM LM with STUPID BACKOFF (KenLM shape) — model
    //     trains on even doc_ids, scores odd, so unseen grams exist and
    //     the backoff chain genuinely fires; ln δ baked as one shared
    //     double literal (no cross-engine pow) ------------------------
    "q161_ngram_lm" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextAnalysis.ngramLogProb(
        docs.where(pmod(col("doc_id"), lit(2L)) === 0),
        docs.where(pmod(col("doc_id"), lit(2L)) === 1))
    }),

    // --- pipeline: MINHASH EVALUATION REPORT — measured precision/
    //     recall of the signature-estimate pairs vs exact char-shingle
    //     Jaccard on a bounded slice (the tuning report for k/bands/
    //     threshold); coarse k=16 signatures so both FP and FN occur ---
    // --- ANN: FILTERED HNSW probe — top-k restricted to a metadata
    //     predicate (label = 1), traversal exploring THROUGH
    //     non-matching nodes; production efSearch (rows-only, anchored
    //     by the exhaustive twin below) ---------------------------------
    "q176_hnsw_filtered" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val idx = hnswCache.getOrElseUpdate(dir,
        graft.index.Hnsw.build(emb, "vec_id", "embedding"))
      val ok = emb.where(col("label") === 1).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
      val spark = s
      import spark.implicits._
      idx.searchFiltered(q, 10, efSearch = 64, ok.contains)
        .map(_._1).toDF("vec_id")
    }),

    // --- ANN: FILTERED HNSW, EXHAUSTIVE twin — efSearch = index size
    //     sweeps every reachable node, so the result must EQUAL the
    //     filtered brute force (exact oracle; the q91/q92 anchor
    //     argument extended to the filtered traversal) ------------------
    "q177_hnsw_filtered_exhaustive" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val idx = hnswCache.getOrElseUpdate(dir,
        graft.index.Hnsw.build(emb, "vec_id", "embedding"))
      val ok = emb.where(col("label") === 1).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
      val spark = s
      import spark.implicits._
      idx.searchFiltered(q, 10, efSearch = idx.size, ok.contains)
        .map(_._1).toDF("vec_id")
    }),

    "q175_minhash_eval" -> ((s, dir) =>
      // threshold 0.35 on a dup-heavy slice: the coarse k=16 estimator
      // over-fires massively (measured precision ~0.008, 818 false
      // positives) — the genuine "these params are too coarse" finding
      // this report exists to surface; recall-side arithmetic is pinned
      // by a DedupSpec corpus with a planted miss
      Dedup.minHashEvalReport(T(s, dir, "documents"), threshold = 0.35)),

    // --- pipeline: SHARD ASSIGNMENT — the final write stage:
    //     splitmix shard + stable intra-shard sequence (shuffled order
    //     an epoch reader wants), reproducible across engines/layouts --
    "q173_shard_assignment" -> ((s, dir) =>
      Sampling.shardAssignment(T(s, dir, "documents"), nShards = 8)),

    // --- pipeline: CLASSIFIER CALIBRATION REPORT — mean trained-quality
    //     score per (lang, source): the bias/drift check run before a
    //     filter threshold ships; decimal mean over the 6-dp scores ----
    "q174_quality_calibration" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // the mean of exact 6-dp scores can land exactly ON a 6-dp
      // rounding boundary, where double-round mechanics split engines —
      // so the half-up rounding happens in INTEGER micro-units:
      // mean6 = floor((2·Σ(score·10⁶) + n) / (2n)), then /10⁶
      val sMicro = sum(round(col("quality_score") * 1000000, 0).cast("long"))
      val n = count(lit(1))
      val num2 = sMicro * 2 + n
      val den2 = n * 2
      qualityScoresEn(s, dir)
        .join(docs.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
        .groupBy("lang", "source")
        .agg(n.as("n_docs"),
          // 64-bit IntegralDivide = the oracle's `//`, exact at any n
          (call_function("div", num2, den2).cast("double") / 1000000)
            .as("mean_score"))
    }),

    // --- pipeline: SNAPSHOT DIFF — added/removed/changed between two
    //     corpus versions by 128-bit content hash; one id-keyed
    //     full-outer join of 16-byte rows, unchanged rows drop ---------
    "q172_snapshot_diff" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val base = docs.where(col("doc_id") < 400)
      val next = docs.where(col("doc_id") >= 100)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7L)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
      Dedup.snapshotDiff(base, next)
    }),

    // --- pipeline: EXACT FREQUENT TOKENS, Misra-Gries two-pass — a
    //     width-bounded sketch pass finds a PROVEN candidate superset
    //     (no full-vocabulary shuffle), an exact candidate-only count
    //     pass finishes; guard falls back to exact groupBy if the
    //     parameters void the guarantee --------------------------------
    "q171_frequent_tokens" -> ((s, dir) =>
      TextAnalysis.frequentTokens(T(s, dir, "documents"), minCount = 200)),

    // --- pipeline: FREQUENT TRIGRAMS (boilerplate PHRASE mining) — the
    //     same two-pass Misra-Gries machinery, unit = word 3-gram;
    //     width sized so minCount·width > N at BOTH graded scale
    //     factors (the sketch path runs, not the fallback) -------------
    "q178_frequent_trigrams" -> ((s, dir) =>
      // width: sf0.1 holds 260,704 trigram occurrences, so the sketch
      // guard needs minCount·width > 260,704 — 5·65,536 = 327,680 keeps
      // the MG path (not the exact fallback) live at bench scale too
      TextAnalysis.frequentTokens(T(s, dir, "documents"), minCount = 5,
        width = 65536, gramN = 3)),

    // --- pipeline: PERPLEXITY BUCKETS (the CCNet final step) — LM-score
    //     the held-out slice, then head/middle/tail by percentile_disc
    //     cutpoints (actual data values — engine-exact) applied
    //     MAP-ONLY; no global-order window anywhere --------------------
    "q169_ppl_buckets" -> ((s, dir) => {
      val scored = ngramScoresSplit(s, dir)
      val cuts = scored.agg(
        expr("percentile_disc(0.3) WITHIN GROUP (ORDER BY avg_logprob)").as("q1"),
        expr("percentile_disc(0.7) WITHIN GROUP (ORDER BY avg_logprob)").as("q2"))
      scored.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("avg_logprob"),
          when(col("avg_logprob") <= col("q1"), lit("tail"))
            .when(col("avg_logprob") <= col("q2"), lit("middle"))
            .otherwise(lit("head")).as("ppl_bucket"))
    }),

    // --- pipeline: TRAINED QUALITY CLASSIFIER — discriminative linear
    //     scorer over hashed n-gram features (GPT-3/LLaMA-style "looks
    //     like the reference corpus" filter), 8 full-batch GD steps on
    //     the driver over B-bounded gradient aggregates, algebraic
    //     sigmoid so both engines replay the training bit-for-bit.
    //     Trains TIMED every invocation — the training loop is what
    //     this query benchmarks (q174 reuses the stored artifact) ------
    "q160_quality_classifier" -> ((s, dir) =>
      TextAnalysis.qualityClassifierScores(
        T(s, dir, "documents"), col("lang") === "en")),

    // --- relational: grouped Pearson CORRELATION — decimal power sums
    //     + one closing double chain on a 10-dp grid ------------------
    "q153_grouped_corr" -> ((s, dir) =>
      graft.operators.Stats.groupedCorr(T(s, dir, "orders"),
        "o_orderpriority", col("o_totalprice"), pmod(col("o_custkey"), lit(100L)))),

    // --- events: value HISTOGRAM per event type (width-10 buckets) —
    //     integer bucket counts, map-side partial agg -----------------
    "q154_histogram" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(col("event_type"), floor(col("value") / 10).as("bucket"))
        .agg(count(lit(1)).as("n"))),

    // --- events: SLIDING event-time window — per event, the same
    //     user's activity over the trailing hour (range frame on the
    //     exact ns epoch; partition-keyed, scales out) ----------------
    "q151_sliding_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ns"))
        .rangeBetween(-3600L * 1000000000L, 0)
      T(s, dir, "events").select(col("event_id"), col("user_id"), col("ts_ns"),
        count(lit(1)).over(w).as("events_1h"),
        sum(col("value").cast("decimal(18,6)")).over(w).cast("double").as("value_1h"))
    }),

    // --- events: RETENTION cohorts — users bucketed by first-activity
    //     week, counted per week offset; integer week arithmetic on
    //     the ns epoch so both engines bucket identically -------------
    "q152_retention" -> ((s, dir) => {
      val weekNs = 604800L * 1000000000L
      val ev = T(s, dir, "events")
        .select(col("user_id"), expr(s"ts_ns DIV $weekNs").as("wk"))
      val first = ev.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_active"))
    }),

    // --- events: as-of join — each view event picks up the user's most
    //     recent preceding purchase (union + running last_value; one
    //     shuffle on user_id, no range theta join) ----------------------
    "q88_asof_join" -> ((s, dir) => {
      // epoch-µs on both sides: DuckDB TIMESTAMP is µs-precision, so
      // its epoch_ns() is really µs·1000 — µs is the shared resolution
      val ev = T(s, dir, "events")
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
      EventOps.asOfJoin(
        ev.where(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts_us")),
        ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"),
            col("event_id").as("purchase_id"), col("value")),
        keyCol = "user_id", timeCol = "ts_us",
        rightVals = Seq("purchase_id", "value"))
    }),

    // --- events: interval join — purchases within 24h after each view,
    //     binned at the window width so the equi-join on (user, bin)
    //     replaces a per-user cross product ---------------------------
    "q89_range_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
      EventOps.rangeCountJoin(
        ev.where(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts_us")),
        ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us")),
        keyCol = "user_id", timeCol = "ts_us",
        windowSpan = 86400000000L, leftId = "event_id")
    }),

    // --- events: gap sessionization — 30-minute inactivity closes a
    //     session; one keyed window + one aggregation -------------------
    "q90_sessionize" -> ((s, dir) =>
      EventOps.sessionize(
        T(s, dir, "events")
          .withColumn("ts_us", expr("ts_ns DIV 1000"))
          .select(col("event_id"), col("user_id"), col("ts_us")),
        keyCol = "user_id", timeCol = "ts_us", idCol = "event_id",
        gapSpan = 1800000000L)),

    // --- IQL: dirty-group maintenance — a grouped avg/count_distinct
    //     view (neither is per-group MERGEABLE) materialized, then a
    //     mixed delete+insert batch; only the touched groups are
    //     re-aggregated, every other cached row is kept verbatim
    //     (reference maintains these through DD arrangements,
    //     `src/derived_relations.rs:1-60`). sal is integral so the IEEE
    //     avg is exact (sums < 2^53) and engine-independent ------------
    // --- IQL: SUBTRACTABLE-AGGREGATE retraction — sum/count views
    //     maintain deletes by per-group DECREMENT riding the carried
    //     support table (reference BENCHMARKS.md:91-93 shape): round 1
    //     (conditional delete of a whole dept) seeds the table, round 2
    //     rides it (EngineSpec pins the no-reseed counter), an insert
    //     round keeps it current, and a final delete round decrements
    //     again; dead groups vanish from the view -----------------------
    // --- IQL: AVG RETRACTION — avg = carried decimal sum / non-null
    //     count on the support table, so deletes DECREMENT per group
    //     instead of dirty-group recomputing (round 1 seeds the table,
    //     round 2 rides it; sal is integral so every engine's avg is
    //     the same exact double) -----------------------------------------
    "q186_iql_avg_decrement" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("vemp", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(50L)).as("dept"),
        floor(col("o_totalprice")).cast("long").as("sal")))
      e.run(
        """+vavg(D, avg<S>, count<S>) <- vemp(I, D, S)
          |?vavg(D, A, C)
          |""".stripMargin)
      e.run("-vemp(I, D, S) <- vemp(I, D, S), D = 7") // decrement + seed
      e.run("?vavg(D, A, C)")
      e.run("-vemp(I, D, S) <- vemp(I, D, S), D = 11, I % 2 = 0")
      e.run("?vavg(D, A, C)").last // round 2 rides the carried table
    }),

    // --- IQL: F64-SUM RETRACTION — double sums ride a DECIMAL-carried
    //     support sum (exact, order-independent subtraction; in-place
    //     f64 subtraction drifts), closing the lossy-subtraction
    //     recompute class. sal values are quarters (dyadic rationals),
    //     so decimal carry, IEEE recompute, and the DuckDB oracle all
    //     agree bit for bit ----------------------------------------------
    "q187_iql_fsum_decrement" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("femp", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(50L)).as("dept"),
        (floor(col("o_totalprice")).cast("double") +
          lit(0.25) * pmod(col("o_orderkey"), lit(4L)).cast("double")).as("sal")))
      e.run(
        """+ftot(D, sum<S>, avg<S>, count<S>) <- femp(I, D, S)
          |?ftot(D, S, A, C)
          |""".stripMargin)
      e.run("-femp(I, D, S) <- femp(I, D, S), D = 7")
      e.run("?ftot(D, S, A, C)")
      e.run("-femp(I, D, S) <- femp(I, D, S), D = 11, I % 2 = 0")
      e.run("?ftot(D, S, A, C)").last // decimal-carried decrement
    }),

    // --- IQL: MIN/MAX RETRACTION — deletes maintain through a carried
    //     top-2 (extremum count + runner-up) on the support table: a
    //     non-exhausting delete leaves the value, an exhausting one
    //     promotes the runner-up exactly; round 2's exact-tuple deletes
    //     kill BOTH ends of the injected 999 group, so min and max each
    //     promote riding the table seeded by round 1 (EngineSpec pins
    //     the decrement counters; round 12 — previously min/max deletes
    //     always fell to dirty-group recomputation) --------------------
    // --- IQL: DERIVED-NEGATED-DEPENDENCY IVM — the view negates a
    //     DERIVED relation (highd), so a base change reaches it only
    //     through that stratum: the engine diffs highd's cached
    //     materialization against its new state and flip-routes the
    //     diff (insert into highd kills downstream, removal creates) —
    //     round 12; previously such changes recomputed the view. One
    //     MIXED batch drives both directions at once --------------------
    "q189_iql_neg_derived" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      // 1-in-20 id slice at the SOURCE: every DRed phase body scan
      // rides the pruned base (the maintenance path is what this
      // scenario measures, not repeated full-table scans)
      e.catalog.register("nemp", T(s, dir, "orders")
        .where(pmod(col("o_orderkey"), lit(20L)) === 0)
        .select(
          col("o_orderkey").as("id"),
          pmod(col("o_custkey"), lit(50L)).as("dept"),
          floor(col("o_totalprice")).cast("long").as("sal")))
      e.run(
        """+nemp[(900000020, 999, 900001), (900000040, 999, 10)]
          |+highd(D) <- nemp(I, D, S), S > 900000
          |+lowonly(I, D) <- nemp(I, D, S), !highd(D), I % 20 = 0
          |?lowonly(I, D)
          |""".stripMargin)
      // deleting dept 999's only high order CREATES its rows downstream;
      // inserting a high order into dept 7 KILLS every dept-7 row
      e.run("-nemp(900000020, 999, 900001)\n+nemp[(900000060, 7, 950000)]")
      e.run("?lowonly(I, D)").last
    }),

    "q188_iql_minmax_decrement" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("memp", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(50L)).as("dept"),
        pmod(floor(col("o_totalprice")).cast("long"), lit(1000L)).as("sal")))
      e.run(
        """+memp[(900000001, 999, 1), (900000002, 999, 5), (900000003, 999, 9)]
          |+mmx(D, min<S>, max<S>, count<S>) <- memp(I, D, S)
          |?mmx(D, L, H, C)
          |""".stripMargin)
      e.run("-memp(I, D, S) <- memp(I, D, S), D = 7") // round 1: seeds top-2
      e.run("?mmx(D, L, H, C)")
      e.run("-memp[(900000001, 999, 1), (900000003, 999, 9)]")
      e.run("?mmx(D, L, H, C)").last // round 2 rides: both ends promote
    }),

    // --- IQL: TOP_K retraction — deletes maintain through the carried
    //     prefix buffer (first k+slack distinct rows per group, full
    //     multiplicities): a whole-group death, a top-trim promoting
    //     runner-ups out of the carried slack, and a trim deep enough
    //     to exhaust the slack and force the key-filtered refill pass —
    //     all three decrement rounds, never a base recompute
    //     (EngineSpec pins the counters) ------------------------------
    "q191_iql_topk_retract" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("remp", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(50L)).as("dept"),
        pmod(floor(col("o_totalprice")).cast("long"), lit(100000L)).as("sal")))
      e.run(
        """+rbest(D, top_k<3, I, S:desc>) <- remp(I, D, S)
          |?rbest(D, I, S)
          |""".stripMargin)
      e.run("-remp(I, D, S) <- remp(I, D, S), D = 7") // round 1: group death; seeds
      e.run("?rbest(D, I, S)")
      // round 2: shallow top-trim — runner-ups promote from the slack
      e.run("-remp(I, D, S) <- remp(I, D, S), D = 11, S > 97000")
      e.run("?rbest(D, I, S)")
      // round 3: deep trim past the carried slack — refill pass
      e.run("-remp(I, D, S) <- remp(I, D, S), D = 13, S > 60000")
      e.run("?rbest(D, I, S)").last
    }),

    // --- IQL: AGGREGATE view with a NEGATED dependency — blocklist
    //     moves maintain by DIRTY-GROUP recompute keyed off the flipped
    //     negated occurrence (blocking a dept kills its group, an
    //     unblock revives it), never a full recompute (EngineSpec pins
    //     the counter) ------------------------------------------------
    "q193_iql_agg_neg_retract" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("bemp2", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(50L)).as("dept"),
        floor(col("o_totalprice")).cast("long").as("sal")))
      e.run(
        """+bblk[(7)]
          |+bv(D, sum<S>, count<S>) <- bemp2(I, D, S), !bblk(D)
          |?bv(D, S, C)
          |""".stripMargin)
      e.run("+bblk[(11)]") // round 1: block dept 11 — its group dies
      e.run("?bv(D, S, C)")
      e.run("-bblk[(7)]") // round 2: unblock dept 7 — it revives
      e.run("?bv(D, S, C)").last
    }),

    // --- IQL: STACKED VIEWS — a view over a derived aggregate stratum
    //     maintains through BOTH strata: the lower view's own
    //     maintenance produces its new state, the upper view gets the
    //     lower's delta by STRATUM DIFF (old v0 materialization vs new)
    //     and rides the normal insert/delete machinery; previously any
    //     change reaching a body through a positive derived rel
    //     invalidated the view outright ---------------------------------
    "q194_iql_stacked_views" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("kemp2", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(50L)).as("dept"),
        floor(col("o_totalprice")).cast("long").as("sal")))
      e.run(
        """+k1(D, sum<S>) <- kemp2(I, D, S)
          |+k2(D, T) <- k1(D, T), T > 500000000
          |?k2(D, T)
          |""".stripMargin)
      // round 1: two sentinel depts cross the cut — k1 merges, k2 sees
      // the diff as inserts
      e.run("+kemp2[(900000001, 999, 600000000), (900000002, 998, 700000000)]")
      e.run("?k2(D, T)")
      // round 2: one sentinel dies — k1 decrements, k2 sees a removal
      e.run("-kemp2[(900000001, 999, 600000000)]")
      e.run("?k2(D, T)").last
    }),

    // --- IQL: GLOBAL aggregate retraction — a key-less sum/count view
    //     rides the support table as one group: the first delete round
    //     seeds it from the post-change body, the second decrements it
    //     with one delta-sized ΔG pass, never a base rescan (EngineSpec
    //     pins the counter and the empty-view death) -------------------
    "q195_iql_global_agg_retract" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("gemp4", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        floor(col("o_totalprice")).cast("long").as("sal")))
      e.run(
        """+gtot(sum<S>, count<S>) <- gemp4(I, S)
          |?gtot(S, C)
          |""".stripMargin)
      e.run("-gemp4(I, S) <- gemp4(I, S), S > 400000") // round 1: decrement
      e.run("?gtot(S, C)")
      e.run("-gemp4(I, S) <- gemp4(I, S), I % 7 = 0") // round 2: decrement
      e.run("?gtot(S, C)").last
    }),

    // --- ANN: over-capacity HNSW AUTO-FALLBACK — createIndex past the
    //     capacity guard registers the distributed IVF probe instead of
    //     refusing (the reference keeps one index abstraction over its
    //     base relation, src/index_manager.rs:84-126); with efSearch >=
    //     171 (⌈3·ef/8⌉ ≥ 64 cells) every cell is probed, so the result
    //     must EQUAL brute force: q91's exact twin through the degraded
    //     path ------------------------------------------------------
    "q196_hnsw_overcap_fallback" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val cat = new graft.iql.Catalog(s)
      cat.register("embeddings", emb)
      cat.createIndex("embeddings", "vec_id", "embedding", maxVectors = 64L)
      cat.hnswSearch("embeddings", "embedding", q, 10, efSearch = 16 * 64)
        .select(col("id").as("vec_id"))
    }),

    // --- IQL: over-capacity HNSW fallback RECALL at production nprobe —
    //     q196 anchors the degenerate all-cells probe (== brute force);
    //     this reports what the degraded index actually returns at the
    //     default probe width (efSearch 64 → 24 of the 64 trained
    //     cells, efSearch 96 → 36). The degrade's coarse quantizer is
    //     deterministic k-means over the first-4096-by-id sample (init
    //     first-64, 5 Lloyd iterations, float-rounded means), so DuckDB
    //     replicates training, assignment, probe selection, and top-k
    //     exactly — an oracle-exact recall report, not a rows-only
    //     claim. The nprobe-24 row IS the production floor: ≥ 0.9
    //     recall@10 on this structure-free worst case (HnswSpec pins
    //     the same floor on its own fixture) ---------------------------
    "q197_hnsw_fallback_recall" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cat = new graft.iql.Catalog(s)
      cat.register("embeddings", emb)
      cat.createIndex("embeddings", "vec_id", "embedding", maxVectors = 64L)
      val queries = emb.where(col("vec_id") >= 16 && col("vec_id") < 24)
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
      val k = 10
      // r15: all 8 queries of a probe width resolve in ONE batched
      // Spark action (hnswSearchBatch — row cells computed once, shared
      // across the probe set) and the exact ground truth is hoisted out
      // of the config loop (it does not depend on the probe width; the
      // old per-(config, query) loop ran 32 sequential probe jobs).
      // Identical report: the batch API's per-query top-k is pinned
      // row-for-row to the per-query hnswSearch by CatalogSpec.
      def topSets(ef: Int): Map[Long, Set[Long]] =
        cat.hnswSearchBatch("embeddings", "embedding", queries, k, ef)
          .collect().groupBy(_.getLong(0))
          .map { case (qi, rs) => qi -> rs.map(_.getLong(1)).toSet }
      val truth = topSets(16 * 16) // all cells: exact (q196 anchor)
      // (nprobe, efSearch): ⌈3·ef/8⌉ = 24 at the default 64, 36 at 96
      val report = Seq((24, 64), (36, 96)).map { case (nprobe, ef) =>
        val got = topSets(ef)
        var hits = 0L
        var total = 0L
        queries.indices.foreach { i =>
          val t = truth.getOrElse(i.toLong, Set.empty[Long])
          hits += got.getOrElse(i.toLong, Set.empty[Long]).intersect(t).size.toLong
          total += t.size.toLong
        }
        org.apache.spark.sql.Row(nprobe.toLong, hits, total,
          if (total == 0L) 0L else hits * 1000000L / total)
      }
      s.createDataFrame(java.util.Arrays.asList(report: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("nprobe",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("hits",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("total",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("recall_micro",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }),

    // --- IQL: WITHIN_RADIUS retraction — filter semantics: deletes
    //     subtract the vanished bindings bag-exactly (exceptAll), no
    //     window and no recompute --------------------------------------
    "q192_iql_radius_retract" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("remp2", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(50L)).as("dept"),
        pmod(floor(col("o_totalprice")).cast("long"), lit(100000L)).as("sal")))
      e.run(
        """+rnear(D, within_radius<500, I, S>) <- remp2(I, D, S)
          |?rnear(D, I, S)
          |""".stripMargin)
      e.run("-remp2(I, D, S) <- remp2(I, D, S), D = 7") // round 1
      e.run("?rnear(D, I, S)")
      e.run("-remp2(I, D, S) <- remp2(I, D, S), S < 100, I % 2 = 0") // round 2
      e.run("?rnear(D, I, S)").last
    }),

    "q179_iql_agg_decrement" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("demp", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(50L)).as("dept"),
        floor(col("o_totalprice")).cast("long").as("sal")))
      e.run(
        """+demp[(900000001, 999, 1000), (900000002, 999, 50)]
          |+dtot(D, sum<S>, count<S>) <- demp(I, D, S)
          |?dtot(D, S, C)
          |""".stripMargin)
      e.run("-demp(I, D, S) <- demp(I, D, S), D = 7") // whole-group death
      e.run("?dtot(D, S, C)") // round 1: decrement + support-table seed
      e.run("-demp[(900000001, 999, 1000), (900000002, 999, 50)]")
      e.run("?dtot(D, S, C)").last // round 2 rides the carried table // decrement-maintained, never recomputed
    }),

    // --- IQL: COUNT_DISTINCT retraction — deletes maintain through the
    //     support-counted pairs tables: a value leaves a group's
    //     distinct count only when its LAST supporting binding goes
    //     (the even-id conditional delete removes SOME supports of
    //     surviving values), and a whole dept dies cleanly; both rounds
    //     decrement-maintained (EngineSpec pins the counters) ----------
    "q183_iql_cd_retract" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("cemp2", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(100L)).as("dept"),
        pmod(floor(col("o_totalprice")).cast("long"), lit(500L)).as("sal")))
      e.run(
        """+cdt(D, count_distinct<S>, count<S>) <- cemp2(I, D, S)
          |?cdt(D, C, N)
          |""".stripMargin)
      // ONE netted maintenance round covering both delete semantics:
      // whole-group death (dept 7) and partial-support deletes (even-id
      // sub-250 rows of dept 11 — surviving odd-id bindings keep their
      // values' distinct counts alive); EngineSpec pins the multi-round
      // carried-table behavior separately
      e.run(
        """-cemp2(I, D, S) <- cemp2(I, D, S), D = 7
          |-cemp2(I, D, S) <- cemp2(I, D, S), D = 11, S < 250, I % 2 = 0
          |""".stripMargin)
      e.run("?cdt(D, C, N)").last // decrement-maintained via the pairs
    }),

    "q93_iql_dirty_group_avg" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("aemp", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(100L)).as("dept"),
        floor(col("o_totalprice")).cast("long").as("sal")))
      e.run(
        """+aemp[(900000001, 0, 1000), (900000002, 1, 2000), (900000003, 7, 7777)]
          |+avgm(D, avg<S>, count_distinct<S>) <- aemp(I, D, S)
          |?avgm(D, A, C)
          |""".stripMargin)
      e.run("-aemp(900000003, 7, 7777)\n+aemp[(900000004, 0, 4000)]")
      e.run("?avgm(D, A, C)").last // dirty-group maintained, not recomputed
    }),

    // --- IQL: COUNT_DISTINCT INSERTS — insert-only batches maintain the
    //     cd view through its carried support and distinct-pairs tables
    //     (a touched pair's binding support rises; a pair born raises
    //     its group's distinct count) instead of per-dirty-group
    //     recomputation; the first round seeds the tables from the
    //     post-change body, the second rides them ----------------------
    "q143_iql_cd_merge" -> ((s, dir) => {
      val e = iqlEngine(s, dir)
      e.catalog.register("cemp", T(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        pmod(col("o_custkey"), lit(100L)).as("dept"),
        pmod(floor(col("o_totalprice")).cast("long"), lit(500L)).as("sal")))
      e.run(
        """+cdm(D, count_distinct<S>, sum<S>, count<S>) <- cemp(I, D, S)
          |?cdm(D, C, S, N)
          |""".stripMargin)
      e.run("+cemp[(900000001, 0, 77), (900000002, 0, 77), (900000003, 1, 78)]")
      e.run("?cdm(D, C, S, N)")
      e.run("+cemp[(900000004, 0, 78), (900000005, 200, 1)]")
      e.run("?cdm(D, C, S, N)").last // rides the pairs table, not recomputed
    }),

    // --- pipeline: corpus length distribution (exact discrete quantiles) ---------------------
    "q94_corpus_quantiles" -> ((s, dir) =>
      TextAnalysis.lengthDistribution(T(s, dir, "documents"))),

    // --- pipeline: per-language vocabulary size — exact (oracle) and HLL-
    //     sketched (the 100 TB path: fixed-size mergeable state instead of
    //     shuffling every token into a distinct) ---------------------------
    "q95_vocab_exact" -> ((s, dir) =>
      TextAnalysis.vocabulary(T(s, dir, "documents"))),
    "q96_vocab_sketch" -> ((s, dir) =>
      TextAnalysis.vocabularyApprox(T(s, dir, "documents"))),

    // --- pipeline: source-weighted mixing with upsampling — weight
    //     num/den emits ⌊num/den⌋ copies plus a deterministic
    //     fractional band; rep = 0-based epoch index. Map-only
    //     (CASE + explode(sequence)), exactly replicated in DuckDB
    //     via the splitmix position --------------------------------
    "q97_source_mix" -> ((s, dir) =>
      Sampling.mixWeights(
        T(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", col("source"),
        Seq("src0" -> ((5, 2)), "src1" -> ((3, 1)),
            "src2" -> ((1, 3)), "src3" -> ((1, 1))),
        salt = 11L)),

    // --- pipeline: trained BPE tokenizer. q98/q100 run the real
    //     50-merge table (rows-only: the merge loop is iterative and
    //     not SQL-expressible); q99/q101 are their EXACT-oracle twins
    //     at numMerges=1, where the argmax pair and its left-to-right
    //     non-overlapping application are both SQL-computable --------
    "q98_bpe_merges" -> ((s, dir) => Bpe.mergesDf(s, bpeMerges(s, dir))),
    "q99_bpe_first_merge" -> ((s, dir) =>
      Bpe.mergesDf(s, bpeMerges(s, dir).take(1))),
    "q100_bpe_encode" -> ((s, dir) =>
      Bpe.tokenCounts(T(s, dir, "documents"), bpeMerges(s, dir))),
    "q101_bpe_encode_one" -> ((s, dir) =>
      Bpe.tokenCounts(T(s, dir, "documents"), bpeMerges(s, dir).take(1))),
    // tokenizer→packer composition: pack by the one-merge BPE counts
    // (exact end-to-end oracle: the q101 chain feeds q78's running sum)
    "q117_bpe_packing" -> ((s, dir) =>
      Sampling.packSequences(
        Bpe.tokenCounts(T(s, dir, "documents"), bpeMerges(s, dir).take(1)),
        capacity = 4096, tokenCount = col("n_bpe_tokens"))
        .select(col("doc_id"), col("n_bpe_tokens"), col("bin"), col("bin_off"))),

    // --- pipeline: random-projection dimensionality reduction (JL) —
    //     64-dim embeddings → 8 seeded-Gaussian projections, map-only,
    //     planes baked into the plan as literals -----------------------
    "q102_random_projection" -> ((s, dir) =>
      Similarity.randomProject(T(s, dir, "embeddings"), dim = 64, k = 8)),

    // --- pipeline: product quantization. q103 is the real path
    //     (per-subspace trained k-means codebooks, rows-only — ADC over
    //     trained codebooks is approximate by construction); q104/q105
    //     are its exact-oracle twins with SEEDED codebooks, where the
    //     encode argmax and the ADC lookup-sum replicate in SQL with
    //     bit-identical double chains --------------------------------
    "q103_ann_pq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cb = pqCodebooks(s, dir)
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.pqTopKReranked(emb, Similarity.pqEncode(emb, cb), q, cb,
        k = 10, shortlist = 100).select(col("vec_id"))
    }),
    // --- pipeline: probability-proportional-to-size sampling — keep
    //     P = min(1, n_chars/5000): the token-uniform corpus sample;
    //     exact integer decision, map-only ----------------------------
    "q109_pps_sample" -> ((s, dir) =>
      Sampling.ppsSample(
        T(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", col("n_chars"), num = 1, den = 5000, salt = 19L)),

    // --- pipeline: sketched length quantiles — fixed-size GK state per
    //     group (the 100 TB path; q94 is its exact anchor). rows-only:
    //     sketch outputs are implementation-specific -------------------
    "q116_quantile_sketch" -> ((s, dir) =>
      TextAnalysis.lengthDistributionApprox(T(s, dir, "documents"))),

    // --- pipeline: per-language heavy hitters — top-20 tokens by
    //     frequency (stopword discovery / frequency tables) -----------
    "q115_top_terms" -> ((s, dir) =>
      TextAnalysis.topTerms(T(s, dir, "documents"), k = 20)),

    // --- scale: skew-mitigation twins — the salted plans must equal
    //     their unsalted counterparts row-for-row; the salt exists only
    //     to spread hot keys across reducers --------------------------
    // --- scale: BUCKETED co-located join — both sides written
    //     bucketBy(8, custkey), so the equi-join runs with ZERO
    //     shuffle on either side (bucket i joins bucket i locally;
    //     PlanQualitySpec asserts no Exchange). Same result as the
    //     plain join — the layout only moves WHERE the work happens --
    "q144_bucketed_join" -> ((s, dir) => {
      val (to, tc) = bucketedTables(s, dir)
      graft.sources.Layouts.bucketed(s, to)
        .join(graft.sources.Layouts.bucketed(s, tc), Seq("custkey"))
        .select(col("o_orderkey"), col("custkey"), col("o_totalprice"),
          col("c_name"))
    }),

    "q113_salted_join" -> ((s, dir) =>
      graft.operators.Skew.saltedJoin(
        T(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey").as("custkey"), col("o_totalprice")),
        T(s, dir, "customer").select(col("c_custkey").as("custkey"),
          col("c_name")),
        key = "custkey", salts = 8)),
    "q114_salted_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedSumCount(
        T(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_extendedprice"), salts = 16)),

    // --- pipeline: SemDeDup — semantic near-dup pairs scoped to
    //     trained k-means clusters (q111, rows-only: cluster scoping is
    //     the approximation); q112 runs the identical machinery with
    //     ONE centroid, where it must equal exact all-pairs cosine ----
    "q111_semdedup" -> ((s, dir) =>
      Dedup.semanticPairs(T(s, dir, "embeddings"), ivfCentroids(s, dir),
        minCosine = 0.3, capIds = 500L)),
    "q112_semdedup_one_cluster" -> ((s, dir) =>
      Dedup.semanticPairs(T(s, dir, "embeddings"),
        Array(Array.fill(64)(0.0)), minCosine = 0.3, capIds = 500L)),

    // --- pipeline: the composed curation job — stats filter → exact
    //     dedup (min-id survivor per content hash) → length-
    //     proportional sample → sequence packing. Every stage is
    //     deterministic and SQL-replicable, so the END-TO-END pipeline
    //     has one exact oracle: what a user's real curation run looks
    //     like, checked as one unit ---------------------------------
    "q110_curation_pipeline" -> ((s, dir) => {
      val filtered = T(s, dir, "documents")
        .withColumn("tok", TF.tokenCount(col("text")))
        .where(col("tok") >= 30 && col("n_chars") <= 4000)
      val surv = Dedup.exactSurvivors(filtered)
      val sampled = Sampling.ppsSample(surv, "doc_id", col("tok"),
        num = 1, den = 200, salt = 23L)
      Sampling.packSequences(sampled, 2048, tokenCount = col("tok"))
        .select(col("doc_id"), col("tok"), col("bin"), col("bin_off"))
    }),

    // --- pipeline: mean pooling — per-label element-wise embedding
    //     mean (class centroids / chunk pooling), tall (label, pos,
    //     mean) output, decimal sums + 6-dp round for engine parity ---
    "q108_mean_pool" -> ((s, dir) =>
      Similarity.meanPool(T(s, dir, "embeddings"))),

    // --- graph: fixed-iteration PageRank on the BASELINE digraph —
    //     power iteration with value-sorted sequential sums (exactSum),
    //     so every double op has a defined operand order and the
    //     floating-point fixpoint hash-matches DuckDB bit-for-bit -----
    "q107_pagerank" -> ((s, dir) =>
      graft.operators.GraphOps.pageRank(benchGraph(s), iters = 5,
        exactSum = true)),

    // --- graph: PageRank in the PRODUCTION sum mode — decimal partial
    //     aggregation (order-independent, no per-node in-degree state),
    //     the 100 TB shape q107's exactSum anchor deliberately does not
    //     measure. Rows-only: Spark's double→decimal cast goes through
    //     shortest-repr, DuckDB's through the binary expansion, so an
    //     iterated fixpoint can't hash-match cross-engine; q107 anchors
    //     the identical join⋈agg algebra bit-exactly, and GraphOpsSpec
    //     pins the two modes within 1e-9 of each other ------------------
    "q119_pagerank_decimal" -> ((s, dir) =>
      graft.operators.GraphOps.pageRank(benchGraph(s), iters = 5)),

    // --- graph: fixed-iteration HITS on the BASELINE digraph — hub/
    //     authority power iteration with MAX normalization (order-
    //     independent, no global fold), value-sorted sequential sums:
    //     the whole fixpoint hash-matches DuckDB bit-for-bit ----------
    "q140_hits" -> ((s, dir) =>
      graft.operators.GraphOps.hits(benchGraph(s), iters = 3,
        exactSum = true)),

    // --- graph: HITS in the PRODUCTION sum mode — decimal partials
    //     (order-independent, no per-node in-degree state), rows-only
    //     for the same double→decimal cast reason as q119; q140
    //     anchors the identical algebra exactly ----------------------
    "q141_hits_decimal" -> ((s, dir) =>
      graft.operators.GraphOps.hits(benchGraph(s), iters = 3)),

    // --- graph: per-node TRIANGLE counts via degree orientation
    //     (wedges bounded by oriented out-degree — the power-law-safe
    //     shape); the oracle is the naive a<b<c triple join ----------
    "q142_triangles" -> ((s, dir) =>
      graft.operators.GraphOps.triangleCounts(denseGraph(s))),

    // re-rank with shortlist ≥ N == exact Euclidean top-k regardless of
    // codebooks — the hard oracle anchor for the trained semi-join +
    // re-rank path (the q66/q67/q91 pattern)
    "q106_pq_rerank_all" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cb = pqCodebooks(s, dir)
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.pqTopKReranked(emb, Similarity.pqEncode(emb, cb), q, cb,
        k = 10, shortlist = 1000000).select(col("vec_id"))
    }),
    "q104_pq_codes" -> ((s, dir) =>
      Similarity.pqEncode(T(s, dir, "embeddings"),
        Similarity.pqSeededCodebooks(dim = 64, m = 8, k = 16))),
    "q105_pq_adc_seeded" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cb = Similarity.pqSeededCodebooks(dim = 64, m = 8, k = 16)
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.pqAdcTopK(Similarity.pqEncode(emb, cb), q, cb, 10)
        .select(col("vec_id"))
    }),

    // --- pipeline: IVF-PQ — the composed production ANN index (the
    //     FAISS IVFPQ shape): trained coarse cells prune the scan to
    //     nprobe/nCells of the code table, ADC scores m bytes/vector,
    //     floats semi-join for the shortlist only. rows-only: trained
    //     + probed is approximate by construction; q138 is the exact
    //     twin with both approximations turned off --------------------
    "q137_ann_ivfpq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cent = ivfCentroids(s, dir)
      val cb = pqCodebooks(s, dir)
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.ivfPqTopK(emb, Similarity.ivfPqEncode(emb, cent, cb), q,
        cent, cb, k = 10, nprobe = 4, shortlist = 100).select(col("vec_id"))
    }),

    // all cells probed + all-rows shortlist → both approximations
    // vanish: must EQUAL exact Euclidean top-k (q106's oracle)
    "q138_ann_ivfpq_allprobes" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cent = ivfCentroids(s, dir)
      val cb = pqCodebooks(s, dir)
      val q = emb.where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.ivfPqTopK(emb, Similarity.ivfPqEncode(emb, cent, cb), q,
        cent, cb, k = 10, nprobe = cent.length, shortlist = 1000000)
        .select(col("vec_id"))
    })
  )

  /** Trained PQ codebooks per sf dir (8 subspace k-means loops — an
    * index build, so [[warmFixtures]] fills this untimed). */
  private val pqCodebookCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Double]]]]
  private def pqCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqCodebookCache.getOrElseUpdate(dir,
      Similarity.pqTrainedCodebooks(T(s, dir, "embeddings"), dim = 64, m = 8, k = 16))

  /** Trained BPE merge table per sf dir (training is deterministic, so
    * the cache is pure memoization — same pattern as the IVF centroid
    * cache). 50 merges ≈ half-fused on the synthetic corpus's 31-word
    * vocabulary; the cap on collected vocabulary is the scale gate. */
  private val bpeMergeCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Bpe.Merge]]
  private def bpeMerges(s: SparkSession, dir: String): Seq[Bpe.Merge] =
    bpeMergeCache.getOrElseUpdate(dir,
      Bpe.train(T(s, dir, "documents"), numMerges = 50))

  private val ivfCentroidCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Double]]]
  // q164 (projection) and q168 (whitening) train the IDENTICAL model
  // (same slice, same mode) — train once per sf dir, like the centroids
  private val pcaModelCache =
    scala.collection.concurrent.TrieMap.empty[String, Similarity.PcaModel]
  // q174 (calibration) reports over a STORED scored table — the real
  // workload shape (score once, report after); the frame trains once
  // per sf dir as an untimed fixture. q160 deliberately does NOT use
  // this cache: the training loop is what q160 benchmarks.
  private val qcScoresCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def qualityScoresEn(s: SparkSession, dir: String): DataFrame =
    qcScoresCache.getOrElseUpdate(dir, {
      val df = TextAnalysis.qualityClassifierScores(
        T(s, dir, "documents"), col("lang") === "en").localCheckpoint(true)
      df.count()
      df
    })
  // q169 buckets over a STORED LM-score table (CCNet's actual shape:
  // score once, bucket after); q161 stays uncached — the LM train+score
  // pass is what q161 benchmarks
  private val ngramScoresCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def ngramScoresSplit(s: SparkSession, dir: String): DataFrame =
    ngramScoresCache.getOrElseUpdate(dir, {
      val docs = T(s, dir, "documents")
      val df = TextAnalysis.ngramLogProb(
        docs.where(pmod(col("doc_id"), lit(2L)) === 0),
        docs.where(pmod(col("doc_id"), lit(2L)) === 1)).localCheckpoint(true)
      df.count()
      df
    })
  private def pcaModel(s: SparkSession, dir: String): Similarity.PcaModel =
    pcaModelCache.getOrElseUpdate(dir,
      Similarity.pcaTrain(
        T(s, dir, "embeddings").where(col("vec_id") < 500), nComp = 3))
  private def ivfCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    ivfCentroidCache.getOrElseUpdate(dir,
      Similarity.kmeansCentroids(T(s, dir, "embeddings"), k = 16, iters = 3))

  /** LSH-partitioned embedding layout per sf dir (the write-once "index
    * build" analogous to the reference's index creation): embeddings with
    * a stored bucket column, written `partitionBy("bucket")` so probes
    * prune partitions at scan time. */
  private val lshLayoutCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def lshLayout(s: SparkSession, dir: String): DataFrame = {
    val path = lshLayoutCache.getOrElseUpdate(dir, {
      val out = java.nio.file.Files.createTempDirectory("graft_lsh_").toString
      // repartition by bucket first: each task writes whole partition
      // dirs — one file per bucket instead of (tasks x buckets) shards
      Similarity.lshAssign(T(s, dir, "embeddings"), dim = 64)
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(out)
      out
    })
    s.read.parquet(path)
  }

  /** Bucketed co-located join layout per sf dir (the second write-once
    * layout family: [[graft.sources.Layouts]]): orders and customer both
    * `bucketBy(8, custkey)` — every later equi-join on custkey is then a
    * ZERO-SHUFFLE sort-merge (PlanQualitySpec asserts no Exchange). */
  private val bucketedLayoutCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private def bucketedTables(s: SparkSession, dir: String): (String, String) =
    bucketedLayoutCache.getOrElseUpdate(dir, {
      val base = java.nio.file.Files.createTempDirectory("graft_bkt_").toString
      val suffix = math.abs(dir.hashCode).toString
      val (to, tc) = (s"g_orders_b_$suffix", s"g_customer_b_$suffix")
      graft.sources.Layouts.writeBucketed(
        T(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey").as("custkey"), col("o_totalprice")),
        to, "custkey", buckets = 8, path = s"$base/orders")
      graft.sources.Layouts.writeBucketed(
        T(s, dir, "customer").select(col("c_custkey").as("custkey"),
          col("c_name")),
        tc, "custkey", buckets = 8, path = s"$base/customer")
      (to, tc)
    })

  private val hnswCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.index.Hnsw]

  /** Catalog with a MAINTAINED index (`.index create` path: indexes +
    * indexMeta both registered, so Catalog.insert/delete update the graph
    * in place — reference `src/index_manager.rs:84-126`). Own index build,
    * never the shared [[hnswCache]] graph: q118 mutates it. */
  private val hnswMaintCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.iql.Catalog]
  private def hnswMaintCatalog(s: SparkSession, dir: String): graft.iql.Catalog =
    hnswMaintCache.getOrElseUpdate(dir, {
      val cat = new graft.iql.Catalog(s)
      cat.register("embeddings", T(s, dir, "embeddings"))
      cat.createIndex("embeddings", "vec_id", "embedding", name = "emb_idx")
      cat
    })

  /** One-time per-dir index artifacts — the LSH `partitionBy(bucket)`
    * layout, IVF centroids, the driver HNSW graph — built OUTSIDE query
    * timing. Index construction is a fixture, like the reference's
    * `.index create` (its benchmark times the search, never the build);
    * the ANN queries then measure the probe. [[Bench]] calls this in
    * its untimed warmup; lazy first-query builds remain the fallback
    * when a caller skips it. */
  def warmFixtures(s: SparkSession, dir: String): Unit = {
    lshLayout(s, dir)
    ivfCentroids(s, dir)
    hnswCache.getOrElseUpdate(dir,
      graft.index.Hnsw.build(T(s, dir, "embeddings"), "vec_id", "embedding"))
    hnswMaintCatalog(s, dir)
    pqCodebooks(s, dir)
    bpeMerges(s, dir) // tokenizer training is an index build, untimed
    pcaModel(s, dir)  // PCA model training likewise — q164/q168 measure
                      // the projection scan, the oracle still replays
                      // the full training trace
    qualityScoresEn(s, dir) // q174's stored scored table (BPE stance);
                            // q160 and q166 still train TIMED — the
                            // loop/chain is the measurement there
    ngramScoresSplit(s, dir) // q169's stored LM-score table; q161
                             // still trains+scores timed
    ()
  }

  /** Engine over a fresh per-query catalog with the named parquet tables
    * registered — an IQL rule over a registered table compiles to a plan
    * whose scan IS the parquet source (pushdown intact). */
  private def iqlEngine(s: SparkSession, dir: String, tables: String*): graft.iql.Engine = {
    val cat = new graft.iql.Catalog(s)
    tables.foreach(t => cat.register(t, T(s, dir, t)))
    new graft.iql.Engine(cat)
  }

  // =====================================================================
  // DuckDB oracle SQL — must match the Spark result on columns AND values.
  // =====================================================================

  /** The seeded LSH planes / IVF centroids are deterministic constants
    * (java.util.Random Gaussians from fixed seeds), so the approximate-
    * ANN oracles EMBED them as literals and replay bucket/cell assignment
    * and probe selection in SQL — both engines accumulate the dot
    * products sequentially in doubles, so the signs/argmaxes agree
    * bit-for-bit. Double.toString round-trips exactly through SQL
    * literal parsing. */
  private def vecLit(a: Array[Double]): String =
    a.mkString("[", ", ", "]")

  private lazy val q34OracleSql: String = {
    val planes = graft.functions.LshFunctions.hyperplanes(dim = 64, nPlanes = 6, table = 0)
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${vecLit(p)}) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n + ")
    // radius-2 multi-probe = all buckets within Hamming distance 2 of home
    val hamming = (0 until 6).map(b => s"((xor(b.bucket, h.hb) >> $b) & 1)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM e),
       |h AS (SELECT bucket AS hb, v AS hv FROM b WHERE vec_id = 0)
       |SELECT b.vec_id FROM b, h
       |WHERE $hamming <= 2
       |ORDER BY list_cosine_similarity(b.v, h.hv) DESC, b.vec_id ASC LIMIT 10""".stripMargin
  }

  private lazy val q35OracleSql: String = {
    val cents = graft.functions.LshFunctions.hyperplanes(
      dim = 64, nPlanes = 16, table = 0, seed = 0xCE11L)
    val centVals = cents.zipWithIndex.map { case (c, i) => s"($i, ${vecLit(c)})" }
      .mkString(",\n")
    // assignment tie → larger cell (Spark greatest over (score, cell)
    // structs); probe-selection tie → smaller cell (stable sortBy)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents(cell, cv) AS (VALUES $centVals),
       |scored AS (SELECT e.vec_id, e.v, cents.cell,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_inner_product(e.v, CAST(cents.cv AS DOUBLE[])) DESC,
       |             cents.cell DESC) AS rn
       |  FROM e, cents),
       |a AS (SELECT vec_id, v, cell FROM scored WHERE rn = 1),
       |h AS (SELECT v AS hv FROM e WHERE vec_id = 0),
       |pc AS (SELECT cents.cell FROM cents, h
       |  ORDER BY list_inner_product(h.hv, CAST(cents.cv AS DOUBLE[])) DESC,
       |           cents.cell ASC LIMIT 4)
       |SELECT a.vec_id FROM a, h
       |WHERE a.cell IN (SELECT cell FROM pc)
       |ORDER BY list_cosine_similarity(a.v, h.hv) DESC, a.vec_id ASC LIMIT 10""".stripMargin
  }

  /** The seeded-PQ codebooks as a SQL VALUES list (j, c, centroid,
    * ‖centroid‖²/2) — the same literals [[Similarity.pqSeededCodebooks]]
    * bakes into the Spark plan, so neither side can drift. */
  private lazy val pqCbValues: String = {
    val cbs = Similarity.pqSeededCodebooks(dim = 64, m = 8, k = 16)
    (for { j <- 0 until 8; c <- 0 until 16 } yield {
      val cv = cbs(j)(c)
      val half = cv.map(x => x * x).sum / 2.0
      s"($j, $c, ${vecLit(cv)}, $half)"
    }).mkString(",\n")
  }

  /** A double as a SQL literal DuckDB parses as DOUBLE (not DECIMAL):
    * Scala's shortest-repr toString round-trips; the e0 suffix forces
    * the double parse path for plain decimals. */
  private def dLit(d: Double): String = {
    val s = d.toString
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }

  private lazy val q107OracleSql: String = {
    // the BASELINE digraph's node count, from the same LCG that
    // generates the edges — so the 1/N literals here are the exact
    // doubles the Spark loop computes from its runtime distinct count
    val n = (0 until 2000).flatMap { i =>
      Seq((i.toLong * 48271 % 65537) % 1000, ((i.toLong * 69621 + 12345) % 65537) % 1000)
    }.distinct.size
    val damping = 0.85
    // value-sorted sequential fold == Spark's aggregate(sort_array(
    // collect_list)) — bit-identical double chains, no rounding needed
    val steps = (1 to 5).map { k =>
      s"""pr$k AS (SELECT nd.node,
         |  ${dLit((1.0 - damping) / n)} + ${dLit(damping)} * COALESCE(cs.s, 0.0e0) AS pr
         |  FROM nd LEFT JOIN (
         |    SELECT e.dst AS node,
         |      list_reduce(list_prepend(0.0e0, list_sort(list(p.pr / od.odeg))),
         |                  (a, b) -> a + b) AS s
         |    FROM e JOIN pr${k - 1} p ON e.src = p.node
         |    JOIN od ON od.src = e.src
         |    GROUP BY e.dst) cs ON cs.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($benchGraphSql),
       |nd AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e) t),
       |od AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY src),
       |pr0 AS (SELECT node, ${dLit(1.0 / n)} AS pr FROM nd),
       |$steps
       |SELECT node, pr FROM pr5""".stripMargin
  }

  /** HITS replication: per-half-step value-sorted sequential folds
    * (the q107 idiom) + max normalization — max over identical doubles
    * is order-independent, the division exactly rounded, so 3
    * iterations replay bit-for-bit with no rounding anywhere. */
  private lazy val q140OracleSql: String = {
    val steps = (1 to 3).map { k =>
      s"""ar$k AS (SELECT nd.node, COALESCE(cs.s, 0.0e0) AS a FROM nd LEFT JOIN (
         |    SELECT e.dst AS node,
         |      list_reduce(list_prepend(0.0e0, list_sort(list(p.h))), (x, y) -> x + y) AS s
         |    FROM e JOIN h${k - 1} p ON e.src = p.node GROUP BY e.dst) cs
         |  ON cs.node = nd.node),
         |a$k AS (SELECT node, CASE WHEN mx = 0 THEN 0.0e0 ELSE a / mx END AS a
         |        FROM ar$k, (SELECT MAX(a) AS mx FROM ar$k)),
         |hr$k AS (SELECT nd.node, COALESCE(cs.s, 0.0e0) AS h FROM nd LEFT JOIN (
         |    SELECT e.src AS node,
         |      list_reduce(list_prepend(0.0e0, list_sort(list(p.a))), (x, y) -> x + y) AS s
         |    FROM e JOIN a$k p ON e.dst = p.node GROUP BY e.src) cs
         |  ON cs.node = nd.node),
         |h$k AS (SELECT node, CASE WHEN mx = 0 THEN 0.0e0 ELSE h / mx END AS h
         |        FROM hr$k, (SELECT MAX(h) AS mx FROM hr$k))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($benchGraphSql),
       |nd AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e) t),
       |h0 AS (SELECT node, 1.0e0 AS h FROM nd),
       |$steps
       |SELECT h3.node, h3.h AS hub, a3.a AS authority
       |FROM h3 JOIN a3 ON h3.node = a3.node""".stripMargin
  }

  private lazy val q101OracleSql: String =
    """WITH d AS (SELECT doc_id, CASE WHEN LEN(TRIM(text)) = 0
      |  THEN []::VARCHAR[] ELSE regexp_split_to_array(TRIM(text), '\s+')
      |  END AS ws FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS word FROM d),
      |v AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY word),
      |p AS (SELECT substring(word, i, 1) AS l, substring(word, i + 1, 1) AS r,
      |      SUM(freq) AS cnt
      |      FROM v, unnest(generate_series(1, length(word) - 1)) AS t(i)
      |      GROUP BY 1, 2),
      |best AS (SELECT l || r AS pair FROM p ORDER BY cnt DESC, l, r LIMIT 1),
      |enc AS (SELECT t.doc_id, SUM(length(t.word) -
      |        (length(t.word) - length(replace(t.word, b.pair, ''))) // 2) AS n
      |        FROM tok t CROSS JOIN best b GROUP BY t.doc_id)
      |SELECT d.doc_id, COALESCE(CAST(enc.n AS BIGINT), 0) AS n_bpe_tokens
      |FROM d LEFT JOIN enc ON d.doc_id = enc.doc_id""".stripMargin

  private lazy val q104OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb(j, c, cv, half) AS (VALUES $pqCbValues),
       |scored AS (SELECT e.vec_id, cb.j, cb.c,
       |  list_inner_product(e.v[cb.j*8+1 : cb.j*8+8], CAST(cb.cv AS DOUBLE[])) - cb.half AS score
       |  FROM e, cb),
       |best AS (SELECT vec_id, j, c,
       |  row_number() OVER (PARTITION BY vec_id, j ORDER BY score DESC, c ASC) AS rn
       |  FROM scored),
       |codes AS (SELECT vec_id, j, c FROM best WHERE rn = 1)
       |SELECT vec_id,
       |${(0 until 8).map(j => s"  MAX(CASE WHEN j = $j THEN c END) AS c$j")
           .mkString(",\n")}
       |FROM codes GROUP BY vec_id""".stripMargin

  private lazy val q105OracleSql: String = {
    // lut term order mirrors Similarity.pqLut exactly: diff², summed in
    // component order, then the per-subspace adds left-associated
    val lutSum = (1 to 8).map(i =>
      s"(q.v[cb.j*8+$i] - cb.cv[$i]) * (q.v[cb.j*8+$i] - cb.cv[$i])")
      .mkString("(", " + ", ")")
    val adc = (0 until 8).map(j => s"l$j.val").mkString("(", " + ", ")")
    val joins = (0 until 8).map(j =>
      s"JOIN lut l$j ON l$j.j = $j AND l$j.c = w.c$j").mkString("\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb(j, c, cv, half) AS (VALUES $pqCbValues),
       |q AS (SELECT v FROM e WHERE vec_id = 0),
       |lut AS (SELECT cb.j, cb.c, $lutSum AS val FROM cb, q),
       |scored AS (SELECT e.vec_id, cb.j, cb.c,
       |  list_inner_product(e.v[cb.j*8+1 : cb.j*8+8], CAST(cb.cv AS DOUBLE[])) - cb.half AS score
       |  FROM e, cb),
       |best AS (SELECT vec_id, j, c,
       |  row_number() OVER (PARTITION BY vec_id, j ORDER BY score DESC, c ASC) AS rn
       |  FROM scored),
       |codes AS (SELECT vec_id, j, c FROM best WHERE rn = 1),
       |w AS (SELECT vec_id,
       |${(0 until 8).map(j => s"  MAX(CASE WHEN j = $j THEN c END) AS c$j")
           .mkString(",\n")}
       |FROM codes GROUP BY vec_id)
       |SELECT w.vec_id FROM w
       |$joins
       |ORDER BY $adc ASC, w.vec_id ASC LIMIT 10""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_filter_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45",

    "q02_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |COUNT(*) AS n_rows, MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q03_join_basic" ->
      "SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey",

    "q04_join3_arith" ->
      """SELECT c_custkey, c_name,
        |CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_items
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_quantity > 10
        |GROUP BY c_custkey, c_name""".stripMargin,

    "q05_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q06_semijoin" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q07_union_distinct" ->
      "SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey AS nk FROM supplier",

    "q41_intersect" ->
      "SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey AS nk FROM supplier",

    "q42_except" ->
      "SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey AS nk FROM supplier",

    "q08_cross_product" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation",

    "q09_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer",

    "q10_topk_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |FROM orders) WHERE rn <= 2""".stripMargin,

    "q11_sort_limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50 OFFSET 10""".stripMargin,

    "q12_agg_suite" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |COUNT(DISTINCT l_partkey) AS n_parts,
        |MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q13_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12""".stripMargin,

    "q14_compute_arith" ->
      """SELECT l_orderkey, l_linenumber,
        |l_extendedprice * (1 - l_discount) AS disc_price,
        |l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
        |FROM lineitem""".stripMargin,

    "q15_string_funcs" ->
      """SELECT p_partkey, UPPER(p_name) AS uname, LOWER(p_brand) AS lbrand,
        |SUBSTR(p_type, 1, 5) AS type5, LEN(p_name) AS name_len,
        |CONCAT(p_brand, '#', p_type) AS brand_type,
        |REPLACE(p_name, ' ', '_') AS uscored
        |FROM part""".stripMargin,

    "q16_math_funcs" ->
      """SELECT c_custkey, ABS(c_acctbal) AS abal, SQRT(ABS(c_acctbal)) AS sq,
        |CAST(FLOOR(c_acctbal) AS BIGINT) AS fl, CAST(CEIL(c_acctbal) AS BIGINT) AS ce,
        |CAST(SIGN(c_acctbal) AS BIGINT) AS sgn, c_acctbal * c_acctbal AS sq2
        |FROM customer""".stripMargin,

    "q17_case_when" ->
      """SELECT CASE WHEN o_totalprice > 200000 THEN 'high'
        |WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS bucket,
        |COUNT(*) AS n FROM orders GROUP BY 1""".stripMargin,

    "q18_date_parts" ->
      """SELECT YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo,
        |COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q19_temporal_filter" ->
      """SELECT event_type, COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v
        |FROM events
        |WHERE epoch_ms(ts) >= 1704844800000 AND epoch_ms(ts) <= 1705449600000
        |GROUP BY event_type""".stripMargin,

    "q20_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |PARTITION BY o_custkey ORDER BY o_orderkey
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders""".stripMargin,

    // window suite: one total order per customer, both engines apply
    // the SQL-standard semantics for every function
    "q146_window_suite" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |CAST(row_number() OVER w AS BIGINT) AS rn,
        |CAST(rank() OVER w AS BIGINT) AS rk,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |lag(o_totalprice, 1) OVER w AS prev_price,
        |lead(o_orderkey, 1) OVER w AS next_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,

    // rollup: identical subtotal lattice incl. the NULL indicator rows
    "q147_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    // pivot: filtered aggregates reproduce the explicit value columns
    "q148_pivot" ->
      """SELECT o_custkey % 10 AS bucket,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS "O",
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS "F",
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS "P"
        |FROM orders GROUP BY 1""".stripMargin,

    // span removal: span CTEs verbatim, complement intervals, ordered
    // reassembly — substring equality needs no hash replication
    "q155_span_removal" -> Dedup.removeSpansOracleSql(),

    // exact set-similarity join: the operator is exact, so brute-force
    // all-pairs token Jaccard must equal the prefix-filtered plan
    "q156_setsim_join" -> Dedup.setSimilarityOracleSql(num = 1, den = 2),

    // gopher repetition: gram strings stand in for token sequences, an
    // offsets cumsum, same top tie-break, same island merge, 6-dp
    "q157_gopher_repetition" -> TextAnalysis.gopherOracleSql(),

    // k-core: the same synchronous peel unrolled as chained CTEs
    "q158_kcore" -> graft.operators.GraphOps.kCoreOracleSql(denseGraphSql, k = 17, rounds = 8),

    // HTML extraction: identical regex chain over the same synthetic page
    "q159_html_extract" -> TextAnalysis.extractHtmlOracleSql(htmlWrapSql),

    // 5-gram backoff LM: identical gram tables + longest-match selection
    "q161_ngram_lm" -> TextAnalysis.ngramLogProbOracleSql(
      "doc_id % 2 = 0", "doc_id % 2 = 1"),

    // filtered-HNSW exhaustive twin == filtered brute force
    "q177_hnsw_filtered_exhaustive" ->
      """SELECT vec_id FROM embeddings WHERE label = 1
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |vec_id ASC LIMIT 10""".stripMargin,

    // minhash evaluation: estimate pipeline + exact truth + integer ratios
    "q175_minhash_eval" -> Dedup.minHashEvalOracleSql(threshold = 0.35),

    // shard assignment: splitmix replication + windowed sequence
    "q173_shard_assignment" -> Sampling.shardAssignmentOracleSql(nShards = 8),

    // calibration report: the classifier oracle joined back to metadata
    "q174_quality_calibration" -> {
      val scored = TextAnalysis.qualityClassifierOracleSql("lang = 'en'")
      s"""WITH scored AS ($scored)
         |SELECT d.lang, d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST((2 * SUM(CAST(round(s.quality_score * 1000000, 0) AS BIGINT))
         |        + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000 AS mean_score
         |FROM scored s JOIN documents d USING (doc_id)
         |GROUP BY d.lang, d.source""".stripMargin
    },

    // snapshot diff: identical md5 on both engines
    "q172_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(coalesce(text, '')) AS ha
        |  FROM documents WHERE doc_id < 400),
        |b AS (SELECT doc_id,
        |  md5(coalesce(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END, '')) AS hb
        |  FROM documents WHERE doc_id >= 100),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.ha IS NULL THEN 'added'
        |       WHEN b.hb IS NULL THEN 'removed'
        |       WHEN a.ha <> b.hb THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, status FROM j WHERE status <> 'unchanged'""".stripMargin,

    // frequent tokens: exact by the two-pass MG argument -> plain HAVING
    "q171_frequent_tokens" -> TextAnalysis.frequentTokensOracleSql(minCount = 200),
    "q178_frequent_trigrams" -> TextAnalysis.frequentTokensOracleSql(minCount = 5, gramN = 3),

    // perplexity buckets: q161's scorer + discrete-percentile cutpoints
    "q169_ppl_buckets" -> {
      val scored = TextAnalysis.ngramLogProbOracleSql(
        "doc_id % 2 = 0", "doc_id % 2 = 1")
      s"""WITH scored AS ($scored),
         |cuts AS (SELECT
         |  percentile_disc(0.3) WITHIN GROUP (ORDER BY avg_logprob) AS q1,
         |  percentile_disc(0.7) WITHIN GROUP (ORDER BY avg_logprob) AS q2
         |  FROM scored)
         |SELECT doc_id, avg_logprob,
         |  CASE WHEN avg_logprob <= q1 THEN 'tail'
         |       WHEN avg_logprob <= q2 THEN 'middle'
         |       ELSE 'head' END AS ppl_bucket
         |FROM scored, cuts""".stripMargin
    },

    // signature upkeep: both ingest rounds in one oracle — round 2's
    // base IS what appendSignatures must have produced
    "q162_signature_upkeep" -> Dedup.signatureUpkeepOracleSql(),

    // cluster best-rep: q80's recursive-CTE components + per-component
    // argmax by (token count DESC, id ASC)
    "q167_cluster_best_rep" ->
      """WITH RECURSIVE toks AS (
        |SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS t FROM documents
        |WHERE doc_id < 500 AND LEN(TRIM(text)) > 0),
        |sh AS (
        |SELECT doc_id, list_distinct(list_transform(generate_series(1, LEN(t)-1),
        |  i -> t[i] || ' ' || t[i+1])) AS s
        |FROM toks WHERE LEN(t) >= 2),
        |pairs AS (
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) >= 0.3),
        |und AS (SELECT id_a AS a, id_b AS b FROM pairs
        |UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |SELECT a, a FROM und
        |UNION
        |SELECT re.id, u.b FROM reach re JOIN und u ON re.r = u.a),
        |comp AS (SELECT id, MIN(r) AS c FROM reach GROUP BY id),
        |tokc AS (SELECT doc_id, CASE WHEN LEN(TRIM(text)) = 0 THEN 0
        |  ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS tok FROM documents),
        |m AS (SELECT cm.id, row_number() OVER (PARTITION BY cm.c
        |  ORDER BY tk.tok DESC, cm.id ASC) AS rn
        |  FROM comp cm JOIN tokc tk ON cm.id = tk.doc_id)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM m WHERE rn > 1)""".stripMargin,

    // composed curation #4: the extraction chain nests as the
    // classifier oracle's source subquery — one SQL statement replays
    // markup stripping, link-density drops, 8 GD steps, and the gate
    "q166_curation_html_quality" -> {
      val scored = TextAnalysis.qualityClassifierOracleSql(
        "doc_id % 2 = 0",
        docsSql = "SELECT doc_id, extracted_text AS text FROM (" +
          TextAnalysis.extractHtmlOracleSql(htmlWrapSql) + ")")
      s"SELECT * FROM ($scored) WHERE quality_score >= 0.5"
    },

    // PCA: the oracle retrains — decimal mean/cov, the same ordered
    // power-iteration folds per component, same deflation, 6-dp round
    // (bounded slice: decimal exactness costs ~13x on the d-squared
    // covariance aggregation, so the oracle pins 500 vectors; q165 runs
    // the production double mode over the full table, anchored here)
    "q164_pca_project" -> Similarity.pcaOracleSql(d = 64, nComp = 3,
      pred = "vec_id < 500"),

    // PCA whitening: identical trace + in-engine sqrt of identical λ
    "q168_pca_whiten" -> Similarity.pcaOracleSql(d = 64, nComp = 3,
      pred = "vec_id < 500", whiten = true),

    // hard negatives: same cosine ordering contract as q33
    "q170_hard_negatives" ->
      """SELECT q_id, neg_id, rnk FROM (
        |SELECT p.vec_id AS q_id, e.vec_id AS neg_id,
        |row_number() OVER (PARTITION BY p.vec_id
        |  ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(p.embedding AS DOUBLE[])) DESC, e.vec_id ASC) AS rnk
        |FROM embeddings p JOIN embeddings e ON e.label <> p.label
        |WHERE p.vec_id < 20)
        |WHERE rnk <= 3""".stripMargin,

    // IVF upkeep: all-cells probe of the appended layout == brute force
    // over every vector (assignment correctness is pinned by spec)
    "q163_ivf_upkeep" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |vec_id ASC LIMIT 10""".stripMargin,

    // quality classifier: the oracle RETRAINS from scratch — identical
    // hashing, decimal sums, algebraic sigmoid, weight updates — so the
    // whole gradient loop is checked, not just the scoring pass
    "q160_quality_classifier" -> TextAnalysis.qualityClassifierOracleSql("lang = 'en'"),

    // grouped correlation: identical decimal sums, identical double chain
    "q153_grouped_corr" -> graft.operators.Stats.groupedCorrOracleSql(
      "orders", "o_orderpriority", "o_totalprice", "o_custkey % 100"),

    // histogram: FLOOR is exact on doubles, counts are integers
    "q154_histogram" ->
      """SELECT event_type, CAST(FLOOR(value / 10) AS BIGINT) AS bucket,
        |COUNT(*) AS n FROM events GROUP BY 1, 2""".stripMargin,

    // sliding window: identical range frame over the shared ns epoch
    "q151_sliding_window" ->
      """SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
        |COUNT(*) OVER w AS events_1h,
        |CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS value_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // retention: integer week buckets from the ns epoch
    "q152_retention" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY user_id)
        |SELECT f.cohort, e.wk - f.cohort AS week_offset,
        |COUNT(DISTINCT e.user_id) AS n_active
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // funnel: DuckDB TIMESTAMP is µs so epoch_ns(ts) = stored µs·1000,
    // exactly the loader's ts_ns under micros storage
    "q149_funnel" ->
      """WITH v AS (SELECT user_id, MIN(epoch_ns(ts)) AS first_view
        |           FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(epoch_ns(e.ts) - v.first_view) AS delay
        |      FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= v.first_view
        |      GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view_users,
        |       (SELECT COUNT(*) FROM c) AS n_converted,
        |       (SELECT COUNT(*) FROM c WHERE delay <= 86400000000000) AS n_converted_24h""".stripMargin,

    "q21_transitive_closure" ->
      s"""WITH RECURSIVE e AS ($graphEdgesSql),
         |reach(src, dst) AS (
         |SELECT src, dst FROM e
         |UNION
         |SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
         |SELECT src, dst FROM reach""".stripMargin,

    "q22_bound_reach" ->
      s"""WITH RECURSIVE e AS ($graphEdgesSql),
         |reach(dst) AS (
         |SELECT dst FROM e WHERE src = 0
         |UNION
         |SELECT e.dst FROM reach r JOIN e ON r.dst = e.src)
         |SELECT dst FROM reach""".stripMargin,

    "q23_connected_components" ->
      """WITH RECURSIVE e AS (
        |SELECT n_nationkey AS a, n_nationkey + 1 AS b FROM nation
        |WHERE n_nationkey < 24 AND n_nationkey % 5 <> 4),
        |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach(id, r) AS (
        |SELECT a, a FROM und
        |UNION
        |SELECT re.id, u.b FROM reach re JOIN und u ON re.r = u.a)
        |SELECT id, MIN(r) AS comp FROM reach GROUP BY id""".stripMargin,

    "q24_global_agg" ->
      """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem""".stripMargin,

    "q25_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q26_token_stats" ->
      """SELECT doc_id,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0
        |ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_tokens,
        |LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_regex_tokens
        |FROM documents""".stripMargin,

    // packed examples: per-bin ordered concatenation + doc/token totals
    "q81_packed_examples" ->
      """WITH t AS (
        |SELECT doc_id, text, source AS shard, CASE WHEN LEN(TRIM(text)) = 0 THEN 0
        |ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS tok
        |FROM documents),
        |c AS (SELECT doc_id, text, shard, tok, SUM(tok) OVER (PARTITION BY shard
        |ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS s FROM t)
        |SELECT shard, CAST(FLOOR(s / 2048.0) AS BIGINT) AS bin,
        |string_agg(text, chr(10) ORDER BY doc_id) AS example_text,
        |COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1, 2""".stripMargin,

    // token-budget selection: q28's quality score ranks, prefix sum gates
    "q83_token_budget" ->
      """WITH f AS (
        |SELECT doc_id,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0
        |ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_tokens,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0.0 ELSE
        |CAST(list_sum(list_transform(regexp_split_to_array(TRIM(text), '\s+'), x -> LEN(x))) AS DOUBLE)
        |  / LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS mean_token_len,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0.0 ELSE
        |CAST(LEN(list_filter(regexp_split_to_array(TRIM(text), '\s+'),
        |  t -> list_contains(['the','a','an','and','or','but','of','to','in','on','at','for','with','is','are','was','were','be','it','this','that','as','by','from','not','no','he','she','they','we','you','i'], LOWER(t)))) AS DOUBLE)
        |  / LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS stopword_ratio,
        |CASE WHEN LEN(text) = 0 THEN 0.0 ELSE
        |CAST(LEN(text) - LEN(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / LEN(text) END AS punct_ratio
        |FROM documents),
        |q AS (SELECT doc_id, n_tokens, ROUND((LEAST(stopword_ratio / 0.2, 1.0) * 0.4 +
        |(1.0 - LEAST(ABS(mean_token_len - 5.0) / 5.0, 1.0)) * 0.3 +
        |(1.0 - LEAST(punct_ratio / 0.2, 1.0)) * 0.3) *
        |CASE WHEN n_tokens >= 5 THEN 1.0 ELSE 0.0 END, 6) AS score
        |FROM f),
        |r AS (SELECT doc_id, CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM q)
        |SELECT doc_id, cum_tokens FROM r WHERE cum_tokens <= 10000""".stripMargin,

    // top-k TF-IDF terms: tf * ln(N/df), 6-dp-rounded before ranking
    "q84_tfidf_terms" ->
      """WITH tok AS (
        |SELECT doc_id, unnest(regexp_split_to_array(TRIM(text), '\s+')) AS term
        |FROM documents WHERE LEN(TRIM(text)) > 0),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        |sc AS (SELECT t.doc_id, t.term, t.tf,
        |ROUND(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 6) AS tfidf
        |FROM tf t JOIN dfr d ON t.term = d.term CROSS JOIN n),
        |rk AS (SELECT doc_id, term, tf, tfidf,
        |ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank FROM sc)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 5""".stripMargin,

    // sequence packing: prefix-sum token offsets cut every 2048 tokens
    "q78_seq_packing" ->
      """WITH t AS (
        |SELECT doc_id, CASE WHEN LEN(TRIM(text)) = 0 THEN 0
        |ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS tok
        |FROM documents),
        |c AS (SELECT doc_id, SUM(tok) OVER (ORDER BY doc_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS s FROM t)
        |SELECT doc_id, CAST(FLOOR(s / 2048.0) AS BIGINT) AS bin,
        |CAST(s % 2048 AS BIGINT) AS bin_off FROM c""".stripMargin,

    "q27_quality_features" ->
      """SELECT doc_id, LEN(text) AS n_chars,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0
        |ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_tokens,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0.0 ELSE
        |CAST(list_sum(list_transform(regexp_split_to_array(TRIM(text), '\s+'), x -> LEN(x))) AS DOUBLE)
        |  / LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS mean_token_len,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0.0 ELSE
        |CAST(LEN(list_filter(regexp_split_to_array(TRIM(text), '\s+'),
        |  t -> list_contains(['the','a','an','and','or','but','of','to','in','on','at','for','with','is','are','was','were','be','it','this','that','as','by','from','not','no','he','she','they','we','you','i'], LOWER(t)))) AS DOUBLE)
        |  / LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS stopword_ratio,
        |CASE WHEN LEN(text) = 0 THEN 0.0 ELSE
        |CAST(LEN(text) - LEN(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / LEN(text) END AS punct_ratio,
        |CASE WHEN LEN(regexp_replace(text, '[^A-Za-z]', '', 'g')) = 0 THEN 0.0 ELSE
        |CAST(LEN(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
        |  / LEN(regexp_replace(text, '[^A-Za-z]', '', 'g')) END AS upper_ratio
        |FROM documents""".stripMargin,

    // Composite quality score from the SAME feature formulas oracled in
    // q27, combined with identical double expression trees on both sides.
    "q28_quality_score" ->
      """WITH f AS (
        |SELECT doc_id,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0
        |ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_tokens,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0.0 ELSE
        |CAST(list_sum(list_transform(regexp_split_to_array(TRIM(text), '\s+'), x -> LEN(x))) AS DOUBLE)
        |  / LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS mean_token_len,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0.0 ELSE
        |CAST(LEN(list_filter(regexp_split_to_array(TRIM(text), '\s+'),
        |  t -> list_contains(['the','a','an','and','or','but','of','to','in','on','at','for','with','is','are','was','were','be','it','this','that','as','by','from','not','no','he','she','they','we','you','i'], LOWER(t)))) AS DOUBLE)
        |  / LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS stopword_ratio,
        |CASE WHEN LEN(text) = 0 THEN 0.0 ELSE
        |CAST(LEN(text) - LEN(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / LEN(text) END AS punct_ratio
        |FROM documents)
        |SELECT doc_id, ROUND((LEAST(stopword_ratio / 0.2, 1.0) * 0.4 +
        |(1.0 - LEAST(ABS(mean_token_len - 5.0) / 5.0, 1.0)) * 0.3 +
        |(1.0 - LEAST(punct_ratio / 0.2, 1.0)) * 0.3) *
        |CASE WHEN n_tokens >= 5 THEN 1.0 ELSE 0.0 END, 6) AS quality_score
        |FROM f""".stripMargin,

    // Function-word voting: per-language hit counts, argmax with ties
    // broken by the LARGER language code (Spark's greatest(struct) order).
    "q29_lang_id" ->
      """WITH toks AS (SELECT doc_id,
        |list_transform(regexp_split_to_array(TRIM(text), '\s+'), t -> LOWER(t)) AS ts FROM documents),
        |hits AS (
        |SELECT doc_id, 'en' AS lang, LEN(list_filter(ts, t -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','are','this'], t))) AS h FROM toks
        |UNION ALL SELECT doc_id, 'de', LEN(list_filter(ts, t -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','für','auf','sich'], t))) FROM toks
        |UNION ALL SELECT doc_id, 'fr', LEN(list_filter(ts, t -> list_contains(['le','la','les','et','est','une','des','dans','pour','que','qui','pas'], t))) FROM toks
        |UNION ALL SELECT doc_id, 'es', LEN(list_filter(ts, t -> list_contains(['el','la','los','las','y','es','una','en','por','para','con','del'], t))) FROM toks
        |UNION ALL SELECT doc_id, 'it', LEN(list_filter(ts, t -> list_contains(['il','la','di','che','e','un','una','per','con','del','sono','non'], t))) FROM toks),
        |best AS (SELECT doc_id, lang, h,
        |ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn FROM hits)
        |SELECT doc_id, CASE WHEN h = 0 THEN 'und' ELSE lang END AS lang_pred
        |FROM best WHERE rn = 1""".stripMargin,

    // EXACT all-pairs word-2-gram Jaccard: valid as q32's oracle because
    // the MinHash candidate stage has 100% recall on this corpus (every
    // true pair has J ≥ 0.9 — asserted in DedupSpec vs q57's exact op).
    "q32_ngram_jaccard" ->
      """WITH toks AS (
        |SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS t FROM documents
        |WHERE LEN(TRIM(text)) > 0),
        |sh AS (
        |SELECT doc_id, list_distinct(list_transform(generate_series(1, LEN(t)-1),
        |  i -> t[i] || ' ' || t[i+1])) AS s
        |FROM toks WHERE LEN(t) >= 2)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE jaccard >= 0.3""".stripMargin,

    // Exact all-pairs cosine ≥ 0.8: proves q36's empty result is CORRECT
    // on this corpus (max pairwise cosine ≈ 0.51), not a recall miss.
    "q36_embedding_dedup" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, e, SQRT(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |u AS (SELECT vec_id, CASE WHEN nrm = 0 THEN e ELSE list_transform(e, x -> x / nrm) END AS u FROM n)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |list_sum(list_transform(generate_series(1, LEN(a.u)), i -> a.u[i] * b.u[i])) AS cosine
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE cosine >= 0.8""".stripMargin,

    // cluster dedup: exact pairs → undirected reachability → min-label
    // component → drop non-representatives
    "q80_cluster_dedup" ->
      """WITH RECURSIVE toks AS (
        |SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS t FROM documents
        |WHERE doc_id < 500 AND LEN(TRIM(text)) > 0),
        |sh AS (
        |SELECT doc_id, list_distinct(list_transform(generate_series(1, LEN(t)-1),
        |  i -> t[i] || ' ' || t[i+1])) AS s
        |FROM toks WHERE LEN(t) >= 2),
        |pairs AS (
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) >= 0.3),
        |und AS (SELECT id_a AS a, id_b AS b FROM pairs
        |UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |SELECT a, a FROM und
        |UNION
        |SELECT re.id, u.b FROM reach re JOIN und u ON re.r = u.a),
        |comp AS (SELECT id, MIN(r) AS c FROM reach GROUP BY id)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> c)""".stripMargin,

    // minhash near-dup pairs: the full signature pipeline replicated in
    // HUGEINT arithmetic (previously rows-only; see minHashOracleSql)
    "q30_minhash_pairs" -> Dedup.minHashOracleSql(threshold = 0.35),

    // SimHash + rolling fingerprints: FNV+splitmix string hash replicated
    // in HUGEINT arithmetic (previously rows-only)
    "q31_fingerprints" -> TextAnalysis.fingerprintOracleSql(),

    "q57_ngram_exact" ->
      """WITH toks AS (
        |SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS t FROM documents
        |WHERE doc_id < 500 AND LEN(TRIM(text)) > 0),
        |sh AS (
        |SELECT doc_id, list_distinct(list_transform(generate_series(1, LEN(t)-1),
        |  i -> t[i] || ' ' || t[i+1])) AS s
        |FROM toks WHERE LEN(t) >= 2)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE jaccard >= 0.3""".stripMargin,

    "q58_cosine_exact" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 500),
        |n AS (SELECT vec_id, e, SQRT(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |u AS (SELECT vec_id, CASE WHEN nrm = 0 THEN e ELSE list_transform(e, x -> x / nrm) END AS u FROM n)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |list_sum(list_transform(generate_series(1, LEN(a.u)), i -> a.u[i] * b.u[i])) AS cosine
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE cosine >= 0.3""".stripMargin,

    "q43_multimodal_features" ->
      """SELECT doc_id AS asset_id,
        |CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |strlen(text) AS n_bytes
        |FROM documents""".stripMargin,

    "q44_multimodal_resize" ->
      """SELECT doc_id AS asset_id,
        |CAST((doc_id % 64) * 16 + 64 AS INT) AS width,
        |CAST((doc_id % 48) * 16 + 64 AS INT) AS height,
        |ROUND(LEAST(CAST(224 AS DOUBLE) / ((doc_id % 64) * 16 + 64),
        |  CAST(224 AS DOUBLE) / ((doc_id % 48) * 16 + 64)), 6) AS scale
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,

    "q65_iql_quality" ->
      """WITH f AS (
        |SELECT doc_id,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0
        |ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_tokens,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0.0 ELSE
        |CAST(list_sum(list_transform(regexp_split_to_array(TRIM(text), '\s+'), x -> LEN(x))) AS DOUBLE)
        |  / LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS mean_token_len,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0.0 ELSE
        |CAST(LEN(list_filter(regexp_split_to_array(TRIM(text), '\s+'),
        |  t -> list_contains(['the','a','an','and','or','but','of','to','in','on','at','for','with','is','are','was','were','be','it','this','that','as','by','from','not','no','he','she','they','we','you','i'], LOWER(t)))) AS DOUBLE)
        |  / LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS stopword_ratio,
        |CASE WHEN LEN(text) = 0 THEN 0.0 ELSE
        |CAST(LEN(text) - LEN(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / LEN(text) END AS punct_ratio
        |FROM documents)
        |SELECT doc_id AS D, ROUND((LEAST(stopword_ratio / 0.2, 1.0) * 0.4 +
        |(1.0 - LEAST(ABS(mean_token_len - 5.0) / 5.0, 1.0)) * 0.3 +
        |(1.0 - LEAST(punct_ratio / 0.2, 1.0)) * 0.3) *
        |CASE WHEN n_tokens >= 5 THEN 1.0 ELSE 0.0 END, 6) AS S
        |FROM f""".stripMargin,

    "q184_curation_crosslingual" ->
      """WITH bench AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 25),
        |corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 25),
        |mx AS (SELECT c.vec_id, MAX(list_cosine_similarity(c.v, b.v)) AS m
        |  FROM corpus c CROSS JOIN bench b GROUP BY c.vec_id),
        |clean AS (SELECT c.* FROM corpus c JOIN mx USING (vec_id) WHERE mx.m < 0.3),
        |a AS (SELECT vec_id AS a_id, v FROM clean WHERE vec_id % 2 = 0),
        |b2 AS (SELECT vec_id AS b_id, v FROM clean WHERE vec_id % 2 = 1),
        |pairs AS (SELECT a_id, b_id, list_cosine_similarity(a.v, b2.v) AS cos
        |  FROM a CROSS JOIN b2),
        |ranked AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS ra,
        |  ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id ASC) AS rb
        |  FROM pairs),
        |da AS (SELECT a_id, AVG(cos) AS da FROM ranked WHERE ra <= 4 GROUP BY a_id),
        |db AS (SELECT b_id, AVG(cos) AS db FROM ranked WHERE rb <= 4 GROUP BY b_id),
        |cand AS (SELECT r.a_id, r.b_id, r.cos,
        |  r.cos / ((da.da + db.db) / 2) AS margin
        |  FROM ranked r JOIN da USING (a_id) JOIN db USING (b_id) WHERE r.ra <= 4),
        |best AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id ASC) AS rk
        |  FROM cand)
        |SELECT a_id, b_id, ROUND(cos, 6) AS cos6, ROUND(margin, 6) AS margin6
        |FROM best WHERE rk = 1 AND margin >= 1.0""".stripMargin,

    "q182_semantic_decontam" ->
      """WITH b AS (SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 25),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 25),
        |s AS (SELECT c.vec_id, b.bench_id,
        |  list_cosine_similarity(c.v, b.v) AS cos FROM c CROSS JOIN b),
        |r AS (SELECT vec_id, bench_id, cos,
        |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, bench_id ASC) AS rn
        |  FROM s)
        |SELECT vec_id, bench_id, ROUND(cos, 6) AS cos6
        |FROM r WHERE rn = 1 AND cos >= 0.3""".stripMargin,

    "q181_bitext_margin" ->
      """WITH a AS (SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |b AS (SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |pairs AS (SELECT a_id, b_id, list_cosine_similarity(a.v, b.v) AS cos
        |  FROM a CROSS JOIN b),
        |ranked AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS ra,
        |  ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id ASC) AS rb
        |  FROM pairs),
        |da AS (SELECT a_id, AVG(cos) AS da FROM ranked WHERE ra <= 4 GROUP BY a_id),
        |db AS (SELECT b_id, AVG(cos) AS db FROM ranked WHERE rb <= 4 GROUP BY b_id),
        |cand AS (SELECT r.a_id, r.b_id, r.cos,
        |  r.cos / ((da.da + db.db) / 2) AS margin
        |  FROM ranked r JOIN da USING (a_id) JOIN db USING (b_id) WHERE r.ra <= 4),
        |best AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id ASC) AS rk
        |  FROM cand)
        |SELECT a_id, b_id, ROUND(cos, 6) AS cos6, ROUND(margin, 6) AS margin6
        |FROM best WHERE rk = 1 AND margin >= 1.0""".stripMargin,

    // blocked generator probed at nprobe = nCells generates every pair
    // exactly once == the broadcast form — same oracle as q181
    "q185_bitext_blocked" ->
      """WITH a AS (SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |b AS (SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |pairs AS (SELECT a_id, b_id, list_cosine_similarity(a.v, b.v) AS cos
        |  FROM a CROSS JOIN b),
        |ranked AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS ra,
        |  ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id ASC) AS rb
        |  FROM pairs),
        |da AS (SELECT a_id, AVG(cos) AS da FROM ranked WHERE ra <= 4 GROUP BY a_id),
        |db AS (SELECT b_id, AVG(cos) AS db FROM ranked WHERE rb <= 4 GROUP BY b_id),
        |cand AS (SELECT r.a_id, r.b_id, r.cos,
        |  r.cos / ((da.da + db.db) / 2) AS margin
        |  FROM ranked r JOIN da USING (a_id) JOIN db USING (b_id) WHERE r.ra <= 4),
        |best AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id ASC) AS rk
        |  FROM cand)
        |SELECT a_id, b_id, ROUND(cos, 6) AS cos6, ROUND(margin, 6) AS margin6
        |FROM best WHERE rk = 1 AND margin >= 1.0""".stripMargin,

    "q64_knn_join" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.q_id, e.vec_id,
        |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cos
        |  FROM embeddings e CROSS JOIN q),
        |r AS (SELECT q_id, vec_id,
        |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
        |  FROM s)
        |SELECT q_id, vec_id FROM r WHERE rn <= 3""".stripMargin,

    "q62_pii_scrub" ->
      """SELECT doc_id,
        |regexp_replace(regexp_replace(regexp_replace(text,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |  '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
        |  '\b\d{7,15}\b', '[PHONE]', 'g') AS scrubbed,
        |LEN(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |LEN(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ips
        |FROM documents""".stripMargin,

    "q63_chunking" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE LEN(text) > 0),
        |c AS (SELECT doc_id, text,
        |  UNNEST(generate_series(0,
        |    GREATEST(CAST(CEIL((LEN(text) - 50) / 150.0) AS INT) - 1, 0))) AS chunk_id
        |  FROM d)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |SUBSTR(text, chunk_id * 150 + 1, 200) AS chunk FROM c""".stripMargin,

    "q33_ann_bruteforce" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |vec_id ASC LIMIT 10""".stripMargin,

    "q34_ann_lsh" -> q34OracleSql,
    "q35_ann_ivf" -> q35OracleSql,

    // all-cells trained-IVF probe == brute force, same oracle
    "q61_ann_ivf_trained" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |vec_id ASC LIMIT 10""".stripMargin,

    // all-buckets LSH probe of the partitioned layout == brute force
    "q66_ann_lsh_allprobes" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |vec_id ASC LIMIT 10""".stripMargin,

    // HNSW probed at efSearch = index size == brute force (q51's twin)
    "q91_hnsw_allprobes" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |vec_id ASC LIMIT 10""".stripMargin,

    // sharded HNSW, every shard searched exhaustively == brute force
    "q92_hnsw_sharded_allprobes" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |vec_id ASC LIMIT 10""".stripMargin,

    // maintained HNSW == brute force over the POST-mutation relation:
    // +999998,+999999 (copies of the query vector), then -999998 —
    // 999999 must rank with vec_id 0, tombstoned 999998 must be absent
    "q118_hnsw_maintained" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 0),
        |base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  UNION ALL
        |  SELECT 999999 AS vec_id, e FROM q)
        |SELECT vec_id FROM base
        |ORDER BY list_cosine_similarity(e, (SELECT e FROM q)) DESC,
        |vec_id ASC LIMIT 10""".stripMargin,

    // post-delete state of the multi-rule view (the DRed-maintained result)
    "q68_iql_dred_delete" ->
      """SELECT n_name AS N, r_name AS R FROM nation
        |JOIN region ON n_regionkey = r_regionkey WHERE n_regionkey <> 2
        |UNION
        |SELECT n_name AS N, 'extra' AS R FROM nation
        |WHERE n_nationkey > 20 AND n_regionkey <> 2""".stripMargin,

    // mutual recursion: odd-length reachability after deletes; SQL has no
    // mutual recursive CTEs, so the odd/even pair is encoded as ONE
    // walk CTE carrying path parity
    "q77_iql_mutual_dred" ->
      s"""WITH RECURSIVE base AS (
         |SELECT src, dst FROM ($graphEdgesSql) t
         |WHERE NOT (src = 0 AND dst = 1) AND NOT (src = 10 AND dst = 15)),
         |walk(src, dst, odd) AS (
         |SELECT src, dst, TRUE FROM base
         |UNION
         |SELECT w.src, b.dst, NOT w.odd FROM walk w JOIN base b ON w.dst = b.src)
         |SELECT DISTINCT src AS X, dst AS Y FROM walk WHERE odd""".stripMargin,

    // recursive DRed: closure of (e1 \ deleted) ∪ e2 — SQL recursive CTEs
    // are linear-only, so the oracle uses the equivalent linear step
    // the closure at the FINAL blocked set {17, 5} (3 was revived): the
    // maintained result must equal evaluating the stratified program
    // fresh at that state
    "q180_iql_negation_ivm" ->
      s"""WITH RECURSIVE nreach(src, dst) AS (
         |SELECT src, dst FROM ($graphEdgesSql) t WHERE dst NOT IN (17, 5)
         |UNION
         |SELECT r.src, e.dst FROM nreach r JOIN ($graphEdgesSql) e
         |  ON r.dst = e.src WHERE e.dst NOT IN (17, 5))
         |SELECT src AS X, dst AS Y FROM nreach""".stripMargin,

    "q76_iql_dred_recursive" ->
      s"""WITH RECURSIVE base AS (
         |SELECT src, dst FROM ($graphEdgesSql) t
         |WHERE NOT (src = 0 AND dst = 1) AND NOT (src = 5 AND dst = 10)
         |UNION
         |SELECT n_nationkey AS src, n_nationkey + 5 AS dst FROM nation
         |WHERE n_nationkey + 5 <= 24),
         |r(src, dst) AS (
         |SELECT src, dst FROM base
         |UNION
         |SELECT a.src, b.dst FROM r a JOIN base b ON a.dst = b.src)
         |SELECT src AS X, dst AS Y FROM r""".stripMargin,

    // mixed-batch atomic update: closure of the retargeted edge set
    "q82_iql_mixed_update" ->
      s"""WITH RECURSIVE base AS (
         |SELECT src, dst FROM ($graphEdgesSql) t WHERE src <> 0
         |UNION
         |SELECT 0 AS src, 24 AS dst),
         |r(src, dst) AS (
         |SELECT src, dst FROM base
         |UNION
         |SELECT a.src, b.dst FROM r a JOIN base b ON a.dst = b.src)
         |SELECT src AS X, dst AS Y FROM r""".stripMargin,

    // decontamination: word 3-gram overlap with the doc_id%20 benchmark set
    "q72_decontaminate" ->
      """WITH toks AS (
        |SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS t FROM documents
        |WHERE LEN(TRIM(text)) > 0),
        |sh AS (
        |SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, LEN(t)-2),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |FROM toks WHERE LEN(t) >= 3),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
        |bad AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON s.g = b.g)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    // Bloom decontamination: deterministic filter with no false
    // negatives and ~1e-12 over-removal odds per shingle — the exact
    // q72 SQL is the oracle (see q136's query comment)
    "q136_decontaminate_bloom" ->
      """WITH toks AS (
        |SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS t FROM documents
        |WHERE LEN(TRIM(text)) > 0),
        |sh AS (
        |SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, LEN(t)-2),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |FROM toks WHERE LEN(t) >= 3),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
        |bad AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON s.g = b.g)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    // contamination report: string shingles stand in for the xxhash64
    // longs (membership/count-identical modulo ~2⁻⁶⁴ collisions, the
    // q72 stance); counts integer-exact, fraction one double division
    "q120_contamination_score" ->
      """WITH toks AS (
        |SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS t FROM documents
        |WHERE LEN(TRIM(text)) > 0),
        |sh AS (
        |SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, LEN(t)-2),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |FROM toks WHERE LEN(t) >= 3),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
        |agg AS (SELECT s.doc_id, COUNT(*) AS n_shingles, COUNT(b.g) AS n_contaminated
        |        FROM sh s LEFT JOIN bench b ON s.g = b.g GROUP BY s.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(a.n_shingles, 0) AS n_shingles,
        |  COALESCE(a.n_contaminated, 0) AS n_contaminated,
        |  CASE WHEN a.n_shingles IS NULL THEN 0.0
        |       ELSE CAST(a.n_contaminated AS DOUBLE) / a.n_shingles END AS contamination
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    // per-source cap: smallest splitmix positions win, ties by id
    "q121_source_cap" ->
      s"""SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (
        |    PARTITION BY source
        |    ORDER BY ${Sampling.posOracleSql("doc_id", 7L)}, doc_id) AS rn
        |  FROM documents) WHERE rn <= 15""".stripMargin,

    // prototypicality: centroid = q108's decimal-summed 6-dp means
    // (bit-equal doubles cross-engine), then sequential-fold cosine
    "q122_prototypicality" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |t AS (SELECT label, i - 1 AS pos, v[i] AS x
        |      FROM e, unnest(generate_series(1, len(v))) u(i)),
        |m AS (SELECT label, pos,
        |      ROUND(CAST(SUM(CAST(x AS DECIMAL(38,30))) AS DOUBLE) / COUNT(*), 6) AS mean
        |      FROM t GROUP BY label, pos),
        |c AS (SELECT label, list(mean ORDER BY pos) AS cent FROM m GROUP BY label)
        |SELECT e.vec_id, e.label,
        |  CASE WHEN sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(c.cent, c.cent)) = 0
        |       THEN 0.0
        |       ELSE list_inner_product(e.v, c.cent) /
        |            (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(c.cent, c.cent)))
        |  END AS proto_score
        |FROM e JOIN c ON e.label = c.label""".stripMargin,

    // composed curation #2: q120's contamination agg → keep score ≤ 0.2
    // → q121's per-source cap ranked WITHIN the filtered set
    "q123_curation_contamination_cap" ->
      s"""WITH toks AS (
        |SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS t FROM documents
        |WHERE LEN(TRIM(text)) > 0),
        |sh AS (
        |SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, LEN(t)-2),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |FROM toks WHERE LEN(t) >= 3),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
        |agg AS (SELECT s.doc_id, COUNT(*) AS n, COUNT(b.g) AS nc
        |        FROM sh s LEFT JOIN bench b ON s.g = b.g GROUP BY s.doc_id),
        |clean AS (SELECT d.doc_id, d.source FROM documents d LEFT JOIN agg a
        |          ON d.doc_id = a.doc_id
        |          WHERE (CASE WHEN a.n IS NULL THEN 0.0
        |                 ELSE CAST(a.nc AS DOUBLE) / a.n END) <= 0.2)
        |SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (
        |    PARTITION BY source
        |    ORDER BY ${Sampling.posOracleSql("doc_id", 7L)}, doc_id) AS rn
        |  FROM clean) WHERE rn <= 10""".stripMargin,

    // stratified sample: splitmix64 keep-decision (Sampling.posOracleSql
    // emits the HUGEINT-mod-2^64 replication), rates per token-count band
    "q73_stratified_sample" ->
      s"""WITH tc AS (
        |SELECT doc_id,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN 0
        |ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END AS n,
        |${Sampling.posOracleSql("doc_id", 7L)} AS h
        |FROM documents)
        |SELECT doc_id FROM tc WHERE
        |(n < 25 AND h % 2 < 1) OR
        |(n >= 25 AND n < 35 AND h % 10 < 3) OR
        |(n >= 35 AND h % 10 < 1)""".stripMargin,

    // deterministic epoch shuffle: permutation position by splitmix64 hash
    "q74_epoch_shuffle" ->
      s"""SELECT doc_id,
        |CAST(ROW_NUMBER() OVER (ORDER BY ${Sampling.posOracleSql("doc_id", 3L)}, doc_id) AS BIGINT) AS pos
        |FROM documents""".stripMargin,

    // intra-doc repetition stats
    "q75_repetition" ->
      """WITH toks AS (
        |SELECT doc_id,
        |CASE WHEN LEN(TRIM(text)) = 0 THEN CAST([] AS VARCHAR[])
        |ELSE regexp_split_to_array(TRIM(text), '\s+') END AS t
        |FROM documents),
        |f AS (
        |SELECT doc_id, MAX(c) AS mf FROM (
        |  SELECT doc_id, w, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY doc_id, w)
        |GROUP BY doc_id)
        |SELECT t.doc_id, LEN(t.t) AS n_tokens,
        |LEN(list_distinct(t.t)) AS n_distinct,
        |COALESCE(f.mf, 0) AS max_tok_freq,
        |CASE WHEN LEN(t.t) = 0 THEN 0.0
        |ELSE 1.0 - CAST(LEN(list_distinct(t.t)) AS DOUBLE) / LEN(t.t) END AS rep_ratio
        |FROM toks t LEFT JOIN f ON t.doc_id = f.doc_id""".stripMargin,

    // decoded BMP stats predicted in closed form from the generation params
    "q70_multimodal_bmp" ->
      """SELECT doc_id AS asset_id,
        |CAST((doc_id % 16) + 1 AS INT) AS width,
        |CAST((doc_id % 8) + 1 AS INT) AS height,
        |CAST(doc_id % 256 AS DOUBLE) / 255.0 AS mean_r,
        |CAST((doc_id * 7) % 256 AS DOUBLE) / 255.0 AS mean_g,
        |CAST((doc_id * 13) % 256 AS DOUBLE) / 255.0 AS mean_b
        |FROM documents""".stripMargin,

    // decoded WAV stats predicted in closed form
    "q71_multimodal_wav" ->
      """SELECT doc_id AS asset_id, CAST(16000 AS INT) AS sample_rate,
        |CAST(((doc_id % 50) + 1) * 100 AS INT) AS n_samples,
        |CAST((doc_id % 30000) - 15000 AS DOUBLE) / 32768.0 AS mean_amp
        |FROM documents""".stripMargin,

    // int8 ANN: DuckDB replicates the symmetric quantization, then ranks
    // by cosine over the SAME integer vectors — bit-identical arithmetic
    "q69_ann_int8" ->
      """WITH s AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)), 'max') AS m
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id,
        |    list_transform(e, x -> round(x / (CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END))) AS qv
        |  FROM s
        |)
        |SELECT a.vec_id FROM q a
        |ORDER BY list_cosine_similarity(a.qv, (SELECT qv FROM q WHERE vec_id = 0)) DESC,
        |a.vec_id ASC LIMIT 10""".stripMargin,

    // all-cells seeded-IVF probe == brute force
    "q67_ann_ivf_allprobes" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |vec_id ASC LIMIT 10""".stripMargin,

    "q37_vector_norms" ->
      """SELECT vec_id, LEN(embedding) AS dim,
        |SQRT(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS l2_norm
        |FROM embeddings""".stripMargin,

    "q38_within_radius" ->
      """SELECT vec_id FROM embeddings
        |WHERE 1 - list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) <= 0.35""".stripMargin,

    "q39_time_decay" ->
      """SELECT event_id, 1706659200000 - epoch_ms(ts) AS age_ms,
        |GREATEST(0.0, 1.0 - CAST(GREATEST(0, 1706659200000 - epoch_ms(ts)) AS DOUBLE) / 2592000000) AS decay,
        |epoch_ms(ts) >= 1706659200000 - 604800000 AND epoch_ms(ts) <= 1706659200000 AS recent
        |FROM events""".stripMargin,

    "q40_multimodal_frames" ->
      """SELECT doc_id AS asset_id,
        |UNNEST(generate_series(0, (doc_id % 300) * 1000 + 999, 10000)) AS frame_ts_ms
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,

    "q45_iql_join" ->
      """SELECT n_nationkey AS NK, n_name AS NN, r_name AS RN
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "q46_iql_agg" ->
      """SELECT l_returnflag AS RF, COUNT(*) AS N, SUM(l_quantity) AS S
        |FROM lineitem WHERE l_quantity > 10 GROUP BY 1""".stripMargin,

    "q47_iql_negation" ->
      """SELECT c_custkey AS CK, c_name AS NM FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q48_iql_tc" ->
      s"""WITH RECURSIVE e AS ($graphEdgesSql),
         |reach(src, dst) AS (
         |SELECT src, dst FROM e
         |UNION
         |SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
         |SELECT src AS X, dst AS Y FROM reach""".stripMargin,

    "q49_iql_bound_reach" ->
      s"""WITH RECURSIVE e AS ($graphEdgesSql),
         |reach(dst) AS (
         |SELECT dst FROM e WHERE src = 0
         |UNION
         |SELECT e.dst FROM reach r JOIN e ON r.dst = e.src)
         |SELECT dst AS Y FROM reach""".stripMargin,

    "q50_iql_compute" ->
      """SELECT p_partkey AS PK, UPPER(p_name) AS UN, LEN(p_name) AS L,
        |p_retailprice * 2 + 1 AS PR2 FROM part""".stripMargin,

    "q52_iql_shortest_path" ->
      s"""WITH RECURSIVE e AS (SELECT src, dst, (src * 7) % 5 + 1 AS w FROM ($graphEdgesSql)),
         |paths(n, d) AS (
         |SELECT 0, 0
         |UNION
         |SELECT e.dst, p.d + e.w FROM paths p JOIN e ON p.n = e.src)
         |SELECT n AS X, MIN(d) AS D FROM paths GROUP BY n""".stripMargin,

    // decremental shortest path: labels over the graph minus two edges
    "q85_iql_decremental_sp" ->
      s"""WITH RECURSIVE e AS (SELECT src, dst, (src * 7) % 5 + 1 AS w FROM ($graphEdgesSql) t
         |WHERE NOT (src = 0 AND dst = 1) AND NOT (src = 5 AND dst = 10)),
         |paths(n, d) AS (
         |SELECT 0, 0
         |UNION
         |SELECT e.dst, p.d + e.w FROM paths p JOIN e ON p.n = e.src)
         |SELECT n AS X, MIN(d) AS D FROM paths GROUP BY n""".stripMargin,

    // boilerplate coverage: df counts over STRING shingles — identical
    // to the Spark side's hash-shingle counts (collision-free at scale)
    "q86_boilerplate" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
        |            FROM documents WHERE length(trim(text)) > 0),
        |sh AS (SELECT doc_id,
        |       unnest(list_transform(generate_series(1, len(ts) - 4),
        |              p -> list_aggr(ts[p:p+4], 'string_agg', ' '))) AS s
        |       FROM tok),
        |df AS (SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s),
        |per AS (SELECT sh.doc_id, count(*) AS n_sh,
        |        sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS n_b
        |        FROM sh JOIN df USING (s) GROUP BY sh.doc_id)
        |SELECT d.doc_id, COALESCE(per.n_sh, 0)::BIGINT AS n_shingles,
        |       COALESCE(per.n_b, 0)::BIGINT AS n_boiler,
        |       CASE WHEN COALESCE(per.n_sh, 0) = 0 THEN 0.0
        |            ELSE round(per.n_b / per.n_sh::DOUBLE, 6) END AS boiler_ratio
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin,

    "q87_unigram_lm" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |             FROM documents WHERE length(trim(text)) > 0),
        |cnt AS (SELECT t, count(*)::DOUBLE AS c FROM tok GROUP BY t),
        |tot AS (SELECT sum(c) AS tt FROM cnt)
        |SELECT tok.doc_id, count(*) AS n_tokens, round(avg(ln(cnt.c / tot.tt)), 6) AS logprob
        |FROM tok JOIN cnt ON tok.t = cnt.t CROSS JOIN tot
        |GROUP BY tok.doc_id""".stripMargin,

    // bigram LM: add-one smoothing over raw unigram context counts,
    // same ln + coarse-final-round stance as q87
    "q124_bigram_lm" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents WHERE length(trim(text)) > 0),
        |pr AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |       FROM toks, unnest(generate_series(1, len(t)-1)) u(i)),
        |uni AS (SELECT w1, count(*) AS c1
        |        FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY w1),
        |v AS (SELECT count(*) AS vv FROM uni),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY w1, w2)
        |SELECT pr.doc_id, count(*) AS n_bigrams,
        |  round(avg(ln((big.c12 + 1)::DOUBLE / (uni.c1 + v.vv)::DOUBLE)), 6) AS avg_logprob
        |FROM pr JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
        |GROUP BY pr.doc_id""".stripMargin,

    // distribution drift: smoothed distributions over the union vocab,
    // per-row arithmetic identical, unordered sums under the 6-dp round
    "q125_distribution_drift" ->
      """WITH ta AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |            FROM documents WHERE lang = 'en' AND length(trim(text)) > 0),
        |tb AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |       FROM documents WHERE lang <> 'en' AND length(trim(text)) > 0),
        |ca AS (SELECT t, count(*) AS ca FROM ta GROUP BY t),
        |cb AS (SELECT t, count(*) AS cb FROM tb GROUP BY t),
        |j AS (SELECT COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
        |      FROM ca FULL OUTER JOIN cb ON ca.t = cb.t),
        |tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM j),
        |p AS (SELECT (ca + 1)::DOUBLE / (tot.na + tot.v)::DOUBLE AS pa,
        |             (cb + 1)::DOUBLE / (tot.nb + tot.v)::DOUBLE AS pb,
        |             tot.v AS v
        |      FROM j CROSS JOIN tot)
        |SELECT MAX(v) AS n_vocab,
        |  round(sum(pa * ln(pa / pb)), 6) AS kl_ab,
        |  round(sum(pb * ln(pb / pa)), 6) AS kl_ba,
        |  round(sum(pa * ln(pa / ((pa + pb) / 2)) / 2 +
        |            pb * ln(pb / ((pa + pb) / 2)) / 2), 6) AS js
        |FROM p""".stripMargin,

    // winnowing: k-gram FNV+splitmix hashes (HUGEINT replication),
    // sliding-window signed MIN, distinct per doc
    "q126_winnow" -> TextAnalysis.winnowOracleSql(),
    "q127_winnow_pairs" -> TextAnalysis.winnowPairsOracleSql(),

    // image dHash + near-dup pairs: closed-form gradient pixels
    "q129_image_dhash" -> Multimodal.dHashOracleSql(),
    "q130_image_neardup" -> Multimodal.dHashPairsOracleSql(),

    // incremental near-dup: same signature arithmetic as q30, candidates
    // restricted to (new, base) cross pairs
    "q133_incremental_neardup" -> Dedup.minHashAgainstOracleSql(
      "a.doc_id % 5 = 0", "b.doc_id % 5 <> 0", threshold = 0.35),

    // temperature mix: same counts → same exactly-rounded sqrt factors
    // → same integer copy decisions
    "q145_temperature_mix" -> Sampling.temperatureMixOracleSql(),

    // composed curation #3: span-coverage gate (exact spans CTE) into
    // temperature mixing (factors recomputed over the SURVIVORS) — the
    // whole chained job as one oracle
    "q150_curation_span_mix" ->
      s"""WITH spans AS (${Dedup.duplicateSpansOracleSql()}),
         |cover AS (SELECT doc_id, SUM(span_end - span_start + 1) AS dup_chars
         |          FROM spans GROUP BY doc_id),
         |keep AS (SELECT d.doc_id, d.lang
         |         FROM documents d LEFT JOIN cover c USING (doc_id)
         |         WHERE COALESCE(c.dup_chars, 0) * 10 <=
         |               length(lower(regexp_replace(trim(d.text), '\\s+', ' ', 'g'))) * 3),
         |nn AS (SELECT lang, COUNT(*) AS n FROM keep GROUP BY lang),
         |mx AS (SELECT MAX(n) AS m FROM nn),
         |w AS (SELECT lang, CAST(round(sqrt(CAST(m AS DOUBLE) / n) * 1000) AS BIGINT) AS num
         |      FROM nn, mx),
         |d2 AS (SELECT k.doc_id, k.lang, ${Sampling.posOracleSql("k.doc_id", 7L)} AS pos
         |       FROM keep k),
         |c2 AS (SELECT d2.doc_id, d2.lang,
         |       (w.num // 1000) + (CASE WHEN d2.pos % 1000 < (w.num % 1000) THEN 1 ELSE 0 END) AS copies
         |       FROM d2 JOIN w USING (lang))
         |SELECT doc_id, lang, unnest(generate_series(0, CAST(copies AS BIGINT) - 1)) AS rep
         |FROM c2 WHERE copies > 0""".stripMargin,

    // DSIR selection: identical FNV+splitmix bucket hashing, smoothed
    // count ratios from identical integer inputs, decimal sums, 6 dp
    "q139_dsir_select" -> Sampling.dsirOracleSql(
      "lang <> 'en'", "lang = 'en'", n = 50),

    // duplicate-substring spans: gram doc-frequency over raw substrings
    // (the Spark-side hash only relabels equal grams), islands merge
    "q134_duplicate_spans" -> Dedup.duplicateSpansOracleSql(),

    // segment (windowed-line) dedup: same windows, doc-frequency over
    // segment strings, same reassembly
    "q135_segment_dedup" -> Dedup.windowDedupOracleSql(),

    // audio envelope hash + near-dup pairs: closed-form window energies
    "q131_audio_envhash" -> Multimodal.audioEnvOracleSql(),
    "q132_audio_neardup" ->
      s"""SELECT a.asset_id AS id_a, b.asset_id AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
        |FROM (${Multimodal.audioEnvOracleSql()}) a
        |JOIN (${Multimodal.audioEnvOracleSql()}) b ON a.asset_id < b.asset_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 2""".stripMargin,

    // blocklist screen: distinct blocked tokens per doc, zero = kept
    "q128_blocklist" ->
      """SELECT doc_id,
        |  CAST(COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\s+')),
        |            ['slow', 'dup', 'noise'])) END, 0) AS BIGINT) AS n_blocked,
        |  COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\s+')),
        |            ['slow', 'dup', 'noise'])) END, 0) = 0 AS kept
        |FROM documents""".stripMargin,

    // as-of join replicated as join + row_number (no ASOF JOIN syntax —
    // the windowed spelling is unambiguous under equal-time ties, of
    // which this data has none per (user_id, ts))
    "q88_asof_join" ->
      """WITH v AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |             event_id AS purchase_id, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT event_id, user_id, ts_us, asof_purchase_id, asof_value
        |FROM (SELECT v.event_id, v.user_id, v.ts_us,
        |             p.purchase_id AS asof_purchase_id,
        |             p.value AS asof_value,
        |             row_number() OVER (PARTITION BY v.event_id
        |                                ORDER BY p.ts_us DESC) AS rn
        |      FROM v JOIN p ON p.user_id = v.user_id
        |                   AND p.ts_us <= v.ts_us)
        |WHERE rn = 1""".stripMargin,

    "q89_range_join" ->
      """WITH v AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT v.event_id, count(p.ts_us) AS n_in_window
        |FROM v LEFT JOIN p ON p.user_id = v.user_id
        |   AND p.ts_us > v.ts_us AND p.ts_us <= v.ts_us + 86400000000
        |GROUP BY v.event_id""".stripMargin,

    "q90_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |g AS (SELECT user_id, event_id, t,
        |      CASE WHEN lag(t) OVER w IS NULL
        |             OR t - lag(t) OVER w > 1800000000
        |           THEN 1 ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (SELECT user_id, t,
        |      sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |      FROM g)
        |SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
        |       count(*) AS n_events, min(t) AS start_t, max(t) AS end_t
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q53_iql_incremental" ->
      s"""WITH RECURSIVE e AS ($graphEdgesSql
         |UNION ALL SELECT 0 AS src, 10 AS dst UNION ALL SELECT 5, 20),
         |reach(src, dst) AS (
         |SELECT src, dst FROM e
         |UNION
         |SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
         |SELECT src AS X, dst AS Y FROM reach""".stripMargin,

    "q54_tc_1000" ->
      s"""WITH RECURSIVE e AS ($benchGraphSql),
         |reach(src, dst) AS (
         |SELECT src, dst FROM e
         |UNION
         |SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
         |SELECT src AS SRC, dst AS DST FROM reach""".stripMargin,

    "q55_bound_reach_1000" ->
      s"""WITH RECURSIVE e AS ($benchGraphSql),
         |reach(dst) AS (
         |SELECT dst FROM e WHERE src = 0
         |UNION
         |SELECT e.dst FROM reach r JOIN e ON r.dst = e.src)
         |SELECT dst AS DST FROM reach""".stripMargin,

    "q59_iql_retraction" ->
      s"""WITH RECURSIVE e AS (
         |SELECT src, dst FROM ($graphEdgesSql) t
         |WHERE NOT (src = 0 AND dst = 1) AND NOT (src = 10 AND dst = 15)),
         |reach(src, dst) AS (
         |SELECT src, dst FROM e
         |UNION
         |SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
         |SELECT src AS X, dst AS Y FROM reach""".stripMargin,

    "q60_iql_magic_sg" ->
      """WITH RECURSIVE up AS (
        |SELECT CAST(n_nationkey AS BIGINT) AS c,
        |       CAST(FLOOR((n_nationkey - 1) / 2.0) AS BIGINT) AS p
        |FROM nation WHERE n_nationkey >= 1),
        |person AS (SELECT CAST(n_nationkey AS BIGINT) AS x FROM nation),
        |sg(x, y) AS (
        |SELECT x, x FROM person
        |UNION
        |SELECT u.c, d.c FROM up u JOIN sg ON u.p = sg.x JOIN up d ON d.p = sg.y)
        |SELECT y AS Y FROM sg WHERE x = 1""".stripMargin,

    "q56_iql_incremental_agg" ->
      """WITH emp AS (
        |SELECT o_orderkey AS id, o_custkey % 100 AS dept,
        |       CAST(FLOOR(o_totalprice) AS BIGINT) AS sal FROM orders
        |UNION ALL SELECT 900000001, 0, 1000
        |UNION ALL SELECT 900000002, 1, 2000
        |UNION ALL SELECT 900000003, 0, 3000)
        |SELECT dept AS D, CAST(SUM(sal) AS BIGINT) AS S, COUNT(sal) AS C FROM emp GROUP BY dept""".stripMargin,

    // avg view after both delete rounds: dept 7 died; dept 11 lost its
    // even-id rows (integral sal — every engine's avg is exact)
    "q186_iql_avg_decrement" ->
      """SELECT o_custkey % 50 AS D,
        |  AVG(CAST(FLOOR(o_totalprice) AS BIGINT)) AS A,
        |  COUNT(*) AS C
        |FROM orders
        |WHERE o_custkey % 50 <> 7
        |  AND NOT (o_custkey % 50 = 11 AND o_orderkey % 2 = 0)
        |GROUP BY 1""".stripMargin,

    // f64 sum/avg view after both delete rounds (quarter-valued sal:
    // decimal-carried maintenance == IEEE recompute == this oracle)
    "q187_iql_fsum_decrement" ->
      """WITH femp AS (SELECT o_orderkey AS id, o_custkey % 50 AS dept,
        |  FLOOR(o_totalprice) + 0.25 * (o_orderkey % 4) AS sal FROM orders)
        |SELECT dept AS D, SUM(sal) AS S, AVG(sal) AS A, COUNT(*) AS C
        |FROM femp
        |WHERE dept <> 7 AND NOT (dept = 11 AND id % 2 = 0)
        |GROUP BY dept""".stripMargin,

    // full replication of the blocked recall report: deterministic
    // centroids (first 8 b-vectors by id), same cell metric
    // (dot(v,c) − ‖c‖²/2, ties to the smaller cell), same margin
    // algebra, integer floor-division micro-units
    "q190_bitext_recall_report" ->
      """WITH a AS (SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 1000),
        |b AS (SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |cents AS (SELECT ROW_NUMBER() OVER (ORDER BY b_id) - 1 AS cell, v AS cv
        |  FROM b ORDER BY b_id LIMIT 8),
        |bcell AS (SELECT b_id, cell FROM (
        |  SELECT b.b_id, c.cell, ROW_NUMBER() OVER (PARTITION BY b.b_id
        |    ORDER BY list_dot_product(b.v, c.cv) - list_dot_product(c.cv, c.cv) / 2 DESC,
        |      c.cell ASC) AS rn
        |  FROM b CROSS JOIN cents c) WHERE rn = 1),
        |acell AS (
        |  SELECT a.a_id, c.cell, ROW_NUMBER() OVER (PARTITION BY a.a_id
        |    ORDER BY list_dot_product(a.v, c.cv) - list_dot_product(c.cv, c.cv) / 2 DESC,
        |      c.cell ASC) AS rn
        |  FROM a CROSS JOIN cents c),
        |tp AS (SELECT a_id, b_id, list_cosine_similarity(a.v, b.v) AS cos
        |  FROM a CROSS JOIN b),
        |tr AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS ra,
        |  ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id ASC) AS rb
        |  FROM tp),
        |tda AS (SELECT a_id, AVG(cos) AS da FROM tr WHERE ra <= 4 GROUP BY a_id),
        |tdb AS (SELECT b_id, AVG(cos) AS db FROM tr WHERE rb <= 4 GROUP BY b_id),
        |tc AS (SELECT r.a_id, r.b_id, r.cos / ((tda.da + tdb.db) / 2) AS margin
        |  FROM tr r JOIN tda USING (a_id) JOIN tdb USING (b_id) WHERE r.ra <= 4),
        |truth AS (SELECT a_id, b_id FROM (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id ASC) AS rk
        |  FROM tc) WHERE rk = 1 AND margin >= 1.0),
        |p4 AS (SELECT t.a_id, t.b_id, t.cos FROM tp t
        |  JOIN acell ac ON ac.a_id = t.a_id AND ac.rn <= 4
        |  JOIN bcell bc ON bc.b_id = t.b_id AND bc.cell = ac.cell),
        |r4 AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS ra,
        |  ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id ASC) AS rb
        |  FROM p4),
        |da4 AS (SELECT a_id, AVG(cos) AS da FROM r4 WHERE ra <= 4 GROUP BY a_id),
        |db4 AS (SELECT b_id, AVG(cos) AS db FROM r4 WHERE rb <= 4 GROUP BY b_id),
        |c4 AS (SELECT r.a_id, r.b_id, r.cos / ((da4.da + db4.db) / 2) AS margin
        |  FROM r4 r JOIN da4 USING (a_id) JOIN db4 USING (b_id) WHERE r.ra <= 4),
        |m4 AS (SELECT a_id, b_id FROM (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id ASC) AS rk
        |  FROM c4) WHERE rk = 1 AND margin >= 1.0),
        |p8 AS (SELECT t.a_id, t.b_id, t.cos FROM tp t
        |  JOIN acell ac ON ac.a_id = t.a_id AND ac.rn <= 8
        |  JOIN bcell bc ON bc.b_id = t.b_id AND bc.cell = ac.cell),
        |r8 AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS ra,
        |  ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id ASC) AS rb
        |  FROM p8),
        |da8 AS (SELECT a_id, AVG(cos) AS da FROM r8 WHERE ra <= 4 GROUP BY a_id),
        |db8 AS (SELECT b_id, AVG(cos) AS db FROM r8 WHERE rb <= 4 GROUP BY b_id),
        |c8 AS (SELECT r.a_id, r.b_id, r.cos / ((da8.da + db8.db) / 2) AS margin
        |  FROM r8 r JOIN da8 USING (a_id) JOIN db8 USING (b_id) WHERE r.ra <= 4),
        |m8 AS (SELECT a_id, b_id FROM (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id ASC) AS rk
        |  FROM c8) WHERE rk = 1 AND margin >= 1.0),
        |counts AS (
        |  SELECT CAST(4 AS BIGINT) AS nprobe,
        |    (SELECT COUNT(*) FROM truth) AS true_pairs,
        |    (SELECT COUNT(*) FROM m4) AS mined_pairs,
        |    (SELECT COUNT(*) FROM m4 JOIN truth USING (a_id, b_id)) AS matched_pairs
        |  UNION ALL
        |  SELECT CAST(8 AS BIGINT),
        |    (SELECT COUNT(*) FROM truth),
        |    (SELECT COUNT(*) FROM m8),
        |    (SELECT COUNT(*) FROM m8 JOIN truth USING (a_id, b_id)))
        |SELECT nprobe, true_pairs, mined_pairs, matched_pairs,
        |  CAST(CASE WHEN mined_pairs = 0 THEN 0
        |    ELSE (matched_pairs * 1000000) // mined_pairs END AS BIGINT) AS precision_micro,
        |  CAST(CASE WHEN true_pairs = 0 THEN 0
        |    ELSE (matched_pairs * 1000000) // true_pairs END AS BIGINT) AS recall_micro
        |FROM counts""".stripMargin,

    // final state: the 999 high sentinel is gone (999 rows return), the
    // dept-7 high sentinel is present (all dept-7 rows excluded)
    "q189_iql_neg_derived" ->
      """WITH nemp AS (
        |SELECT o_orderkey AS id, o_custkey % 50 AS dept,
        |       CAST(FLOOR(o_totalprice) AS BIGINT) AS sal FROM orders
        |WHERE o_orderkey % 20 = 0
        |UNION ALL SELECT 900000040, 999, 10
        |UNION ALL SELECT 900000060, 7, 950000)
        |SELECT id AS I, dept AS D FROM nemp
        |WHERE id % 20 = 0
        |  AND dept NOT IN (SELECT dept FROM nemp WHERE sal > 900000)""".stripMargin,

    // min/max view after both delete rounds: dept 7 died; the injected
    // 999 group lost both extremes, leaving only the middle sentinel
    "q188_iql_minmax_decrement" ->
      """WITH memp AS (
        |SELECT o_orderkey AS id, o_custkey % 50 AS dept,
        |       CAST(FLOOR(o_totalprice) AS BIGINT) % 1000 AS sal FROM orders
        |UNION ALL SELECT 900000002, 999, 5)
        |SELECT dept AS D, MIN(sal) AS L, MAX(sal) AS H, COUNT(*) AS C
        |FROM memp WHERE dept <> 7 GROUP BY dept""".stripMargin,

    // top-3 per dept after three delete rounds: dept 7 died, dept 11
    // lost its top slice (slack promotion), dept 13 lost enough to
    // force a buffer refill — final state is the rank over what's left
    "q191_iql_topk_retract" ->
      """WITH remp AS (
        |SELECT o_orderkey AS id, o_custkey % 50 AS dept,
        |       CAST(FLOOR(o_totalprice) AS BIGINT) % 100000 AS sal FROM orders)
        |SELECT dept AS D, id AS I, sal AS S FROM (
        |  SELECT dept, id, sal,
        |         ROW_NUMBER() OVER (PARTITION BY dept ORDER BY sal DESC, id ASC) AS rn
        |  FROM remp
        |  WHERE dept <> 7 AND NOT (dept = 11 AND sal > 97000)
        |    AND NOT (dept = 13 AND sal > 60000)) t
        |WHERE rn <= 3""".stripMargin,

    // the global sum/count after both decrement rounds
    "q195_iql_global_agg_retract" ->
      """SELECT CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS S,
        |       COUNT(*) AS C
        |FROM orders
        |WHERE CAST(FLOOR(o_totalprice) AS BIGINT) <= 400000
        |  AND o_orderkey % 7 <> 0""".stripMargin,

    // over-capacity fallback probed with every IVF cell == brute force
    "q196_hnsw_overcap_fallback" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |vec_id ASC LIMIT 10""".stripMargin,

    // replicates the degraded index end to end: the TRAINED coarse
    // quantizer (deterministic Lloyd k-means — first-4096-by-id sample,
    // first-64 init, 5 unrolled iterations, argmax assignment with ties
    // to the lowest cell, per-dimension means rounded through REAL so
    // cross-engine summation order can't drift a centroid), then
    // euclidean-Voronoi cell assignment, top-nprobe probe selection
    // under the same score, cosine top-10 within the probed cells,
    // recall vs the exhaustive top-10
    "q197_hnsw_fallback_recall" -> {
      def lloyd(i: Int): String = {
        val prev = if (i == 1) "cent0" else s"cent${i - 1}"
        s"""a$i AS (SELECT vec_id, cell FROM (
           |  SELECT s.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY s.vec_id
           |    ORDER BY list_dot_product(s.v, c.cv) - list_dot_product(c.cv, c.cv) / 2 DESC,
           |      c.cell ASC) AS rn
           |  FROM samp s CROSS JOIN $prev c) WHERE rn = 1),
           |m$i AS (SELECT cell, list(CAST(CAST(avg_val AS REAL) AS DOUBLE) ORDER BY pos) AS mv
           |  FROM (
           |    SELECT a.cell, u.pos, AVG(u.val) AS avg_val
           |    FROM a$i a JOIN samp s USING (vec_id),
           |      (SELECT s2.vec_id AS vid, UNNEST(s2.v) AS val,
           |              generate_subscripts(s2.v, 1) AS pos FROM samp s2) u
           |    WHERE u.vid = s.vec_id
           |    GROUP BY a.cell, u.pos)
           |  GROUP BY cell),
           |cent$i AS (SELECT c.cell, COALESCE(m.mv, c.cv) AS cv
           |  FROM $prev c LEFT JOIN m$i m ON m.cell = c.cell)""".stripMargin
      }
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |samp AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4096),
        |cent0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        |  FROM samp ORDER BY vec_id LIMIT 64),
        |${(1 to 5).map(lloyd).mkString(",\n")},
        |ecell AS (SELECT vec_id, cell FROM (
        |  SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(e.v, c.cv) - list_dot_product(c.cv, c.cv) / 2 DESC,
        |      c.cell ASC) AS rn
        |  FROM e CROSS JOIN cent5 c) WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id BETWEEN 16 AND 23),
        |qcell AS (
        |  SELECT q.q_id, c.cell, ROW_NUMBER() OVER (PARTITION BY q.q_id
        |    ORDER BY list_dot_product(q.qv, c.cv) - list_dot_product(c.cv, c.cv) / 2 DESC,
        |      c.cell ASC) AS rn
        |  FROM q CROSS JOIN cent5 c),
        |pairs AS (SELECT q.q_id, e.vec_id,
        |    1 - list_cosine_similarity(q.qv, e.v) AS dist
        |  FROM q CROSS JOIN e),
        |truth AS (SELECT q_id, vec_id FROM (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist ASC, vec_id ASC) AS rk
        |  FROM pairs) WHERE rk <= 10),
        |g24 AS (SELECT q_id, vec_id FROM (SELECT p.q_id, p.vec_id,
        |  ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY p.dist ASC, p.vec_id ASC) AS rk
        |  FROM pairs p
        |  JOIN qcell qc ON qc.q_id = p.q_id AND qc.rn <= 24
        |  JOIN ecell ec ON ec.vec_id = p.vec_id AND ec.cell = qc.cell)
        |  WHERE rk <= 10),
        |g36 AS (SELECT q_id, vec_id FROM (SELECT p.q_id, p.vec_id,
        |  ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY p.dist ASC, p.vec_id ASC) AS rk
        |  FROM pairs p
        |  JOIN qcell qc ON qc.q_id = p.q_id AND qc.rn <= 36
        |  JOIN ecell ec ON ec.vec_id = p.vec_id AND ec.cell = qc.cell)
        |  WHERE rk <= 10),
        |counts AS (
        |  SELECT CAST(24 AS BIGINT) AS nprobe,
        |    (SELECT COUNT(*) FROM g24 JOIN truth USING (q_id, vec_id)) AS hits,
        |    (SELECT COUNT(*) FROM truth) AS total
        |  UNION ALL
        |  SELECT CAST(36 AS BIGINT),
        |    (SELECT COUNT(*) FROM g36 JOIN truth USING (q_id, vec_id)),
        |    (SELECT COUNT(*) FROM truth))
        |SELECT nprobe, hits, total,
        |  CAST(CASE WHEN total = 0 THEN 0
        |    ELSE (hits * 1000000) // total END AS BIGINT) AS recall_micro
        |FROM counts""".stripMargin
    },

    // the stacked view after both rounds: only the surviving sentinel
    // dept's sum clears the cut (real depts sum well below it at any sf)
    "q194_iql_stacked_views" ->
      """WITH kemp2 AS (
        |SELECT o_orderkey AS id, o_custkey % 50 AS dept,
        |       CAST(FLOOR(o_totalprice) AS BIGINT) AS sal FROM orders
        |UNION ALL SELECT 900000002, 998, 700000000)
        |SELECT dept AS D, CAST(SUM(sal) AS BIGINT) AS T FROM kemp2
        |GROUP BY dept HAVING SUM(sal) > 500000000""".stripMargin,

    // sum/count per dept after the blocklist moved {7} → {7,11} → {11}
    "q193_iql_agg_neg_retract" ->
      """SELECT o_custkey % 50 AS D,
        |  CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS S,
        |  COUNT(*) AS C
        |FROM orders WHERE o_custkey % 50 <> 11 GROUP BY 1""".stripMargin,

    // radius filter after two delete rounds: dept 7 died, then the
    // even-id sub-100 rows went (all inside the radius)
    "q192_iql_radius_retract" ->
      """WITH remp2 AS (
        |SELECT o_orderkey AS id, o_custkey % 50 AS dept,
        |       CAST(FLOOR(o_totalprice) AS BIGINT) % 100000 AS sal FROM orders)
        |SELECT dept AS D, id AS I, sal AS S FROM remp2
        |WHERE sal <= 500 AND dept <> 7
        |  AND NOT (sal < 100 AND id % 2 = 0)""".stripMargin,

    // the view after both delete rounds: dept 7 died (conditional
    // delete), the injected 999 group died (exact-tuple deletes)
    "q179_iql_agg_decrement" ->
      """SELECT o_custkey % 50 AS D,
        |  CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS S,
        |  COUNT(*) AS C
        |FROM orders WHERE o_custkey % 50 <> 7 GROUP BY 1""".stripMargin,

    // final state: dept 7 gone; dept 11 loses its even-id sub-250 rows
    "q183_iql_cd_retract" ->
      """WITH cemp2 AS (
        |SELECT o_orderkey AS id, o_custkey % 100 AS dept,
        |       CAST(FLOOR(o_totalprice) AS BIGINT) % 500 AS sal FROM orders)
        |SELECT dept AS D, COUNT(DISTINCT sal) AS C, COUNT(*) AS N
        |FROM cemp2
        |WHERE dept <> 7 AND NOT (dept = 11 AND sal < 250 AND id % 2 = 0)
        |GROUP BY dept""".stripMargin,

    // 900000003 is inserted then deleted before the re-query — absent
    "q93_iql_dirty_group_avg" ->
      """WITH aemp AS (
        |SELECT o_orderkey AS id, o_custkey % 100 AS dept,
        |       CAST(FLOOR(o_totalprice) AS BIGINT) AS sal FROM orders
        |UNION ALL SELECT 900000001, 0, 1000
        |UNION ALL SELECT 900000002, 1, 2000
        |UNION ALL SELECT 900000004, 0, 4000)
        |SELECT dept AS D, AVG(sal) AS A, COUNT(DISTINCT sal) AS C
        |FROM aemp GROUP BY dept""".stripMargin,

    // the cd view after BOTH insert batches — counts must reflect the
    // carried pairs table, not a stale or double-counted state
    "q143_iql_cd_merge" ->
      """WITH cemp AS (
        |SELECT o_orderkey AS id, o_custkey % 100 AS dept,
        |       CAST(FLOOR(o_totalprice) AS BIGINT) % 500 AS sal FROM orders
        |UNION ALL SELECT 900000001, 0, 77
        |UNION ALL SELECT 900000002, 0, 77
        |UNION ALL SELECT 900000003, 1, 78
        |UNION ALL SELECT 900000004, 0, 78
        |UNION ALL SELECT 900000005, 200, 1)
        |SELECT dept AS D, COUNT(DISTINCT sal) AS C,
        |CAST(SUM(sal) AS BIGINT) AS S, COUNT(sal) AS N
        |FROM cemp GROUP BY dept""".stripMargin,

    // discrete quantiles pick actual data values, so DuckDB's
    // quantile_disc and SQL-standard percentile_disc agree exactly
    // (both: smallest value with cumulative distribution >= q)
    "q94_corpus_quantiles" ->
      """WITH t AS (
        |SELECT lang, CASE WHEN LEN(TRIM(text)) = 0 THEN 0
        |ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS tok
        |FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |CAST(SUM(tok) AS BIGINT) AS total_tokens,
        |quantile_disc(tok, 0.5) AS p50_tokens,
        |quantile_disc(tok, 0.9) AS p90_tokens,
        |quantile_disc(tok, 0.99) AS p99_tokens
        |FROM t GROUP BY lang""".stripMargin,

    // q96 (HLL-sketched) is rows-only: sketch estimates are
    // implementation-specific; q95 is its exact anchor
    "q95_vocab_exact" ->
      """WITH t AS (
        |SELECT lang, unnest(regexp_split_to_array(TRIM(text), '\s+')) AS tok
        |FROM documents WHERE LEN(TRIM(text)) > 0)
        |SELECT lang, COUNT(DISTINCT tok) AS n_vocab FROM t GROUP BY lang""".stripMargin,

    // weights: src0 5/2 (2 copies + half get a 3rd), src1 3/1,
    // src2 1/3, src3 1/1, all other sources dropped — mirrors the
    // Seq passed to Sampling.mixWeights in q97 exactly
    "q97_source_mix" ->
      s"""WITH d AS (SELECT doc_id, source,
         |  ${Sampling.posOracleSql("doc_id", 11L)} AS pos FROM documents),
         |c AS (SELECT doc_id, source, CASE source
         |  WHEN 'src0' THEN 2 + CASE WHEN pos % 2 < 1 THEN 1 ELSE 0 END
         |  WHEN 'src1' THEN 3
         |  WHEN 'src2' THEN CASE WHEN pos % 3 < 1 THEN 1 ELSE 0 END
         |  WHEN 'src3' THEN 1
         |  ELSE 0 END AS copies FROM d)
         |SELECT doc_id, source,
         |  unnest(generate_series(0, copies - 1)) AS rep
         |FROM c WHERE copies > 0""".stripMargin,

    // q98: the FULL 50-merge training loop replayed as chained
    // MATERIALIZED CTEs — one (pair-count → argmax → fold-apply)
    // triple per merge (Bpe.trainOracleSql); q99 stays as the
    // single-aggregation first-merge anchor
    "q98_bpe_merges" -> Bpe.trainOracleSql(numMerges = 50),

    // q100: per-doc counts under the same 50-stage replay — the
    // training segmentation of each vocab word, summed per document
    // (inference ≡ training-order application, fuzz-pinned in BpeSpec)
    "q100_bpe_encode" -> Bpe.tokenCountsOracleSql(numMerges = 50),

    "q99_bpe_first_merge" ->
      """WITH tok AS (
        |SELECT unnest(regexp_split_to_array(TRIM(text), '\s+')) AS word
        |FROM documents WHERE LEN(TRIM(text)) > 0),
        |v AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY word),
        |p AS (SELECT substring(word, i, 1) AS l, substring(word, i + 1, 1) AS r,
        |      SUM(freq) AS cnt
        |      FROM v, unnest(generate_series(1, length(word) - 1)) AS t(i)
        |      GROUP BY 1, 2)
        |SELECT CAST(0 AS BIGINT) AS rank, l AS lhs, r AS rhs
        |FROM p ORDER BY cnt DESC, l, r LIMIT 1""".stripMargin,

    // q101: the one-merge anchor (replace-based count, identical
    // left-to-right semantics) — kept alongside q100's full replay
    "q101_bpe_encode_one" -> q101OracleSql,

    // pack by the same one-merge BPE counts: the q101 chain feeds the
    // q78 running-sum packing — a composed tokenizer→packer pipeline,
    // exact end to end
    "q117_bpe_packing" ->
      s"""WITH base AS ($q101OracleSql),
         |c AS (SELECT doc_id, n_bpe_tokens,
         |  SUM(n_bpe_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bpe_tokens AS st
         |  FROM base)
         |SELECT doc_id, n_bpe_tokens,
         |  CAST(FLOOR(st / 4096.0) AS BIGINT) AS bin,
         |  CAST(st % 4096 AS BIGINT) AS bin_off FROM c""".stripMargin,

    // q103 (trained-codebook PQ) is rows-only: ADC over trained
    // codebooks is approximate by construction; q104/q105 exact-anchor
    // the same encode + LUT-sum machinery with seeded codebooks
    "q104_pq_codes" -> q104OracleSql,
    "q105_pq_adc_seeded" -> q105OracleSql,
    "q107_pagerank" -> q107OracleSql,
    "q140_hits" -> q140OracleSql,

    // naive a<b<c triple join over canonical undirected edges — every
    // triangle found once; per-node counts by exploding its 3 vertices
    "q142_triangles" ->
      s"""WITH e0 AS ($denseGraphSql),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM e0 WHERE src <> dst),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
         |        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
         |n AS (SELECT unnest([x, y, z]) AS node FROM tri)
         |SELECT node, count(*) AS n_triangles FROM n GROUP BY node""".stripMargin,

    // keep iff pos·den < n_chars·num·2³¹ — pure integer arithmetic,
    // bit-for-bit across engines
    "q109_pps_sample" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE ${Sampling.posOracleSql("doc_id", 19L)} * 5000
         |      < n_chars * 1 * 2147483648""".stripMargin,

    "q115_top_terms" ->
      """WITH t AS (SELECT lang, unnest(regexp_split_to_array(TRIM(text), '\s+')) AS tok
        |FROM documents WHERE LEN(TRIM(text)) > 0),
        |c AS (SELECT lang, tok, COUNT(*) AS n FROM t GROUP BY lang, tok),
        |r AS (SELECT lang, tok, n,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS INT) AS rank
        |  FROM c)
        |SELECT lang, tok, n, rank FROM r WHERE rank <= 20""".stripMargin,

    // the salted plans must produce EXACTLY the unsalted results — the
    // oracles are the plain join / plain aggregate
    "q113_salted_join" ->
      """SELECT o_orderkey, o_custkey AS custkey, o_totalprice, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

    // the bucketed layout must change the PLAN, never the result — the
    // oracle is the plain join
    "q144_bucketed_join" ->
      """SELECT o_orderkey, o_custkey AS custkey, o_totalprice, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q114_salted_agg" ->
      """SELECT l_returnflag,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum,
        |COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // q111 (trained clusters) is rows-only; q112 is its exact anchor:
    // one centroid ⇒ one cluster ⇒ the pair set IS all-pairs cosine
    "q112_semdedup_one_cluster" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 500),
        |n AS (SELECT vec_id, e, SQRT(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |u AS (SELECT vec_id, CASE WHEN nrm = 0 THEN e ELSE list_transform(e, x -> x / nrm) END AS u FROM n)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |list_sum(list_transform(generate_series(1, LEN(a.u)), i -> a.u[i] * b.u[i])) AS cosine
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE cosine >= 0.3""".stripMargin,

    // the composed pipeline replicates stage by stage: token-count
    // filter, min-id survivor per md5, integer PPS threshold, running-
    // sum packing — one chained-CTE oracle for the whole job
    "q110_curation_pipeline" ->
      s"""WITH t AS (SELECT doc_id, n_chars, text,
         |  CASE WHEN LEN(TRIM(text)) = 0 THEN 0
         |  ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END AS tok
         |  FROM documents),
         |f AS (SELECT * FROM t WHERE tok >= 30 AND n_chars <= 4000),
         |s AS (SELECT f.* FROM f JOIN
         |  (SELECT md5(text) AS h, MIN(doc_id) AS k FROM f GROUP BY 1) r
         |  ON f.doc_id = r.k),
         |p AS (SELECT doc_id, tok FROM s
         |  WHERE ${Sampling.posOracleSql("doc_id", 23L)} * 200
         |        < tok * 1 * 2147483648),
         |c AS (SELECT doc_id, tok,
         |  SUM(tok) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS st
         |  FROM p)
         |SELECT doc_id, tok, CAST(FLOOR(st / 2048.0) AS BIGINT) AS bin,
         |  CAST(st % 2048 AS BIGINT) AS bin_off FROM c""".stripMargin,

    // decimal Σ (order-independent) + 6-dp round: the one-shot mean
    // cannot hit grid boundaries the way an iterated fixpoint can
    "q108_mean_pool" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |t AS (SELECT label, i - 1 AS pos, v[i] AS x
        |      FROM e, unnest(generate_series(1, len(v))) u(i))
        |SELECT label, pos,
        |  ROUND(CAST(SUM(CAST(x AS DECIMAL(38,30))) AS DOUBLE) / COUNT(*), 6) AS mean
        |FROM t GROUP BY label, pos""".stripMargin,

    // PQ re-rank with an all-rows shortlist == exact Euclidean top-10
    "q106_pq_rerank_all" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_distance(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) ASC,
        |vec_id ASC LIMIT 10""".stripMargin,

    // IVF-PQ with every cell probed + all-rows shortlist == the same
    // exact Euclidean top-10 (both approximations turned off)
    "q138_ann_ivfpq_allprobes" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_distance(CAST(embedding AS DOUBLE[]),
        |(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) ASC,
        |vec_id ASC LIMIT 10""".stripMargin,

    // the same seeded hyperplanes bake into both engines as literals;
    // both sides sum sequentially in double and round to 6 dp
    "q102_random_projection" -> {
      val planes = graft.functions.LshFunctions.hyperplanes(dim = 64, nPlanes = 8, table = 0)
      val cols = planes.zipWithIndex.map { case (p, j) =>
        s"round(list_inner_product(v, ${vecLit(p)}), 6) AS d$j"
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT vec_id,
         |$cols
         |FROM e""".stripMargin
    }
  )
}
