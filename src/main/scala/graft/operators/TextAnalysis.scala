package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Per-document text-analysis operators: one scan, per-row expressions,
  * no shuffle — the shape that scales linearly to 100 TB. */
object TextAnalysis {

  /** Per-call SCRATCH checkpoints (the LM gram-count table, the
    * classifier feature table) retired through the shared grace-period
    * [[graft.plans.Graveyard]] when the NEXT call to the same operator
    * arrives: a bench loop that re-runs q160/q161/q166 all session thus
    * holds at most ONE live scratch table per operator instead of
    * accumulating persisted blocks, while a result still lazily held
    * from the immediately previous call gets the same in-flight-reader
    * grace window the evicted signature tables do. */
  private def checkpointRetiring(
      slot: java.util.concurrent.atomic.AtomicReference[Option[org.apache.spark.rdd.RDD[_]]],
      df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    graft.plans.Graveyard.buryAndDrain(
      slot.getAndSet(graft.plans.Fixpoint.checkpointRddOf(ck)))
    ck
  }
  private def scratchSlot() =
    new java.util.concurrent.atomic.AtomicReference[Option[org.apache.spark.rdd.RDD[_]]](None)
  private val lmScratch = scratchSlot()
  private val clsScratch = scratchSlot()

  /** doc_id + token counts (whitespace and regex/BPE-ish). */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      TF.tokenCount(col(textCol)).as("n_tokens"),
      TF.regexTokenCount(col(textCol)).as("n_regex_tokens"))

  /** Per-group token-count distribution (corpus curation: length
    * quantiles set the filtering thresholds; totals size the training
    * mix). Discrete quantiles (`percentile_disc`) pick an ACTUAL data
    * value — engine-exact and oracle-able, unlike interpolated or
    * sketched percentiles. Spark's exact percentile keeps a value→count
    * map per group; token counts are bounded-cardinality, so the state
    * stays small and partial-aggregates map-side at any corpus size. */
  def lengthDistribution(docs: DataFrame, groupCol: String = "lang",
                         textCol: String = "text"): DataFrame =
    docs.select(col(groupCol), TF.tokenCount(col(textCol)).as("tok"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY tok)")
          .cast("long").as("p50_tokens"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY tok)")
          .cast("long").as("p90_tokens"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY tok)")
          .cast("long").as("p99_tokens"))

  /** Sketched length distribution — the 100 TB twin of
    * [[lengthDistribution]]: one bounded-memory quantile sketch per
    * group (Spark's approx_percentile, a Greenwald-Khanna variant)
    * instead of the exact value→count map. `accuracy` bounds the rank
    * error at 1/accuracy; state stays fixed-size however long the
    * documents get. Anchored by the exact q94 twin in the oracle
    * suite. */
  def lengthDistributionApprox(docs: DataFrame, groupCol: String = "lang",
                               textCol: String = "text",
                               accuracy: Int = 10000): DataFrame =
    docs.select(col(groupCol), TF.tokenCount(col(textCol)).as("tok"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        expr(s"approx_percentile(tok, 0.5, $accuracy)").as("p50_tokens"),
        expr(s"approx_percentile(tok, 0.9, $accuracy)").as("p90_tokens"),
        expr(s"approx_percentile(tok, 0.99, $accuracy)").as("p99_tokens"))

  /** Per-group vocabulary size — exact form: explode tokens and
    * COUNT(DISTINCT). Oracle-able, but the distinct shuffles every
    * token occurrence once; use [[vocabularyApprox]] at corpus scale. */
  def vocabulary(docs: DataFrame, groupCol: String = "lang",
                 textCol: String = "text"): DataFrame =
    docs.select(col(groupCol), explode(TF.tokens(col(textCol))).as("tok"))
      .groupBy(col(groupCol))
      .agg(countDistinct(col("tok")).as("n_vocab"))

  /** Sketched vocabulary size: one HyperLogLog++ sketch per group —
    * fixed-size state, map-side mergeable, one tiny row per group over
    * the shuffle. At 100 TB distinct-counting is sketch work, not a
    * token shuffle; rsd 0.01 ≈ 1% relative error. Anchored by the
    * exact [[vocabulary]] twin in the oracle suite. */
  def vocabularyApprox(docs: DataFrame, groupCol: String = "lang",
                       textCol: String = "text", rsd: Double = 0.01): DataFrame =
    docs.select(col(groupCol), explode(TF.tokens(col(textCol))).as("tok"))
      .groupBy(col(groupCol))
      .agg(approx_count_distinct(col("tok"), rsd).as("n_vocab"))

  /** Per-group top-k most frequent tokens (heavy hitters — stopword
    * discovery, boilerplate vocabulary, per-language frequency tables).
    * Explode partial-aggregates map-side into (group, token) counts;
    * the top-k per group is a WindowGroupLimit (per-partition ranking
    * cut before the final sort), never a global materialization.
    * Ties break lexicographically so the cut is deterministic. */
  def topTerms(docs: DataFrame, k: Int = 20, groupCol: String = "lang",
               textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col(groupCol), explode(TF.tokens(col(textCol))).as("tok"))
      .groupBy(col(groupCol), col("tok"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("n").desc, col("tok"))))
      .where(col("rank") <= k)
  }

  /** Quality features + composite score per document. */
  def qualityFeatures(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      TF.tokenCount(col(textCol)).as("n_tokens"),
      TF.meanTokenLength(col(textCol)).as("mean_token_len"),
      TF.stopwordRatio(col(textCol)).as("stopword_ratio"),
      TF.punctRatio(col(textCol)).as("punct_ratio"),
      TF.upperRatio(col(textCol)).as("upper_ratio"))

  /** Intra-document repetition statistics — the "repeated boilerplate"
    * quality signal (n-gram-level repetition filters in web-corpus
    * cleaning): token count, distinct-token count, the most frequent
    * token's count, and the repetition ratio 1 − distinct/total. All
    * per-row work over the token array — no explode, no shuffle. The
    * max-frequency pass is a one-pass JIT'd UDF with a per-doc hash map
    * (the HOF form would run an interpreted lambda per element — the
    * measured 2-20× trap VectorKernels exists to avoid). */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val toks = TF.tokens(col(textCol))
    val maxFreqUdf = udf { (ts: Seq[String]) =>
      if (ts == null || ts.isEmpty) 0L
      else {
        val m = new java.util.HashMap[String, Long]()
        var best = 0L
        ts.foreach { t =>
          val c = m.merge(t, 1L, (a, b) => a + b)
          if (c > best) best = c
        }
        best
      }
    }
    val maxFreq = maxFreqUdf(toks)
    docs.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      maxFreq.as("max_tok_freq"),
      when(size(toks) === 0, lit(0.0)).otherwise(
        lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .as("rep_ratio"))
  }

  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1): per doc,
    * the fraction of characters inside the single most frequent word
    * n-gram (n ∈ `topNs`; occurrences × gram length / text length) and
    * the fraction of characters COVERED by word `dupN`-grams that recur
    * within the document (overlapping occurrences counted once — a
    * per-doc gaps-and-islands merge over gram intervals). These are the
    * standard repeated-boilerplate gates one level above
    * [[repetitionStats]]' token ratios.
    *
    * Scale shape: one map-only pass per row — no explode, window, join
    * or shuffle. Spark expressions build the input (`TF.normText`, its
    * `length` and `TF.tokens`, so case folding, `trim` and the `\s+`
    * rules are Spark's own) and finish the output (the division, 6-dp
    * `round` and `coalesce`); only the integer numerators come from
    * [[gopherNumerators]], a per-row UDF whose memory is one document's
    * grams. Each row is scored on its own, also when ids repeat. */
  def gopherRepetition(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                       topNs: Seq[Int] = Seq(2, 3, 4), dupN: Int = 5): DataFrame = {
    val numUdf = udf((ts: Seq[String]) => gopherNumerators(ts, topNs, dupN))
    val names = topNs.map(n => s"top${n}_frac") :+ s"dup${dupN}_cover"
    docs.select(col(idCol), TF.normText(col(textCol)).as("__nt"))
      .select(col(idCol), length(col("__nt")).cast("long").as("__total"),
        numUdf(TF.tokens(col("__nt"))).as("__num"))
      .select(col(idCol) +: names.zipWithIndex.map { case (name, i) =>
        coalesce(round(col("__num").getItem(i).cast("double") /
          col("__total").cast("double"), 6), lit(0.0)).as(name)
      }: _*)
  }

  /** Per-document numerators of [[gopherRepetition]] over the token
    * array `ts`: for each n in `topNs`, count × character length of the
    * most frequent n-gram (count DESC, first start ASC), then the
    * character coverage of the `dupN`-grams that occur at least twice.
    * An entry is None when the document has no such gram; `ts == null`
    * gives null. Token p starts at Σ_{j<p}(len_j + 1) + 1 with lengths in
    * code points, as Spark's `length` counts them; grams compare by
    * token sequence; an island of recurring grams breaks when a start
    * exceeds the running max end + 1. */
  private def gopherNumerators(ts: Seq[String], topNs: Seq[Int],
                               dupN: Int): Seq[Option[Long]] =
    if (ts == null) null
    else {
      val tok = ts.toIndexedSeq
      val start = tok.scanLeft(1L)((s, w) => s + w.codePointCount(0, w.length) + 1L)
      def end(p: Int, n: Int): Long = start(p + n) - 2L
      // the n-gram starting at each token p, and each gram's count in the document
      def grams(n: Int): (IndexedSeq[IndexedSeq[String]], Map[IndexedSeq[String], Int]) = {
        val gs = (0 to tok.length - n).map(p => tok.slice(p, p + n))
        (gs, gs.groupMapReduce(identity)(_ => 1)(_ + _))
      }
      val tops = topNs.map { n =>
        val (gs, cnt) = grams(n)
        if (gs.isEmpty) None
        else {
          val p = gs.indices.minBy(p => (-cnt(gs(p)), p))
          Some(cnt(gs(p)).toLong * (end(p, n) - start(p) + 1L))
        }
      }
      val (gs, cnt) = grams(dupN)
      val rep = gs.indices.filter(p => cnt(gs(p)) >= 2)
      val dup = if (rep.isEmpty) None else {
        var (cover, islandStart, pmax) = (0L, start(rep.head), end(rep.head, dupN))
        rep.tail.foreach { p =>
          if (start(p) > pmax + 1L) {
            cover += pmax - islandStart + 1L
            islandStart = start(p)
          }
          pmax = math.max(pmax, end(p, dupN))
        }
        Some(cover + pmax - islandStart + 1L)
      }
      tops :+ dup
    }

  /** DuckDB replication of [[gopherRepetition]]: gram strings stand in
    * for token sequences (tokens hold no space, so grouping by the
    * space-joined string ≡ grouping by the sequence), a char-offset
    * cumsum for the starts, the same (count DESC, first-start ASC) top
    * pick, the same island merge, the same single-division 6-dp
    * rounding. */
  def gopherOracleSql(topNs: Seq[Int] = Seq(2, 3, 4), dupN: Int = 5): String = {
    def gramCte(n: Int, name: String): String =
      s"""$name AS (SELECT doc_id, total, start,
         |  start + length(array_to_string(tk[p : p + ${n - 1}], ' ')) - 1 AS gend,
         |  array_to_string(tk[p : p + ${n - 1}], ' ') AS g
         |  FROM tp WHERE p + ${n - 1} <= ntk)""".stripMargin
    val topCtes = topNs.map { n =>
      s"""${gramCte(n, s"g$n")},
         |c$n AS (SELECT doc_id, count(*) AS cnt, min(start) AS ms,
         |        min(gend - start + 1) AS glen, min(total) AS tt
         |        FROM g$n GROUP BY doc_id, g),
         |t$n AS (SELECT doc_id,
         |        round(CAST(cnt * glen AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS top${n}_frac
         |        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |              ORDER BY cnt DESC, ms ASC) AS rn FROM c$n) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val topJoins = topNs.map(n => s"LEFT JOIN t$n USING (doc_id)").mkString(" ")
    val topSel = topNs.map(n => s"coalesce(top${n}_frac, 0.0) AS top${n}_frac").mkString(", ")
    s"""WITH nrm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt
       |             FROM documents),
       |b AS (SELECT doc_id, length(nt) AS total,
       |      CASE WHEN length(nt) = 0 THEN [] ELSE string_split(nt, ' ') END AS tk
       |      FROM nrm),
       |tp AS (SELECT doc_id, total, tk, len(tk) AS ntk, p,
       |       CAST(p + coalesce(SUM(length(tk[p])) OVER (PARTITION BY doc_id ORDER BY p
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
       |       FROM b, unnest(generate_series(1, len(tk))) u(p)),
       |$topCtes,
       |${gramCte(dupN, "gd")},
       |dd AS (SELECT doc_id, total, start, gend,
       |       COUNT(*) OVER (PARTITION BY doc_id, g) AS cnt FROM gd),
       |di AS (SELECT doc_id, total, start, gend,
       |       MAX(gend) OVER (PARTITION BY doc_id ORDER BY start
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |       FROM dd WHERE cnt >= 2),
       |dg AS (SELECT doc_id, total, start, gend,
       |       SUM(CASE WHEN pmax IS NULL OR start > pmax + 1 THEN 1 ELSE 0 END)
       |         OVER (PARTITION BY doc_id ORDER BY start) AS grp FROM di),
       |dc AS (SELECT doc_id, grp, MAX(gend) - MIN(start) + 1 AS cov, MIN(total) AS tt
       |       FROM dg GROUP BY doc_id, grp),
       |dv AS (SELECT doc_id,
       |       round(CAST(SUM(cov) AS DOUBLE) / CAST(MIN(tt) AS DOUBLE), 6) AS dup${dupN}_cover
       |       FROM dc GROUP BY doc_id)
       |SELECT b.doc_id, $topSel, coalesce(dup${dupN}_cover, 0.0) AS dup${dupN}_cover
       |FROM b $topJoins LEFT JOIN dv USING (doc_id)""".stripMargin
  }

  /** Composite quality score per document (heuristic; no SQL oracle). */
  def qualityScores(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), TF.qualityScore(col(textCol)).as("quality_score"))

  /** Language identification (function-word voting). */
  def languageId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), TF.langId(col(textCol)).as("lang_pred"))

  /** Per-doc 64-bit SimHash via explode + 64 bit-vote sum aggregates: one
    * pass over (id, token) rows with map-side partial aggregation — the
    * scale shape. (The Column-level `TF.simHash` re-evaluates its term
    * array per bit × per element: 64× quadratic, only fit for ad-hoc use.)
    * Docs with no tokens get simhash 0 (no votes). */
  def simHashes(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"), explode(array_distinct(TF.tokens(col(textCol)))).as("t"))
      .select(col("id"), TF.fnvMix64(col("t")).as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0L, 1).otherwise(-1)).as(s"v$j")
    }
    val bits = (0 until 64).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }
    val agg = toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), bits.reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("simhash"), lit(0L)).as("simhash"))
  }

  /** PII scrubbing: email / IPv4 / long-digit-run (phone-ish) redaction
    * with per-class match counts — the standard pre-training privacy
    * pass. Pure per-row regexp work (scan-local, shuffle-free at any
    * scale); patterns stay in the RE2-compatible subset so the same
    * regexes run in the DuckDB oracle. */
  def piiScrub(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      TF.piiScrubText(col(textCol)).as("scrubbed"),
      regexp_count(col(textCol), lit(TF.EmailRe)).as("n_emails"),
      regexp_count(col(textCol), lit(TF.Ipv4Re)).as("n_ips"))

  /** Fixed-size character chunking with overlap (context-window prep):
    * one row per chunk, `chunk_id` 0-based, stride = size − overlap.
    * Position-explode keeps the substring codegen'd (one pass per doc,
    * no interpreted lambdas); empty docs yield no chunks. */
  def chunk(docs: DataFrame, size: Int, overlap: Int,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(size > overlap && overlap >= 0, s"need size > overlap >= 0")
    val stride = size - overlap
    docs.select(col(idCol), col(textCol))
      .where(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol),
        explode(sequence(lit(0),
          greatest(ceil((length(col(textCol)) - lit(overlap)).cast("double") / stride)
            .cast("int") - 1, lit(0)))).as("chunk_id"))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col(textCol).substr(col("chunk_id") * stride + 1, lit(size)).as("chunk"))
  }

  /** Top-k TF-IDF terms per document: tf = in-doc term count, idf =
    * ln(N / docfreq), ranked per doc by the 6-dp-ROUNDED score (term
    * tiebreak) — rounding before ranking makes the order robust to the
    * 1-ulp `ln` differences between engines, so the DuckDB oracle
    * reproduces the selection exactly.
    *
    * Scale shape: tokens explode map-side; (doc, term) counts partial-
    * aggregate before the shuffle; the docfreq table joins back on
    * `term` with NO forced broadcast — the vocabulary of a web corpus
    * is 10⁸-10⁹ rows, far past driver/broadcast limits, and a `broadcast`
    * hint cannot be overridden by AQE. While it fits, AQE broadcasts it
    * on its own; past that it shuffle-joins on the key `docFreq` is
    * already partitioned by (its groupBy). The final top-k is one
    * per-doc window. No row ever carries more than (id, term, counts). */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 5,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol), explode(TF.tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).as("__n"))
    tf.join(docFreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("__n").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("tfidf"), col("rank"))
  }

  /** Cross-document boilerplate coverage (template/near-dup content
    * detection, the n-gram analogue of CCNet-style repeated-line
    * removal): a token n-gram shingle occurring in at least `minDf`
    * distinct documents is boilerplate; per document report total
    * shingle positions, boilerplate positions, and the coverage ratio.
    *
    * Scale shape: positions explode to (id, 8-byte shingle hash) — the
    * shuffle never carries text; docfreq partial-aggregates map-side;
    * the boilerplate set (≤ vocabulary-sized) joins back on the hash
    * with no forced broadcast (AQE broadcasts while it fits; see
    * [[tfIdfTopTerms]]). The ratio is hash-value-independent, so the
    * DuckDB oracle computes the same counts over string shingles. */
  def boilerplate(docs: DataFrame, n: Int = 5, minDf: Int = 2,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"),
        explode(TF.wordShingleHashes(TF.tokens(col(textCol)), n)).as("h"))
    val boiler = sh.groupBy("h").agg(countDistinct(col("id")).as("df"))
      .where(col("df") >= minDf).select(col("h"), lit(1L).as("__b"))
    val per = sh.join(boiler, Seq("h"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__b"), lit(0L))).as("n_boiler"))
    docs.select(col(idCol).as("id")).join(per, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0L, lit(0.0))
          .otherwise(round(col("n_boiler").cast("double") / col("n_shingles"), 6))
          .as("boiler_ratio"))
  }

  /** Corpus-trained unigram-LM document scoring (the CCNet/Gopher
    * perplexity-style quality signal, with the LM trained on the corpus
    * itself): p(t) = count(t) / total tokens, score = mean over the
    * document's token positions of ln p(t) — higher (less negative) =
    * more typical text. Rounded to 6 dp so the DuckDB oracle's `ln`
    * and summation order reproduce the value exactly.
    *
    * Scale shape: one explode to (id, token); the vocabulary-sized
    * count table joins back on the token with no forced broadcast (AQE
    * broadcasts while it fits; see [[tfIdfTopTerms]]); per-doc mean is
    * one partial-aggregated shuffle on id. Documents with no tokens are
    * dropped (no positions to average). */
  def unigramLogProb(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), explode(TF.tokens(col(textCol))).as("t"))
    val cnt = tok.groupBy("t").agg(count(lit(1)).cast("double").as("c"))
    val tot = cnt.agg(sum(col("c")).as("__tt"))
    tok.join(cnt, Seq("t"))
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log(col("c") / col("__tt"))), 6).as("logprob"))
  }

  /** Corpus-trained BIGRAM-LM document scoring with add-one smoothing —
    * the CCNet-style perplexity gate one order up from
    * [[unigramLogProb]]: word-ORDER sensitivity, so scrambled or
    * boilerplate-repetitive text scores differently from fluent text
    * even at identical unigram frequencies. P(w₂|w₁) =
    * (c(w₁w₂)+1)/(c(w₁)+V) with c(w₁) the raw unigram count and V the
    * vocabulary size; score = mean over the document's adjacent pairs
    * of ln P. Rounded to 6 dp (the q87 stance: both engines' `ln` and
    * their summation orders agree under the coarse final round).
    *
    * Scale shape: one explode to (id, w₁, w₂); the observed-bigram and
    * unigram count tables join back on their keys (vocabulary-sized —
    * AQE broadcasts while they fit); the per-doc mean is one
    * partial-aggregated shuffle on id. Docs with <2 tokens drop (no
    * pairs to average). */
  def bigramLogProb(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), TF.tokens(col(textCol)).as("__toks"))
    val pairCol = transform(TF.seq1(size(col("__toks")) - 1), i =>
      struct(element_at(col("__toks"), i).as("w1"),
        element_at(col("__toks"), i + 1).as("w2")))
    val pr = toks.select(col(idCol), explode(pairCol).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uni = toks.select(explode(col("__toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.count() // V: one exact job over the count table
    val big = pr.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    pr.join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c12") + 1).cast("double") /
          (col("c1") + lit(vocab)).cast("double"))), 6).as("avg_logprob"))
  }

  /** Token-distribution drift between two corpus slices — the dataset
    * monitoring op (did this snapshot's language/source mix move? is a
    * new crawl statistically like the old one?): add-one-smoothed
    * unigram distributions over the UNION vocabulary, reported as both
    * KL divergences and the symmetric Jensen-Shannon divergence, one
    * output row. pₐ(t) = (cₐ(t)+1)/(Nₐ+V) so q(t)=0 never divides;
    * JS = ½KL(p‖m)+½KL(q‖m), m=½(p+q) — bounded by ln 2.
    *
    * Scale shape: each side is one token-count aggregation
    * (vocabulary-sized result), a full-outer join on the token, and a
    * global partial-aggregated sum — no per-document state. 6-dp final
    * round (the q87 stance) makes the unordered double sums
    * engine-exact. */
  def distributionDrift(a: DataFrame, b: DataFrame,
                        textCol: String = "text"): DataFrame = {
    def counts(df: DataFrame, out: String) =
      df.select(explode(TF.tokens(col(textCol))).as("t"))
        .groupBy("t").agg(count(lit(1)).as(out))
    val joined = counts(a, "ca").join(counts(b, "cb"), Seq("t"), "full_outer")
      .select(col("t"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = joined.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("v")).head()
    val (na, nb, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val pa = (col("ca") + 1).cast("double") / lit((na + v).toDouble)
    val pb = (col("cb") + 1).cast("double") / lit((nb + v).toDouble)
    val m = (pa + pb) / 2
    joined.agg(
      lit(v).as("n_vocab"),
      round(sum(pa * log(pa / pb)), 6).as("kl_ab"),
      round(sum(pb * log(pb / pa)), 6).as("kl_ba"),
      round(sum(pa * log(pa / m) / 2 + pb * log(pb / m) / 2), 6).as("js"))
  }

  /** Blocklist screening (the C4 "bad words" step): per document, how
    * many DISTINCT blocklist terms its tokens contain and whether it
    * passes (zero hits). The blocklist ships as a plan literal — it is
    * a curated list of at most a few thousand terms, so the screen is
    * one map-only array intersection per row, no join, no shuffle.
    * Null/empty text trivially passes. */
  def blocklistScreen(docs: DataFrame, terms: Seq[String],
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        coalesce(size(array_intersect(
          array_distinct(TF.tokens(col(textCol))),
          typedLit(terms.distinct))), lit(0)).cast("long").as("n_blocked"))
      .withColumn("kept", col("n_blocked") === 0)

  /** Winnowing fingerprint sets (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS scheme): hash every `k`-char gram of the normalized text,
    * keep the MINIMUM hash of every `w`-length window of consecutive
    * gram positions, emit the distinct kept values as (id, fp) rows.
    * Guarantee: any shared substring of length ≥ w+k−1 chars yields at
    * least one shared fingerprint — PASSAGE-level overlap detection,
    * which global MinHash similarity cannot give (a long doc sharing
    * one paragraph has near-zero Jaccard but nonzero winnow overlap).
    * Tie positions don't matter: the fingerprint IS the min VALUE, so
    * a plain sliding `array_min` equals the canonical selection.
    * Map-only per-row expressions (gram-hash transform + sliding min);
    * docs shorter than `k` normalized chars emit nothing. */
  def winnow(docs: DataFrame, k: Int = 8, w: Int = 4,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // the whole selection runs in TF.winnowFps — one byte-level pass
    // per document (no per-gram String allocation, no doc-partition
    // window shuffle; an explode+window spelling of the same semantics
    // measured ~4× slower on the suite corpus). Map-only: the explode
    // output is already distinct per document.
    docs.select(col(idCol),
      explode(TF.winnowFps(TF.normText(col(textCol)), k, w)).as("fp"))

  /** Winnow-overlap candidate pairs: documents sharing ≥ `minShared`
    * selected fingerprints, with the shared count — the passage-overlap
    * report. Fingerprints present in more than `maxDf` documents are
    * BOILERPLATE and excluded before pairing (MOSS does the same with
    * its most-common fingerprints) — that is also the hot-key guard: a
    * fingerprint shared by d docs contributes d² candidate pairs, so
    * without the cap one ubiquitous substring puts a quadratic blowup
    * on a single reducer. With it, candidate volume is ≤ maxDf·Σdf.
    * The fingerprint table computes once (checkpoint) and self-joins on
    * `fp`, so the shuffle carries (fp, id) pairs only. */
  def winnowPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
                  minShared: Long = 2L, maxDf: Long = 20L,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val f = winnow(docs, k, w, idCol, textCol).localCheckpoint(true)
    val rareFp = f.groupBy("fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDf).select(col("fp"))
    val rare = f.join(rareFp, Seq("fp"))
    rare.select(col(idCol).as("id_a"), col("fp"))
      .join(rare.select(col(idCol).as("id_b"), col("fp")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** 64-bit content fingerprints: SimHash + rolling-hash min-shingle,
    * both computed via explode/groupBy single passes. */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sim = simHashes(docs, idCol, textCol)
    val fp = docs.select(col(idCol).as("id"), TF.normText(col(textCol)).as("nt"))
      .select(col("id"), col("nt"), explode(TF.seq1(length(col("nt")) - 7)).as("pos"))
      .select(col("id"), TF.fnvMix64(col("nt").substr(col("pos"), lit(8))).as("h"))
      .groupBy("id").agg(min(col("h")).as("fingerprint"))
    docs.select(col(idCol), TF.normText(col(textCol)).as("__nt"))
      .join(sim, Seq(idCol), "left")
      .join(fp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      // simhash coalesces to 0 for token-less (whitespace-only) docs —
      // the oracle SQL emits COALESCE(simhash, 0), and both engines
      // must agree on docs with no votes at all
      .select(col(idCol), coalesce(col("simhash"), lit(0L)).as("simhash"),
        coalesce(col("fingerprint"), TF.fnvMix64(col("__nt"))).as("fingerprint"))
  }

  /** DuckDB replication of [[fingerprints]] — exact-oracle SQL for the
    * SimHash + rolling-fingerprint pair. The string hash is
    * [[TF.fnvMix64]] (FNV-1a 64 + splitmix64), replicated with HUGEINT
    * mod-2^64 arithmetic over codepoints (≡ UTF-8 bytes on the ASCII
    * corpus); SimHash votes explode 64 bit positions per token, the
    * rolling fingerprint takes the SIGNED min over 8-char windows —
    * distinct tokens/windows hash once globally, then join back. */
  // ── HUGEINT-mod-2^64 replication of TF.fnvMix64 for oracle SQL
  //    builders (shared by the fingerprint and winnowing oracles) ──────
  private[operators] val Two64 = "18446744073709551616"
  private[operators] def mmSql(a: String, b: String): String =
    s"(((($a) >> 32) * $b) % $Two64 * 4294967296 + (($a) % 4294967296) * $b) % $Two64"
  private[operators] def uSql(v: Long): String = java.lang.Long.toUnsignedString(v)
  /** Per-key FNV-1a fold over codepoints + splitmix64, as staged CTEs. */
  private[operators] def foldMixSql(src: String, out: String): String =
    s"""${out}_f AS (SELECT k, list_reduce(list_prepend(${uSql(0xCBF29CE484222325L)}::HUGEINT,
       |  list_transform(generate_series(1, length(k)), i -> CAST(unicode(k[i]) AS HUGEINT))),
       |  (h, ch) -> ${mmSql("xor(h, ch)", "1099511628211")}) AS h0 FROM $src),
       |${out}_1 AS (SELECT k, (h0 + ${uSql(0x9E3779B97F4A7C15L)}) % $Two64 AS z FROM ${out}_f),
       |${out}_2 AS (SELECT k, ${mmSql("xor(z, z >> 30)", uSql(0xBF58476D1CE4E5B9L))} AS z FROM ${out}_1),
       |${out}_3 AS (SELECT k, ${mmSql("xor(z, z >> 27)", uSql(0x94D049BB133111EBL))} AS z FROM ${out}_2),
       |$out AS (SELECT k, xor(z, z >> 31) AS hm FROM ${out}_3)""".stripMargin
  private[operators] def toSignedSql(e: String): String =
    s"CAST(CASE WHEN $e >= 9223372036854775808 THEN $e - $Two64 ELSE $e END AS BIGINT)"

  /** DuckDB replication of [[winnow]]: k-gram FNV+splitmix hashes per
    * position, sliding-window MIN over the signed values, distinct. */
  def winnowOracleSql(k: Int = 8, w: Int = 4): String =
    s"""WITH nrm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt
       |             FROM documents),
       |pos AS (SELECT doc_id, i, nt[i : i + ${k - 1}] AS k
       |        FROM nrm, unnest(generate_series(1, length(nt) - ${k - 1})) u(i)
       |        WHERE length(nt) >= $k),
       |ug AS (SELECT DISTINCT k FROM pos),
       |${foldMixSql("ug", "ugh")},
       |hs AS (SELECT p.doc_id, p.i, ${toSignedSql("u.hm")} AS h
       |       FROM pos p JOIN ugh u ON p.k = u.k),
       |wmin AS (SELECT doc_id, i,
       |         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS m,
       |         COUNT(*) OVER (PARTITION BY doc_id) AS n FROM hs)
       |SELECT DISTINCT doc_id, m AS fp FROM wmin WHERE i <= n - ${w - 1}""".stripMargin

  /** DuckDB replication of [[winnowPairs]] (incl. the df cap). */
  def winnowPairsOracleSql(k: Int = 8, w: Int = 4, minShared: Long = 2L,
                           maxDf: Long = 20L): String =
    s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
       |FROM (${winnowOracleSql(k, w)}) a
       |JOIN (${winnowOracleSql(k, w)}) b USING (fp)
       |WHERE a.doc_id < b.doc_id AND fp IN (
       |  SELECT fp FROM (${winnowOracleSql(k, w)})
       |  GROUP BY fp HAVING count(*) <= $maxDf)
       |GROUP BY 1, 2 HAVING count(*) >= $minShared""".stripMargin

  def fingerprintOracleSql(): String = {
    def foldMix(src: String, out: String): String = foldMixSql(src, out)
    def toSigned(e: String): String = toSignedSql(e)
    val pow2 = (0 until 64).map(j => s"($j, ${java.lang.Long.toUnsignedString(1L << j)}::HUGEINT)")
      .mkString(", ")
    s"""WITH doc AS (SELECT doc_id, text FROM documents),
       |tok AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS t
       |        FROM doc WHERE length(trim(text)) > 0),
       |ut AS (SELECT DISTINCT t AS k FROM tok),
       |${foldMix("ut", "uth")},
       |votes AS (SELECT tk.doc_id, j.j,
       |          SUM(CASE WHEN (u.hm >> j.j) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |          FROM tok tk JOIN uth u ON tk.t = u.k
       |          CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
       |          GROUP BY tk.doc_id, j.j),
       |simu AS (SELECT v.doc_id, SUM(CASE WHEN v.v > 0 THEN p.p ELSE 0::HUGEINT END) AS s
       |         FROM votes v JOIN (VALUES $pow2) p(j, p) ON v.j = p.j GROUP BY v.doc_id),
       |sim AS (SELECT doc_id, ${toSigned("s")} AS simhash FROM simu),
       |nrm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt FROM doc),
       |win AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, length(nt) - 7),
       |        p -> nt[p:p+7]))) AS k FROM nrm WHERE length(nt) >= 8),
       |uw AS (SELECT DISTINCT k FROM win),
       |${foldMix("uw", "uwh")},
       |fpw AS (SELECT w.doc_id, MIN(${toSigned("u.hm")}) AS fp
       |        FROM win w JOIN uwh u ON w.k = u.k GROUP BY w.doc_id),
       |short AS (SELECT doc_id, nt AS k FROM nrm WHERE length(nt) < 8),
       |us AS (SELECT DISTINCT k FROM short),
       |${foldMix("us", "ush")},
       |fps AS (SELECT s.doc_id, ${toSigned("u.hm")} AS fp
       |        FROM short s JOIN ush u ON s.k = u.k)
       |SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash, COALESCE(w.fp, x.fp) AS fingerprint
       |FROM doc d LEFT JOIN sim s ON d.doc_id = s.doc_id
       |LEFT JOIN fpw w ON d.doc_id = w.doc_id
       |LEFT JOIN fps x ON d.doc_id = x.doc_id""".stripMargin
  }

  // ════════════════════════════════════════════════════════════════════
  // HTML / markup text extraction
  // ════════════════════════════════════════════════════════════════════

  private val HtmlBlockTags =
    "html|head|title|body|p|div|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|" +
      "br|hr|section|article|aside|main|header|footer|nav|blockquote|pre|form"
  private val HtmlEntities = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** HTML → text extraction with LINK-DENSITY boilerplate removal — the
    * first stage of every real web-corpus pipeline (C4 / CCNet /
    * RefinedWeb start from raw crawl HTML, not pre-extracted text).
    * Entirely MAP-ONLY, one pass per document:
    *
    *  1. `<script>`/`<style>` element bodies and comments drop whole.
    *  2. Block-level tags (`p div li h1-6 tr nav footer ...`) become
    *     block boundaries; the document splits into blocks.
    *  3. Per block: remaining inline tags strip to spaces, basic
    *     entities unescape (`&amp;` LAST so `&amp;lt;` yields the
    *     literal `&lt;`), whitespace normalizes.
    *  4. BOILERPLATE RULE (the jusText/Readability link-density
    *     heuristic, integer-exact): a block is dropped when its text is
    *     shorter than `minChars` OR when its anchor-text length exceeds
    *     `linkNum/linkDen` of its total text (`linkLen·linkDen >
    *     textLen·linkNum`) — navigation bars, footers, and related-link
    *     rails are nearly-all-anchor-text, body prose is not.
    *
    * Returns (idCol, extracted_text = kept blocks joined by newline,
    * n_kept, n_dropped) where n_dropped counts NON-EMPTY blocks removed
    * by the rule. All string ops are regex/replace chains replicated
    * verbatim by [[extractHtmlOracleSql]] — no tokenizer ambiguity.
    * Null markup behaves as empty. 100 TB shape: zero shuffles, zero
    * per-doc state beyond the row — the scan IS the operator. */
  def extractHtmlText(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "html", minChars: Int = 10,
                      linkNum: Int = 1, linkDen: Int = 2): DataFrame = {
    require(minChars >= 1 && linkNum >= 0 && linkDen > 0)
    def unesc(c: Column): Column =
      HtmlEntities.foldLeft(c) { case (a, (f, t)) => regexp_replace(a, f, t) }
    def stripTags(c: Column): Column = regexp_replace(c, "<[^>]*>", " ")
    def norm(c: Column): Column =
      trim(regexp_replace(unesc(stripTags(c)), "\\s+", " "))
    val cleaned = regexp_replace(regexp_replace(regexp_replace(
      coalesce(col(textCol), lit("")),
      "(?is)<script(>|\\s[^>]*>).*?</script>", " "),
      "(?is)<style(>|\\s[^>]*>).*?</style>", " "),
      "(?s)<!--.*?-->", " ")
    val blocks = split(
      regexp_replace(cleaned, s"(?is)</?($HtmlBlockTags)(>|\\s[^>]*>)", "\n"), "\n")
    val scored = transform(blocks, b => struct(
      norm(b).as("t"),
      length(norm(concat_ws(" ",
        regexp_extract_all(b, lit("(?is)<a(>|\\s[^>]*>).*?</a>"), lit(0))))).as("l")))
    val nonEmpty = filter(scored, s => length(s("t")) > 0)
    val kept = filter(nonEmpty, s =>
      length(s("t")) >= minChars && s("l") * linkDen <= length(s("t")) * linkNum)
    docs.select(col(idCol),
      array_join(transform(kept, s => s("t")), "\n").as("extracted_text"),
      size(kept).cast("long").as("n_kept"),
      (size(nonEmpty) - size(kept)).cast("long").as("n_dropped"))
  }

  /** EXACT corpus-wide frequent tokens (count ≥ `minCount`) WITHOUT a
    * full-vocabulary shuffle — the two-pass Misra-Gries shape (Misra &
    * Gries 1982; mergeable-summaries form, Agarwal et al. 2013):
    *
    *  pass 1: each partition streams its tokens through a `width`-
    *    counter MG summary (bounded state however large the vocabulary)
    *    and emits only its surviving counters + its token count. MG's
    *    guarantee: a counter undercounts by at most (partition tokens)/
    *    width, summing to N/width corpus-wide — so ANY token with true
    *    count > N/width survives in some partition's summary, for every
    *    row order. The guard `minCount · width > N` (checked against
    *    the actual N) makes the candidate union a PROVEN superset of
    *    the answer; if a caller picks parameters that violate it, the
    *    operator falls back to the exact full groupBy rather than
    *    silently losing items.
    *  pass 2: exact counts for the CANDIDATES only (broadcast semi-
    *    join), filter ≥ minCount.
    *
    * The candidate SET of pass 1 can vary with row order (MG evictions
    * are stream-order-dependent) — the final output cannot: every true
    * heavy hitter is always in the superset, pass 2's counts are exact,
    * and everything below `minCount` is filtered regardless of whether
    * it was a candidate. Hence a plain GROUP BY/HAVING oracle checks
    * the operator exactly. Driver state ≤ width × partitions counters;
    * the corpus-sized shuffle of a full vocabulary count never
    * happens. */
  def frequentTokens(docs: DataFrame, minCount: Long, width: Int = 4096,
                     textCol: String = "text", gramN: Int = 1): DataFrame = {
    require(minCount >= 1 && width >= 1 && gramN >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    // gramN > 1 mines frequent word n-grams — the boilerplate PHRASE
    // discovery pass (repeated navigation strings, license headers);
    // identical two-pass machinery, the unit just widens
    def gramsOf(df: DataFrame) = {
      if (gramN == 1) df.select(explode(TF.tokens(col(textCol))).as("t"))
      // tokens PROJECT first: a tokens() expression captured inside the
      // shingle lambda re-runs the regexp split once per shingle
      // element — O(len²) per document (the DSIR lesson; measured 5.8 s
      // → sub-second for q178 at sf0.1)
      else df.select(TF.tokens(col(textCol)).as("__t"))
        .select(explode(TF.wordShinglesOf(col("__t"), gramN)).as("t"))
    }
    val toks = gramsOf(docs).as[String]
    val partials = toks.mapPartitions { it =>
      val m = new java.util.HashMap[String, Long]()
      var n = 0L
      it.foreach { t =>
        n += 1
        val cur = m.getOrDefault(t, 0L)
        if (cur > 0L) m.put(t, cur + 1)
        else if (m.size < width) m.put(t, 1L)
        else {
          // decrement-all eviction: one pass over the counters
          val iter = m.entrySet().iterator()
          while (iter.hasNext) {
            val e = iter.next()
            if (e.getValue == 1L) iter.remove() else e.setValue(e.getValue - 1)
          }
        }
      }
      import scala.jdk.CollectionConverters._
      Iterator.single((None: Option[String], n)) ++
        m.entrySet().asScala.iterator.map(e => (Some(e.getKey): Option[String], e.getValue))
    }.collect()
    val n = partials.collect { case (None, c) => c }.sum
    if (minCount * width.toLong <= n) {
      // guarantee void for these parameters — exact fallback, never a
      // silent miss
      gramsOf(docs)
        .groupBy("t").agg(count(lit(1)).as("n"))
        .where(col("n") >= minCount)
    } else {
      val cand = partials.collect { case (Some(t), _) => t }.distinct
      val candDf = broadcast(cand.toSeq.toDF("t"))
      gramsOf(docs)
        .join(candDf, Seq("t"), "left_semi")
        .groupBy("t").agg(count(lit(1)).as("n"))
        .where(col("n") >= minCount)
    }
  }

  /** DuckDB replication of [[frequentTokens]]: the operator is exact by
    * the two-pass argument, so the oracle is the plain GROUP BY. */
  def frequentTokensOracleSql(minCount: Long, gramN: Int = 1): String = {
    val unit =
      if (gramN == 1) "unnest(tk)"
      else s"""unnest(list_transform(generate_series(1, LEN(tk) - ${gramN - 1}),
         |    i -> array_to_string(tk[i : i + ${gramN - 1}], ' ')))""".stripMargin
    s"""SELECT t, count(*) AS n FROM (
       |  SELECT $unit AS t FROM (
       |    SELECT regexp_split_to_array(TRIM(text), '\\s+') AS tk
       |    FROM documents WHERE length(TRIM(text)) > 0))
       |GROUP BY t HAVING count(*) >= $minCount""".stripMargin
  }

  // ════════════════════════════════════════════════════════════════════
  // n-gram LM scoring with backoff (KenLM-shape, one model order per
  // level) — the actual CCNet filter signal, n−1 orders past
  // [[bigramLogProb]]
  // ════════════════════════════════════════════════════════════════════

  /** n-gram language-model document scoring with STUPID BACKOFF (Brants
    * et al. 2007 — the web-scale LM the CCNet-style perplexity gate
    * actually approximates): the model trains on `train` and scores
    * `score`, so unseen grams genuinely occur and the backoff chain is
    * exercised (scoring the training corpus would find every gram and
    * never back off). Per token position i with context order
    * kmax = min(n, i):
    *
    *   S = δ^(kmax−k) · c_k(gram) / c_{k−1}(context)   for the LONGEST
    *       k ∈ [2, kmax] whose k-gram was seen in training
    *       (its (k−1)-prefix is then seen too, so the ratio is defined);
    *   S = δ^(kmax−1) · (c₁(w)+1) / (N+V)              when no k ≥ 2
    *       gram matched — the add-one-smoothed unigram base case, which
    *       also keeps OOV words (c₁ = 0) finite.
    *
    * Output (idCol, n_scored, avg_logprob): the mean over positions of
    * ln S, 6-dp rounded (the q87 stance — both engines' ln and their
    * summation orders agree under the coarse final round). The backoff
    * penalty enters ADDITIVELY as (kmax−k)·ln δ with ln δ computed ONCE
    * on the driver and baked into both plans as the same double literal
    * — `pow` cross-engine parity is never relied on.
    *
    * Scale shape: training counts are one grouped aggregation over the
    * per-position gram explode (n rows per token — the inherent n-gram-LM
    * blowup; tables are corpus-vocabulary-sized and join back by (order,
    * gram) key); scoring is one explode + two key joins + two id-keyed
    * partial-aggregated shuffles. No driver state beyond N and V. */
  def ngramLogProb(train: DataFrame, score: DataFrame, n: Int = 5,
                   backoff: Double = 0.4, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(n >= 2, "need n >= 2")
    val lnA = math.log(backoff)
    def positions(df: DataFrame) = df
      .select(col(idCol).as("id"), TF.tokens(col(textCol)).as("t"))
      .where(size(col("t")) > 0)
      .select(col("id"), col("t"), explode(TF.seq1(size(col("t")))).as("i"))
      .select(col("id"), col("t"), col("i"),
        explode(TF.seq1(least(lit(n), col("i")))).as("k"))
    val cnt = checkpointRetiring(lmScratch, positions(train)
      .select(col("k"), array_join(slice(col("t"), col("i") - col("k") + 1, col("k")), " ").as("g"))
      .groupBy("k", "g").agg(count(lit(1)).as("c")))
    val uni = cnt.where(col("k") === 1)
      .agg(sum(col("c")), count(lit(1))).collect()(0)
    require(!uni.isNullAt(0),
      "ngramLogProb: training corpus has no tokens — nothing to model")
    val denom1 = uni.getLong(0).toDouble + uni.getLong(1).toDouble // N + V
    val pos = positions(score)
      .select(col("id"), col("i"), col("k"), least(lit(n), col("i")).as("kmax"),
        array_join(slice(col("t"), col("i") - col("k") + 1, col("k")), " ").as("g"),
        when(col("k") >= 2,
          array_join(slice(col("t"), col("i") - col("k") + 1, col("k") - 1), " ")).as("ctx"))
    val j = pos
      .join(cnt.select(col("k"), col("g"), col("c").as("ck")), Seq("k", "g"), "left")
      .join(cnt.select((col("k") + 1).as("k"), col("g").as("ctx"), col("c").as("cx")),
        Seq("k", "ctx"), "left")
    val sel = j.groupBy("id", "i", "kmax").agg(
      max(when(col("k") >= 2 && col("ck").isNotNull,
        struct(col("k"), col("ck"), col("cx")))).as("s"),
      max(when(col("k") === 1, coalesce(col("ck"), lit(0L)))).as("c1"))
    val lp = when(col("s").isNotNull,
      (col("kmax") - col("s.k")).cast("double") * lit(lnA) +
        log(col("s.ck").cast("double") / col("s.cx").cast("double")))
      .otherwise(
        (col("kmax") - 1).cast("double") * lit(lnA) +
          log((col("c1").cast("double") + 1) / lit(denom1)))
    sel.select(col("id"), lp.as("lp"))
      .groupBy("id").agg(
        count(lit(1)).as("n_scored"),
        round(avg(col("lp")), 6).as("avg_logprob"))
      .withColumnRenamed("id", idCol)
  }

  /** DuckDB replication of [[ngramLogProb]] over two doc_id predicates:
    * identical gram tables, the same longest-match backoff selection
    * (struct max), the same ln δ double literal, 6-dp rounded mean. */
  def ngramLogProbOracleSql(trainPred: String, scorePred: String, n: Int = 5,
                            backoff: Double = 0.4): String = {
    val lnA = s"CAST(${math.log(backoff)} AS DOUBLE)"
    def posCte(pred: String, pre: String): String =
      s"""${pre}0 AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS t
         |  FROM documents WHERE ($pred) AND LEN(TRIM(text)) > 0),
         |${pre}1 AS (SELECT doc_id, t, unnest(generate_series(1, LEN(t))) AS i FROM ${pre}0),
         |${pre}2 AS (SELECT doc_id, t, i, unnest(generate_series(1, LEAST($n, i))) AS k
         |  FROM ${pre}1)""".stripMargin
    s"""WITH ${posCte(trainPred, "tr")},
       |cnt AS MATERIALIZED (SELECT k, array_to_string(t[i-k+1:i], ' ') AS g, count(*) AS c
       |  FROM tr2 GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(c) AS DOUBLE) + CAST(COUNT(*) AS DOUBLE) AS d1
       |  FROM cnt WHERE k = 1),
       |${posCte(scorePred, "sc")},
       |pos AS (SELECT doc_id, i, k, LEAST($n, i) AS kmax,
       |    array_to_string(t[i-k+1:i], ' ') AS g,
       |    CASE WHEN k >= 2 THEN array_to_string(t[i-k+1:i-1], ' ') END AS ctx
       |  FROM sc2),
       |j AS (SELECT p.doc_id, p.i, p.kmax, p.k, c1.c AS ck, c2.c AS cx
       |  FROM pos p
       |  LEFT JOIN cnt c1 ON c1.k = p.k AND c1.g = p.g
       |  LEFT JOIN cnt c2 ON c2.k = p.k - 1 AND c2.g = p.ctx),
       |sel AS (SELECT doc_id, i, kmax,
       |    max(CASE WHEN k >= 2 AND ck IS NOT NULL
       |        THEN {'k': k, 'ck': ck, 'cx': cx} END) AS s,
       |    max(CASE WHEN k = 1 THEN coalesce(ck, 0) END) AS c1
       |  FROM j GROUP BY doc_id, i, kmax),
       |ls AS (SELECT doc_id,
       |    CASE WHEN s IS NOT NULL
       |      THEN CAST(kmax - s.k AS DOUBLE) * $lnA
       |           + ln(CAST(s.ck AS DOUBLE) / CAST(s.cx AS DOUBLE))
       |      ELSE CAST(kmax - 1 AS DOUBLE) * $lnA
       |           + ln((CAST(c1 AS DOUBLE) + 1) / tot.d1) END AS lp
       |  FROM sel, tot)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
       |  round(avg(lp), 6) AS avg_logprob
       |FROM ls GROUP BY doc_id""".stripMargin
  }

  // ════════════════════════════════════════════════════════════════════
  // Trained quality classifier (discriminative "looks like the target
  // corpus" filter)
  // ════════════════════════════════════════════════════════════════════

  /** TRAINED quality classifier — the GPT-3/LLaMA-style discriminative
    * filter: a linear scorer over hashed unigram+bigram features (the
    * same FNV bucketing as DSIR, [[Sampling.dsirSelect]]) trained to
    * separate a TARGET slice (label 1, `targetPred`) from the rest of
    * the corpus (label 0), then applied to every document. Unlike
    * DSIR's generative log-likelihood ratio, the weights come from
    * `iters` FULL-BATCH fixed-step gradient descent steps on squared
    * error over a squashed margin — each step one margin scan + one
    * B-bounded gradient aggregate collected to the driver (the
    * BPE/k-means driver-loop pattern; B = `buckets` is corpus-size-
    * independent, so the weight vector always fits the driver and
    * broadcasts back into the next scan).
    *
    * DETERMINISM (the whole point of the formulation): the squash is
    * the ALGEBRAIC sigmoid σ̃(m) = 0.5 + 0.5·m/(1+|m|) — plain IEEE
    * +,×,÷,| · | reproduces bit-identically on any engine, where
    * exp-based logistic would hang cross-engine parity on transcendental
    * last-ulp agreement. Per-doc margins and per-bucket gradients sum in
    * DECIMAL(38,30) (order-independent); the weight update
    * w ← w − lr·(g/N + λ·w) runs in doubles with a fixed expression
    * shape both engines replay exactly; only the FINAL score rounds
    * (6 dp). Default λ = 2⁻¹⁰ is exactly representable so the literal
    * parses to the same double everywhere. Per-doc features are
    * occurrence counts normalized by the doc's feature total
    * (invn = 1/(2·len−1)), bounding every margin by max|w|.
    *
    * Returns (idCol, quality_score ∈ (0,1)) for every doc with ≥ 1
    * token; higher = more target-like. Scale shape: feature incidence
    * checkpoints once; each iteration is two id/bucket-keyed
    * partial-aggregated shuffles of (8-byte bucket, double) rows; no
    * corpus-sized driver state ever. */
  def qualityClassifierScores(docs: DataFrame, targetPred: Column,
                              buckets: Int = 64, iters: Int = 8,
                              lr: Double = 4.0, l2: Double = 0.0009765625,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame =
    qualityClassifierTrain(docs, targetPred, buckets, iters, lr, l2,
      idCol, textCol)._2

  /** [[qualityClassifierScores]] returning the trained weight vector
    * TOO — the artifact a streaming scorer or a later batch
    * ([[scoreQualityWith]]) applies. Returned, not stashed in global
    * state: interleaved runs over different corpora/scales (sf0.01 and
    * sf0.1 dirs, concurrent tests) each keep the weights trained on
    * THEIR corpus instead of racing over a last-write-wins slot. */
  /** Doc ceiling for the driver-local GD replay (the Fixpoint
    * LocalEdgeRows pattern): per-doc feature lists are bucket-bounded
    * (|fs| ≤ buckets after the groupBy), so the collect is at most
    * docs × buckets (b, v) pairs — ~70 MB transiently at this cap with
    * the default 64 buckets, the Fixpoint CC stance on driver peaks.
    * Above it the distributed per-iteration loop runs, byte-identical
    * to before (probed by ScaleCheck's cls_train_dist, which forces it
    * via localTrainDocs = 0). */
  val LocalTrainDocs: Long = 65536L

  def qualityClassifierTrain(docs: DataFrame, targetPred: Column,
                             buckets: Int = 64, iters: Int = 8,
                             lr: Double = 4.0, l2: Double = 0.0009765625,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             localTrainDocs: Long = LocalTrainDocs): (Array[Double], DataFrame) = {
    // a NULL predicate result labels 0 (the oracle's CASE ... ELSE 0):
    // without the coalesce those rows would train with y = NULL —
    // contributing nothing to any gradient — while the oracle trains
    // them as negatives, silently diverging the weights cross-engine on
    // any corpus with NULLs in the predicate column
    val base = docs
      .select(col(idCol).as("id"),
        coalesce(targetPred.cast("double"), lit(0.0)).as("y"),
        TF.tokens(col(textCol)).as("t"))
      .where(size(col("t")) > 0)
    // Per-doc SPARSE FEATURE VECTORS, built once (two shuffles) and
    // checkpointed: (bucket, occurrences/total) pairs. Each GD step is
    // then MAP-ONLY over this table for margins and errors — the only
    // per-iteration exchange is the B-bounded gradient groupBy. The
    // margin is the exact decimal(38,30) sum of the per-feature w·v
    // products — order-independent (same-scale decimal addition is
    // exact), within 1e-28 of the oracle's exact decimal SUM (identical
    // doubles after the cast for any margin above ~1e-12). r15: the sum
    // runs as the compiled [[graft.functions.VectorKernels.decimalMarginFold]]
    // kernel — ONE evaluation per document row — instead of the old
    // interpreted higher-order `aggregate` fold (~|fs| expression-tree
    // walks per row, ~70% of each training iteration); the kernel's
    // arithmetic is bit-identical (TextAnalysisSpec pins kernel == HOF
    // fold on randomized features).
    val fv = checkpointRetiring(clsScratch, base
      .select(col("id"), col("y"),
        (lit(1.0) / (size(col("t")).cast("double") * 2 - 1)).as("invn"),
        // r15: one-pass bucket kernel — identical buckets to
        // explode(concat(t, shingles₂)) → pmod(fnvMix64(f), B), with no
        // per-bigram string allocation (TextAnalysisSpec pins equality)
        explode(TF.fnvFeatureBuckets(col("t"), buckets.toLong)).as("b"))
      .groupBy("id", "y", "invn", "b").agg(count(lit(1)).cast("double").as("cnt"))
      .select(col("id"), col("y"), col("b"), (col("cnt") * col("invn")).as("v"))
      .groupBy("id", "y").agg(sort_array(collect_list(struct(col("b"), col("v")))).as("fs")))
    val nDocs = fv.count().toDouble
    def marginOf(ws: Array[Double]): Column =
      graft.functions.VectorKernels.decimalMarginFold(col("fs"), ws)
    def sigmoid(m: Column): Column =
      lit(0.5) + lit(0.5) * m / (lit(1.0) + abs(m))
    var w: Array[Double] = Array.fill(buckets)(0.0)
    // r16: below the doc gate the GD loop replays ON THE DRIVER with
    // arithmetic identical to the distributed iteration — each of the
    // `iters` steps was a full scheduler job (scan + explode + B-bounded
    // aggregate + collect) of almost pure fixed overhead at bench scale
    // (~0.4 s/step measured vs ~10 ms of actual compute; the
    // PageRank/HITS LocalEdgeRows pattern, guide §1.2). One bounded
    // collect of (y, fs) replaces all `iters` jobs; the margin is the
    // exact DecimalMarginFold chain, the gradient the exact
    // sum(cast(t as decimal(38,30))) (order-independent — same-scale
    // decimal addition is exact), the weight update the identical double
    // expression. TextAnalysisSpec pins local == distributed weights
    // AND scores bit-for-bit. The final scoring pass below is the
    // UNCHANGED distributed plan either way.
    if (iters > 0 && nDocs <= localTrainDocs) {
      val rows = fv.select(col("y"), col("fs")).collect()
      w = localGdReplay(rows, buckets, iters, lr, l2, nDocs)
    } else {
      var it = 0
      while (it < iters) {
        // err is projected BELOW the explode: in a single select the
        // margin fold would land in the post-Generate projection and
        // re-evaluate once per exploded feature (measured 40x)
        val g = fv
          .select((sigmoid(marginOf(w)) - col("y")).as("err"), col("fs"))
          .select(col("err"), explode(col("fs")).as("s"))
          .select(col("s.b").as("b"), (col("err") * col("s.v")).as("t"))
          .groupBy("b")
          .agg(sum(col("t").cast("decimal(38,30)")).cast("double").as("g"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        w = Array.tabulate(buckets) { b =>
          w(b) - lr * (g.getOrElse(b.toLong, 0.0) / nDocs + l2 * w(b))
        }
        it += 1
      }
    }
    (w, fv.select(col("id").as(idCol),
      round(sigmoid(marginOf(w)), 6).as("quality_score")))
  }

  /** Driver-local replay of the distributed GD iteration, bit-for-bit:
    * per doc the margin is the exact [[graft.functions.VectorKernels.DecimalMarginFold]]
    * chain (per-product cast to decimal(38,30) via shortest-string
    * BigDecimal + HALF_UP setScale, per-step scale-29 rounding,
    * overflow → null doc, which the distributed Sum would skip), the
    * error the identical `0.5 + (0.5·m)/(1+|m|) − y` double expression,
    * each gradient term the identical `cast(err·v as decimal(38,30))`,
    * per-bucket sums exact same-scale decimal addition
    * (order-independent, so accumulation order is free), absent buckets
    * 0.0, and the weight update the identical double expression. */
  private def localGdReplay(rows: Array[org.apache.spark.sql.Row], buckets: Int,
                            iters: Int, lr: Double, l2: Double,
                            nDocs: Double): Array[Double] = {
    val n = rows.length
    val ys = new Array[Double](n)
    val bss = new Array[Array[Int]](n)
    val vss = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val r = rows(i)
      ys(i) = r.getDouble(0)
      val fs = r.getSeq[org.apache.spark.sql.Row](1)
      val m = fs.length
      val bs = new Array[Int](m)
      val vs = new Array[Double](m)
      var j = 0
      while (j < m) {
        val s = fs(j)
        bs(j) = s.getLong(0).toInt
        vs(j) = s.getDouble(1)
        j += 1
      }
      bss(i) = bs
      vss(i) = vs
      i += 1
    }
    // per-chunk partial gradients merge exactly: same-scale decimal
    // addition is exact, hence associative and commutative — any chunk
    // split and merge order yields the bit-identical per-bucket sum the
    // distributed Sum produces, so the doc loop parallelizes freely
    val nChunks = math.max(1, math.min(
      Runtime.getRuntime.availableProcessors, (n + 1023) / 1024))
    val bounds = Array.tabulate(nChunks + 1)(c => (c.toLong * n / nChunks).toInt)
    var w = Array.fill(buckets)(0.0)
    var it = 0
    while (it < iters) {
      val wCur = w
      val partials = java.util.stream.IntStream.range(0, nChunks).parallel()
        .mapToObj[Array[java.math.BigDecimal]] { c =>
          val gsum = new Array[java.math.BigDecimal](buckets)
          var i = bounds(c)
          while (i < bounds(c + 1)) {
            val bs = bss(i)
            val vs = vss(i)
            var acc = java.math.BigDecimal.ZERO
            var mNull = false
            var j = 0
            while (j < bs.length && !mNull) {
              val p = java.math.BigDecimal.valueOf(wCur(bs(j)) * vs(j))
                .setScale(30, java.math.RoundingMode.HALF_UP)
              if (p.precision > 38) mNull = true
              else {
                acc = acc.add(p).setScale(29, java.math.RoundingMode.HALF_UP)
                if (acc.precision > 38) mNull = true
              }
              j += 1
            }
            // a null margin (decimal overflow — unreachable for
            // classifier magnitudes) nulls the doc's err and every
            // gradient term, which the distributed Sum ignores: skip
            // the doc's contributions
            if (!mNull) {
              val mv = acc.doubleValue()
              val err = 0.5 + (0.5 * mv) / (1.0 + math.abs(mv)) - ys(i)
              j = 0
              while (j < bs.length) {
                val t = err * vs(j)
                // a NaN or out-of-range term raises, as the distributed
                // loop's ANSI cast to decimal(38,30) does (ANSI is the
                // session default; non-ANSI would null-skip the term)
                val d = org.apache.spark.sql.types.Decimal(t)
                require(d.changePrecision(38, 30),
                  s"gradient term $t does not fit decimal(38,30)")
                val b = bs(j)
                gsum(b) =
                  if (gsum(b) == null) d.toJavaBigDecimal
                  else gsum(b).add(d.toJavaBigDecimal)
                j += 1
              }
            }
            i += 1
          }
          gsum
        }.toArray(k => new Array[Array[java.math.BigDecimal]](k))
      val gsum = new Array[java.math.BigDecimal](buckets)
      partials.foreach { part =>
        var b = 0
        while (b < buckets) {
          if (part(b) != null)
            gsum(b) = if (gsum(b) == null) part(b) else gsum(b).add(part(b))
          b += 1
        }
      }
      w = Array.tabulate(buckets) { b =>
        val g = if (gsum(b) == null) 0.0 else gsum(b).doubleValue()
        w(b) - lr * (g / nDocs + l2 * w(b))
      }
      it += 1
    }
    w
  }

  /** MAP-ONLY scoring with an already-trained weight vector — the form
    * that applies to a STREAMING DataFrame (stateless per-row work, no
    * aggregation): margin = Σ over the doc's feature OCCURRENCES of
    * w_b/(2·len−1), folded in decimal per row, then the algebraic
    * sigmoid. Numerically within ~1e-28 of the batch scorer's
    * per-bucket-grouped fold (identical after the 6-dp round except at
    * astronomically unlucky boundaries). */
  def scoreQualityWith(docs: DataFrame, weights: Array[Double],
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val buckets = weights.length
    val toksC = TF.tokens(col(textCol))
    // r16: the margin folded per-occurrence decimal through an
    // INTERPRETED higher-order `aggregate` (one expression-tree walk per
    // unigram+bigram occurrence) over features built by per-bigram
    // slice+concat — the last interpreted decimal fold in the repo. Now
    // the one-pass FNV bucket kernel emits the identical bucket sequence
    // (unigrams then bigrams, TextAnalysisSpec-pinned) and
    // decimal_occ_fold replays the identical per-step cast/add/round
    // arithmetic as ONE compiled evaluation per row — the same kernel
    // treatment the batch classifier got in r15 (guide §4: kill
    // interpreted expressions in the hot path). Bit-equality pinned in
    // TextAnalysisSpec.
    docs
      .select(col(idCol), toksC.as("__t"))
      .where(size(col("__t")) > 0)
      .select(col(idCol),
        graft.functions.VectorKernels.decimalOccFold(
          TF.fnvFeatureBuckets(col("__t"), buckets.toLong),
          lit(1.0) / (size(col("__t")).cast("double") * 2 - 1),
          weights).as("__m"))
      .select(col(idCol),
        round(lit(0.5) + lit(0.5) * col("__m") / (lit(1.0) + abs(col("__m"))), 6)
          .as("quality_score"))
  }

  /** DuckDB replication of [[qualityClassifierScores]]: the identical
    * FNV+splitmix bucketing (distinct features hash once), then the
    * SAME `iters` gradient steps replayed as chained materialized CTEs —
    * decimal margin/gradient sums, the algebraic sigmoid, the identical
    * weight-update expression — and the same 6-dp final round. The
    * oracle retrains from scratch, so it checks the training loop, not
    * just the scoring pass. */
  def qualityClassifierOracleSql(targetPred: String, buckets: Int = 64,
                                 iters: Int = 8, lr: Double = 4.0,
                                 l2: Double = 0.0009765625,
                                 docsSql: String = "SELECT * FROM documents"): String = {
    val steps = (1 to iters).map { k =>
      s"""m$k AS MATERIALIZED (SELECT f.doc_id, f.y,
         |  CAST(SUM(CAST(w.w * f.v AS DECIMAL(38,30))) AS DOUBLE) AS m
         |  FROM feat f JOIN w${k - 1} w USING (b) GROUP BY f.doc_id, f.y),
         |e$k AS MATERIALIZED (SELECT doc_id,
         |  0.5 + 0.5 * m / (1 + abs(m)) - y AS err FROM m$k),
         |g$k AS MATERIALIZED (SELECT f.b,
         |  CAST(SUM(CAST(e.err * f.v AS DECIMAL(38,30))) AS DOUBLE) AS g
         |  FROM feat f JOIN e$k e USING (doc_id) GROUP BY f.b),
         |w$k AS MATERIALIZED (SELECT w.b,
         |  w.w - CAST($lr AS DOUBLE) * (coalesce(g.g, CAST(0 AS DOUBLE)) / (SELECT n FROM nd)
         |    + CAST($l2 AS DOUBLE) * w.w) AS w
         |  FROM w${k - 1} w LEFT JOIN g$k g USING (b))""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id,
       |    CAST(CASE WHEN ($targetPred) THEN 1 ELSE 0 END AS DOUBLE) AS y,
       |    regexp_split_to_array(TRIM(text), '\\s+') AS t
       |  FROM ($docsSql) WHERE LEN(TRIM(text)) > 0),
       |f0 AS (SELECT doc_id, y, CAST(1 AS DOUBLE) / (2 * LEN(t) - 1) AS invn,
       |    unnest(t || list_transform(generate_series(1, LEN(t) - 1),
       |      i -> t[i] || ' ' || t[i + 1])) AS k
       |  FROM d),
       |uk AS (SELECT DISTINCT k FROM f0),
       |${foldMixSql("uk", "ukh")},
       |hb AS (SELECT k, ((${toSignedSql("hm")} % $buckets) + $buckets) % $buckets AS b
       |  FROM ukh),
       |feat0 AS (SELECT f.doc_id, f.y, f.invn, h.b
       |  FROM f0 f JOIN hb h USING (k)),
       |feat AS MATERIALIZED (SELECT doc_id, y, b, COUNT(*) * invn AS v
       |  FROM feat0 GROUP BY doc_id, y, b, invn),
       |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM feat),
       |w0 AS (SELECT CAST(unnest(generate_series(0, ${buckets - 1})) AS BIGINT) AS b,
       |  CAST(0 AS DOUBLE) AS w),
       |$steps,
       |ms AS (SELECT f.doc_id,
       |  CAST(SUM(CAST(w.w * f.v AS DECIMAL(38,30))) AS DOUBLE) AS m
       |  FROM feat f JOIN w$iters w USING (b) GROUP BY f.doc_id)
       |SELECT doc_id, round(0.5 + 0.5 * m / (1 + abs(m)), 6) AS quality_score
       |FROM ms""".stripMargin
  }

  /** DuckDB replication of [[extractHtmlText]] over `htmlSql` (a query
    * yielding (doc_id, html)): the identical regex chain — RE2 and
    * java.util.regex agree on every construct used (inline (?is) flags,
    * non-greedy spans, character classes) — with list lambdas standing
    * in for the Spark HOFs. */
  def extractHtmlOracleSql(htmlSql: String, minChars: Int = 10,
                           linkNum: Int = 1, linkDen: Int = 2): String = {
    val un = HtmlEntities.foldLeft("x") { case (a, (f, t)) =>
      val tq = t.replace("'", "''")
      s"replace($a, '$f', '$tq')"
    }
    def normS(inner: String): String =
      s"TRIM(regexp_replace(${un.replace("x",
        s"regexp_replace($inner, '<[^>]*>', ' ', 'g')")}, '\\s+', ' ', 'g'))"
    s"""WITH src AS ($htmlSql),
       |c1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
       |         coalesce(html, ''),
       |         '(?is)<script(>|\\s[^>]*>).*?</script>', ' ', 'g'),
       |         '(?is)<style(>|\\s[^>]*>).*?</style>', ' ', 'g'),
       |         '(?s)<!--.*?-->', ' ', 'g') AS c FROM src),
       |b AS (SELECT doc_id, string_split(regexp_replace(c,
       |        '(?is)</?($HtmlBlockTags)(>|\\s[^>]*>)', chr(10), 'g'), chr(10)) AS bs
       |      FROM c1),
       |p AS (SELECT doc_id, list_transform(bs, x -> {
       |        't': ${normS("x")},
       |        'l': length(${normS(
                  // coalesce: DuckDB's array_to_string([]) is NULL where
                  // Spark's concat_ws over an empty array is ''
                  "coalesce(array_to_string(regexp_extract_all(x, '(?is)<a(>|\\s[^>]*>).*?</a>'), ' '), '')")})
       |      }) AS ps FROM b),
       |q AS (SELECT doc_id, list_filter(ps, s -> length(s.t) > 0) AS ne FROM p),
       |r AS (SELECT doc_id, ne, list_filter(ne, s ->
       |        length(s.t) >= $minChars AND s.l * $linkDen <= length(s.t) * $linkNum) AS kept
       |      FROM q)
       |SELECT doc_id,
       |  array_to_string(list_transform(kept, s -> s.t), chr(10)) AS extracted_text,
       |  CAST(len(kept) AS BIGINT) AS n_kept,
       |  CAST(len(ne) - len(kept) AS BIGINT) AS n_dropped
       |FROM r""".stripMargin
  }
}
