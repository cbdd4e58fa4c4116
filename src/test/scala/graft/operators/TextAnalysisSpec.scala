package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("sketched length quantiles match exact at small n (rank error < 1)") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.get(3).toString.toDouble, r.get(4).toString.toDouble,
        r.get(5).toString.toDouble)).toMap
    val exact = m(TextAnalysis.lengthDistribution(docs))
    val approx = m(TextAnalysis.lengthDistributionApprox(docs))
    // at n ≤ 500 and accuracy 10000 the GK rank error is below one rank:
    // every sketch answer must be the exact discrete quantile
    assert(approx == exact, s"sketch drifted:\n$approx\nvs\n$exact")
  }

  test("pii scrub redacts emails, ips, and long digit runs with counts") {
    val docs = Seq(
      (1L, "contact bob@example.com or 10.0.0.1 now"),
      (2L, "call 5551234567 twice: 5551234567"),
      (3L, "clean text, short 123 stays")).toDF("doc_id", "text")
    val r = rows(TextAnalysis.piiScrub(docs))
    assert(r.contains(Seq(1L, "contact [EMAIL] or [IP] now", 1, 1)))
    assert(r.contains(Seq(2L, "call [PHONE] twice: [PHONE]", 0, 0)))
    assert(r.contains(Seq(3L, "clean text, short 123 stays", 0, 0)))
  }

  test("chunking covers the document with the configured stride") {
    val docs = Seq((1L, "a" * 450), (2L, "b" * 10), (3L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.chunk(docs, size = 200, overlap = 50)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    // doc 1: stride 150 → chunks at 0,150,300 (ceil((450-50)/150)=3)
    val d1 = r.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(d1(0)._3.length == 200 && d1(2)._3.length == 150)
    // overlap: chunk 1 starts at 150 < 200 = end of chunk 0
    // doc 2 shorter than one stride → single chunk, full text
    assert(r.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "b" * 10)))
    // empty doc → no chunks
    assert(!r.exists(_._1 == 3L))
    // reassembly: concatenating chunk starts covers every position
    assert(d1.map(_._3).mkString.length == 200 + 200 + 150)
  }

  test("fingerprints give token-less docs simhash 0, matching the oracle's COALESCE") {
    val docs = Seq((1L, "hello world"), (2L, "   "), (3L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.fingerprints(docs)
      .collect().map(x => x.getLong(0) -> (x.get(1), x.get(2))).toMap
    assert(r(2L)._1 == 0L && r(3L)._1 == 0L, "whitespace-only docs must simhash to 0")
    assert(r.values.forall(_._2 != null), "every doc gets a fingerprint")
    assert(r(1L)._1 != 0L)
  }

  test("tf-idf ranks distinctive terms above corpus-wide ones") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // "the" appears in every doc (idf = ln(1) = 0); each doc's unique
    // term must outrank it despite lower tf
    val docs = Seq(
      (1L, "the the the apple"), (2L, "the banana"), (3L, "the cherry")).toDF("doc_id", "text")
    val top = TextAnalysis.tfIdfTopTerms(docs, k = 1)
      .select(col("doc_id"), col("term")).as[(Long, String)].collect().toMap
    assert(top == Map(1L -> "apple", 2L -> "banana", 3L -> "cherry"))
    // k bounds the per-doc output and ranks are 1-based dense
    val k2 = TextAnalysis.tfIdfTopTerms(docs, k = 2)
      .select(col("doc_id"), col("rank")).as[(Long, Int)].collect()
    assert(k2.groupBy(_._1).forall { case (_, rs) => rs.map(_._2).sorted.toSeq == Seq(1, 2) })
    // plan shape: the vocabulary-sized docfreq table broadcasts back —
    // no shuffle join keyed on terms anywhere in the plan
    val plan = TextAnalysis.tfIdfTopTerms(docs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "docfreq join should broadcast")
    assert(!plan.contains("SortMergeJoin"), "no term-keyed shuffle join expected")
  }

  test("boilerplate flags shingles shared across documents") {
    val shared = "alpha beta gamma delta epsilon" // one 5-shingle, in 2 docs
    val docs = Seq(
      (1L, shared + " zeta"),        // 2 shingles, 1 boilerplate
      (2L, shared),                  // 1 shingle, boilerplate
      (3L, "unique words only here now and then"), // 3 shingles, none shared
      (4L, "too short"),             // < 5 tokens → 0 shingles
      (5L, "")).toDF("doc_id", "text")
    val r = rows(TextAnalysis.boilerplate(docs, n = 5, minDf = 2))
    assert(r.contains(Seq(1L, 2L, 1L, 0.5)))
    assert(r.contains(Seq(2L, 1L, 1L, 1.0)))
    assert(r.contains(Seq(3L, 3L, 0L, 0.0)))
    assert(r.contains(Seq(4L, 0L, 0L, 0.0)))
    assert(r.contains(Seq(5L, 0L, 0L, 0.0)))
    // the docfreq join-back must broadcast, never shuffle the positions
    val plan = TextAnalysis.boilerplate(docs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "boilerplate set should broadcast")
  }

  test("length distribution: exact discrete quantiles per group") {
    val docs = (1 to 10).map(i => (i.toLong, ("w " * i).trim, "en")) ++
      Seq((11L, "a b c", "de"))
    val df = docs.toDF("doc_id", "text", "lang")
    val r = TextAnalysis.lengthDistribution(df)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    // en: tok = 1..10 → p50 = smallest v with cume_dist >= .5 = 5;
    // p90 = 9; p99 = 10; total = 55
    assert(r("en") == ((10L, 55L, 5L, 9L, 10L)))
    assert(r("de") == ((1L, 3L, 3L, 3L, 3L)))
  }

  test("vocabulary: exact distinct tokens per group; sketch tracks exact") {
    val docs = Seq(
      (1L, "a b c a", "en"), (2L, "c d", "en"), (3L, "x y", "de"),
      (4L, "", "de")).toDF("doc_id", "text", "lang")
    val exact = TextAnalysis.vocabulary(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact == Map("en" -> 4L, "de" -> 2L)) // {a b c d}, {x y}
    val approx = TextAnalysis.vocabularyApprox(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // tiny cardinalities: HLL++ with rsd .01 is exact in practice
    assert(approx == exact)
  }

  test("vocabulary sketch stays within tolerance of exact on the corpus") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists)
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val exact = TextAnalysis.vocabulary(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = TextAnalysis.vocabularyApprox(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (lang, n) =>
      val err = math.abs(approx(lang) - n).toDouble / math.max(1L, n)
      assert(err <= 0.05, s"$lang: exact=$n approx=${approx(lang)} err=$err")
    }
  }

  test("unigram LM scores typical docs above rare-token docs") {
    val docs = Seq(
      (1L, "the the the the"),   // most frequent token → highest logprob
      (2L, "the the rare1 rare2"),
      (3L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.unigramLogProb(docs)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    // p(the)=6/8, p(rare)=1/8; doc1 = ln(0.75), doc2 = (2 ln .75 + 2 ln .125)/4
    val d1 = math.log(6.0 / 8)
    val d2 = (2 * math.log(6.0 / 8) + 2 * math.log(1.0 / 8)) / 4
    assert(r(1L)._1 == 4L && math.abs(r(1L)._2 - d1) < 1e-5)
    assert(r(2L)._1 == 4L && math.abs(r(2L)._2 - d2) < 1e-5)
    assert(!r.contains(3L), "empty docs have no positions to average")
    assert(r(1L)._2 > r(2L)._2)
  }

  test("distribution drift: zero for identical slices, larger for disjoint vocab, JS <= ln 2") {
    val a = Seq((1L, "alpha beta gamma alpha"), (2L, "beta gamma")).toDF("doc_id", "text")
    val same = TextAnalysis.distributionDrift(a, a).head()
    assert(same.getDouble(1) == 0.0 && same.getDouble(2) == 0.0 && same.getDouble(3) == 0.0)
    val b = Seq((3L, "delta epsilon zeta delta"), (4L, "epsilon zeta")).toDF("doc_id", "text")
    val diff = TextAnalysis.distributionDrift(a, b).head()
    assert(diff.getLong(0) == 6L) // union vocabulary
    assert(diff.getDouble(1) > 0.1 && diff.getDouble(2) > 0.1)
    assert(diff.getDouble(3) > same.getDouble(3) &&
      diff.getDouble(3) <= math.log(2.0) + 1e-9)
  }

  test("blocklist screen counts distinct blocked terms; null/empty text passes") {
    val docs = Seq(
      (1L, "clean words only here"),
      (2L, "bad bad words and worse stuff"), // 'bad' repeats: counts once
      (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val r = TextAnalysis.blocklistScreen(docs, Seq("bad", "worse"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r(1L) == ((0L, true)))
    assert(r(2L) == ((2L, false)))
    assert(r(3L) == ((0L, true)) && r(4L) == ((0L, true)))
  }

  test("winnowing: shared passage => shared fingerprint; boilerplate df cap excludes ubiquitous grams") {
    val passage = "unique shared passage fragment zq"
    val docs = Seq(
      (1L, s"first document body $passage tail one"),
      (2L, s"totally different opening here $passage other ending"),
      (3L, "nothing in common with the others xyzzy"),
      (4L, "tiny")).toDF("doc_id", "text")
    val fp = TextAnalysis.winnow(docs, k = 8, w = 4)
    val byDoc = fp.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the >= w+k-1 = 11-char shared passage guarantees a shared selection
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared passage missed")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "false sharing with disjoint doc")
    assert(!byDoc.contains(4L), "docs shorter than k emit nothing")
    val pairs = TextAnalysis.winnowPairs(docs, k = 8, w = 4, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // a fingerprint present in MORE than maxDf docs is boilerplate: with
    // maxDf = 1 every shared fingerprint is excluded and no pair remains
    assert(TextAnalysis.winnowPairs(docs, k = 8, w = 4, minShared = 1L,
      maxDf = 1L).count() == 0)
  }

  test("bigram LM is word-order sensitive; short docs drop") {
    // two fluent docs establish "big data" / "data works" as the common
    // transitions; doc 3 uses the SAME unigrams in scrambled order
    val docs = Seq(
      (1L, "big data works big data works"),
      (2L, "big data works"),
      (3L, "data big works"), // same unigram profile as doc 2
      (4L, "solo"),           // one token: no pairs → dropped
      (5L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLogProb(docs)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(2L)._1 == 2L) // two adjacent pairs
    assert(r(2L)._2 > r(3L)._2,
      s"scrambled word order must score lower: ${r(2L)} vs ${r(3L)}")
    assert(!r.contains(4L) && !r.contains(5L))
    // hand-check: c(big data)=c(data works)=3, c(big)=c(data)=4, V=4 →
    // both of doc 2's pairs are ln((3+1)/(4+4)) = ln 0.5
    val expect2 = math.log(0.5)
    assert(math.abs(r(2L)._2 - expect2) < 1e-5, s"${r(2L)._2} vs $expect2")
    // doc 3's scrambled pairs are both (1+1)/(4+4) → ln 0.25
    assert(math.abs(r(3L)._2 - math.log(0.25)) < 1e-5)
  }

  test("html extraction strips chrome, drops link-dense blocks, keeps body byte-for-byte") {
    val page =
      "<html><head><title>My Site</title><script>if (a < b) { x(); }</script>" +
        "<style>p { margin: 0; }</style></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/docs\">Documentation</a> " +
        "<a href=\"/blog\">Blog</a></nav>" +
        "<!-- header ends -->" +
        "<div id=\"content\"><p>The quick brown fox &amp; the lazy dog met at " +
        "<a href=\"/park\">the park</a> yesterday evening.</p>" +
        "<p>A second paragraph with enough prose to clear the length bar easily.</p></div>" +
        "<div class=\"related\"><a href=\"/a\">Related one</a> <a href=\"/b\">Related two</a> " +
        "<a href=\"/c\">Related three</a></div>" +
        "<footer><a href=\"/privacy\">Privacy</a> &#39;and&#39; <a href=\"/terms\">Terms</a></footer>" +
        "</body></html>"
    val out = TextAnalysis.extractHtmlText(Seq((1L, page)).toDF("doc_id", "html")).collect()(0)
    val text = out.getAs[String]("extracted_text")
    assert(text ==
      "The quick brown fox & the lazy dog met at the park yesterday evening.\n" +
        "A second paragraph with enough prose to clear the length bar easily.",
      s"got: $text")
    // dropped: title (short), nav (all links), related rail (all links),
    // footer (mostly links) -- script/style/comment vanish pre-blocking
    assert(out.getAs[Long]("n_kept") == 2L)
    assert(out.getAs[Long]("n_dropped") == 4L)
    // plain text with no markup at all passes through normalized
    val plain = TextAnalysis.extractHtmlText(
      Seq((1L, "  just   some plain words here  ")).toDF("doc_id", "html")).collect()(0)
    assert(plain.getAs[String]("extracted_text") == "just some plain words here")
    // null html behaves as empty
    val nul = TextAnalysis.extractHtmlText(
      Seq((1L, null: String)).toDF("doc_id", "html")).collect()(0)
    assert(nul.getAs[String]("extracted_text") == "" && nul.getAs[Long]("n_kept") == 0L)
  }


  test("trained quality classifier separates target-like from junk docs deterministically") {
    val clean = Vector("the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
      "and", "runs", "through", "green", "fields", "every", "morning")
    val junk = Vector("xjq", "zzk", "qqv", "wxp", "kkz", "jjx", "vvq", "ppw",
      "74a", "b#c", "k9k", "x0x", "m!m", "n2n", "zz9")
    val rnd = new scala.util.Random(7)
    def doc(v: Vector[String], n: Int) = Seq.fill(n)(v(rnd.nextInt(v.size))).mkString(" ")
    val docs = ((1 to 30).map(i => (i.toLong, doc(clean, 12))) ++
      (31 to 60).map(i => (i.toLong, doc(junk, 12)))).toDF("doc_id", "text")
    val scores = TextAnalysis.qualityClassifierScores(docs, col("doc_id") <= 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cleanAvg = (1 to 30).map(i => scores(i.toLong)).sum / 30
    val junkAvg = (31 to 60).map(i => scores(i.toLong)).sum / 30
    assert(cleanAvg > junkAvg + 0.1,
      s"no separation: clean avg $cleanAvg vs junk avg $junkAvg")
    assert(scores.values.forall(s => s >= 0.0 && s <= 1.0))
    // deterministic across partitionings (the oracle contract)
    val again = TextAnalysis.qualityClassifierScores(docs.repartition(7), col("doc_id") <= 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == scores, "repartitioning changed trained scores")
  }


  test("ngram LM backoff scores match hand computation and fire every chain level") {
    // train "a b c d e": N=5 tokens, V=5; score "a b z c d" walks every
    // backoff shape: smoothed-unigram base, full k=2 hit, OOV floor,
    // seen-unigram floor, and a 3-level backoff into a seen bigram
    val train = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val sc = Seq((2L, "a b z c d")).toDF("doc_id", "text")
    val r = TextAnalysis.ngramLogProb(train, sc, n = 5).collect()(0)
    val d = math.log(0.4)
    val expected = BigDecimal((
      math.log(2.0 / 10) +                    // "a": kmax=1, c1=1 -> (1+1)/(5+5)
      0.0 +                                   // "b": "a b" seen, 1/1
      (2 * d + math.log(1.0 / 10)) +          // "z": OOV, kmax=3
      (3 * d + math.log(2.0 / 10)) +          // "c": only unigram, kmax=4
      (3 * d + math.log(1.0 / 1))             // "d": backs off to "c d", kmax=5
    ) / 5).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n_scored") == 5L)
    assert(r.getAs[Double]("avg_logprob") == expected,
      s"got ${r.getAs[Double]("avg_logprob")}, want $expected")
    // scoring the training corpus itself never backs off below its max
    // order and is deterministic across partitionings
    val self = TextAnalysis.ngramLogProb(train.repartition(3), train, n = 3).collect()(0)
    assert(self.getAs[Long]("n_scored") == 5L)
  }


  test("frequentTokens is exact under heavy MG eviction and in fallback") {
    val rnd = new scala.util.Random(11)
    // 400 docs over a 300-word vocabulary with a few planted heavy
    // hitters; width 16 << vocabulary forces constant evictions
    val docs = (1 to 400).map { i =>
      val noise = Seq.fill(8)("w" + rnd.nextInt(300))
      val heavy = if (i % 2 == 0) Seq("alpha", "beta") else Seq("alpha")
      (i.toLong, (noise ++ heavy).mkString(" "))
    }.toDF("doc_id", "text")
    def exact(min: Long) = docs
      .select(explode(split(trim($"text"), "\\s+")).as("t"))
      .groupBy("t").count().where($"count" >= min)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def mg(min: Long, w: Int) = TextAnalysis.frequentTokens(docs, min, w)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // guarantee holds: N = 400*9.5 = 3800 < min*width = 200*32
    assert(mg(200, 32) == exact(200))
    // guarantee void (min*width <= N) -> exact fallback path
    assert(mg(2, 16) == exact(2))
    // repartitioning cannot change the exact answer
    val re = TextAnalysis.frequentTokens(docs.repartition(13), 200, 32)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(re == exact(200))
  }


  test("ngram LM differential fuzz vs an independent implementation") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 2 + trial // 3, 4, 5
      val vocab = (0 until 12).map(i => s"t$i")
      def doc(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val train = (1 to 15).map(i => (i.toLong, doc(4 + rnd.nextInt(8))))
      val score = (100 to 110).map(i => (i.toLong, doc(3 + rnd.nextInt(9))))
      // independent reference: count maps + per-position longest match
      val grams = scala.collection.mutable.Map.empty[(Int, Seq[String]), Long]
      train.foreach { case (_, t) =>
        val w = t.split(" ").toSeq
        for (i <- 1 to w.length; k <- 1 to math.min(n, i))
          grams((k, w.slice(i - k, i))) =
            grams.getOrElse((k, w.slice(i - k, i)), 0L) + 1L
      }
      val nTot = grams.collect { case ((1, _), c) => c }.sum.toDouble
      val v = grams.keys.count(_._1 == 1).toDouble
      val lnA = math.log(0.4)
      val expected = score.map { case (id, t) =>
        val w = t.split(" ").toSeq
        val lps = (1 to w.length).map { i =>
          val kmax = math.min(n, i)
          val hit = (kmax to 2 by -1).find(k => grams.contains((k, w.slice(i - k, i))))
          hit match {
            case Some(k) =>
              val ck = grams((k, w.slice(i - k, i))).toDouble
              val cx = grams((k - 1, w.slice(i - k, i - 1))).toDouble
              (kmax - k) * lnA + math.log(ck / cx)
            case None =>
              val c1 = grams.getOrElse((1, w.slice(i - 1, i)), 0L).toDouble
              (kmax - 1) * lnA + math.log((c1 + 1) / (nTot + v))
          }
        }
        id -> lps.sum / lps.length
      }.toMap
      val got = TextAnalysis.ngramLogProb(
        train.toDF("doc_id", "text"), score.toDF("doc_id", "text"), n)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got.keySet == expected.keySet, s"n=$n ids differ")
      got.foreach { case (id, lp) =>
        assert(math.abs(lp - expected(id)) < 2e-6,
          s"n=$n doc $id: spark $lp vs reference ${expected(id)}")
      }
    }
  }


  test("decimalMarginFold kernel equals the interpreted decimal HOF fold bit-for-bit") {
    // the r15 compiled margin kernel must reproduce the r14 per-element
    // `aggregate(..., (acc + (w(b)·v)::decimal(38,30))::decimal(38,30))`
    // fold EXACTLY — randomized (b, v) feature lists incl. negatives,
    // tiny magnitudes (sub-1e-30 rounding at scale 30) and zeros
    val rng = new scala.util.Random(20260817L)
    val buckets = 64
    val w = Array.tabulate(buckets)(i => (rng.nextDouble() - 0.5) * math.pow(10.0, (i % 7) - 3))
    val rows = (0 until 200).map { id =>
      val n = 1 + rng.nextInt(80)
      val fs = (0 until n).map { _ =>
        (rng.nextInt(buckets).toLong,
          (rng.nextDouble() - 0.5) * math.pow(10.0, rng.nextInt(40) - 35))
      }
      (id.toLong, fs)
    }
    val df = rows.toDF("id", "fs")
    val wLit = typedLit(w.toSeq)
    val hof = aggregate(col("fs"), lit(0).cast("decimal(38,30)"),
      (acc, s) => (acc +
        (element_at(wLit, s("_1").cast("int") + 1) * s("_2")).cast("decimal(38,30)"))
        .cast("decimal(38,30)"))
      .cast("double")
    val kern = graft.functions.VectorKernels.decimalMarginFold(col("fs"), w)
    val got = df.select(col("id"), hof.as("h"), kern.as("k")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"id ${r.getLong(0)}: HOF ${r.getDouble(1)} != kernel ${r.getDouble(2)}")
    }
  }

  test("fnvFeatureBuckets kernel equals explode(concat(t, shingles))+fnvMix64+pmod") {
    val rng = new scala.util.Random(20260818L)
    val words = Vector("alpha", "b", "γreek", "δ", "committee", "x1", "", "naïve", "zz")
    val docs = (0 until 120).map { id =>
      val n = rng.nextInt(12) // incl. 0- and 1-token docs
      (id.toLong, (0 until n).map(_ => words(rng.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), TF.tokens(col("text")).as("t"))
    def counts(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.groupBy("doc_id", "b").count().collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val old = counts(base.select(col("doc_id"),
      explode(concat(col("t"), TF.wordShinglesOf(col("t"), 2))).as("f"))
      .select(col("doc_id"), pmod(TF.fnvMix64(col("f")), lit(64L)).as("b")))
    val kern = counts(base.select(col("doc_id"),
      explode(TF.fnvFeatureBuckets(col("t"), 64L)).as("b")))
    assert(old == kern, "kernel bucket multiset diverged from the HOF chain")
  }

  test("fnvFeatureBuckets emits the exact concat(t, shingles) SEQUENCE, not just the multiset") {
    // r16: scoreQualityWith folds the buckets through a per-step
    // scale-29-rounding decimal chain, which is ORDER-sensitive — the
    // kernel must emit unigram buckets in token order then bigram
    // buckets in order, exactly as explode(concat(t, shingles)) did
    val rng = new scala.util.Random(20260818L)
    val words = Vector("alpha", "b", "γreek", "δ", "committee", "x1", "naïve", "zz")
    val docs = (0 until 80).map { id =>
      val n = rng.nextInt(10)
      (id.toLong, (0 until n).map(_ => words(rng.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), TF.tokens(col("text")).as("t"))
    val got = base.select(col("doc_id"),
      TF.fnvFeatureBuckets(col("t"), 64L).as("ks"),
      transform(concat(col("t"), TF.wordShinglesOf(col("t"), 2)),
        f => pmod(TF.fnvMix64(f), lit(64L))).as("ref")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"doc ${r.getLong(0)}: bucket sequence diverged")
    }
  }

  test("scoreQualityWith kernel path equals the interpreted HOF scorer bit-for-bit") {
    // r16: the streaming scorer's per-occurrence decimal fold runs as
    // the compiled decimal_occ_fold kernel over the one-pass bucket
    // array; scores must match the replaced expression chain exactly
    val rng = new scala.util.Random(20260819L)
    val words = Vector("alpha", "b", "γreek", "δ", "committee", "x1", "naïve",
      "zz", "the", "of")
    val docs = (0 until 150).map { id =>
      val n = rng.nextInt(25) // incl. empty and 1-token docs
      (id.toLong, (0 until n).map(_ => words(rng.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val buckets = 64
    val w = Array.tabulate(buckets)(i =>
      (rng.nextDouble() - 0.5) * math.pow(10.0, (i % 7) - 3))
    // the replaced implementation, verbatim
    val wLit = typedLit(w.toSeq)
    val ref = docs
      .select(col("doc_id"), TF.tokens(col("text")).as("__t"))
      .where(size(col("__t")) > 0)
      .select(col("doc_id"),
        (lit(1.0) / (size(col("__t")).cast("double") * 2 - 1)).as("__invn"),
        concat(col("__t"), TF.wordShinglesOf(col("__t"), 2)).as("__f"))
      .select(col("doc_id"),
        aggregate(col("__f"), lit(0).cast("decimal(38,30)"),
          (acc, f) => (acc + (element_at(wLit,
            pmod(TF.fnvMix64(f), lit(buckets.toLong)).cast("int") + 1) * col("__invn"))
            .cast("decimal(38,30)")).cast("decimal(38,30)"))
          .cast("double").as("__m"))
      .select(col("doc_id"),
        round(lit(0.5) + lit(0.5) * col("__m") / (lit(1.0) + abs(col("__m"))), 6)
          .as("quality_score"))
      .collect().map(r => r.getLong(0) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    val got = TextAnalysis.scoreQualityWith(docs, w)
      .collect().map(r => r.getLong(0) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    assert(got == ref, s"scorer diverged: missing=${ref.keySet -- got.keySet} " +
      s"extra=${got.keySet -- ref.keySet} " +
      s"diff=${ref.keys.filter(k => got.get(k) != ref.get(k)).take(5)}")
  }

  test("driver-local GD replay equals the distributed training loop bit-for-bit") {
    // r16: below LocalTrainDocs the gradient-descent loop replays on
    // the driver; weights AND final scores must match the distributed
    // iteration exactly (doubleToRawLongBits)
    val rng = new scala.util.Random(20260820L)
    val words = Vector("alpha", "beta", "γreek", "δelta", "committee", "x1",
      "naïve", "zz", "the", "of", "and", "data")
    val docs = (0 until 300).map { id =>
      val n = 1 + rng.nextInt(30)
      (id.toLong, if (id % 3 == 0) "en" else "fr",
        (0 until n).map(_ => words(rng.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "lang", "text").localCheckpoint(true)
    val (wLocal, sLocal) = TextAnalysis.qualityClassifierTrain(
      docs, col("lang") === "en")
    val (wDist, sDist) = TextAnalysis.qualityClassifierTrain(
      docs, col("lang") === "en", localTrainDocs = 0L)
    assert(wLocal.length == wDist.length)
    wLocal.indices.foreach { b =>
      assert(java.lang.Double.doubleToRawLongBits(wLocal(b)) ==
        java.lang.Double.doubleToRawLongBits(wDist(b)),
        s"weight $b: local ${wLocal(b)} != distributed ${wDist(b)}")
    }
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    assert(scores(sLocal) == scores(sDist), "scores diverged")
  }

  test("GD replay and the distributed loop agree on NaN and overflowing gradient terms") {
    // a numeric target column feeds y straight into err = σ̃(m) − y: y = NaN
    // makes every gradient term NaN, y = 1e9 makes a term overflow
    // decimal(38,30). Cast semantics decide the distributed Sum's
    // behaviour: ANSI (the session default) raises; non-ANSI would skip
    // the term, which the replay does not do. Under the session's real
    // setting both paths raise.
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    Seq(Double.NaN, 1e9).foreach { bad =>
      val docs = Seq((1L, 1.0, "alpha beta"), (2L, 0.0, "gamma"), (3L, bad, "delta"))
        .toDF("doc_id", "y", "text")
      def train(localTrainDocs: Long) = scala.util.Try(TextAnalysis.qualityClassifierTrain(
        docs, col("y"), localTrainDocs = localTrainDocs)._1.map(java.lang.Double.doubleToRawLongBits).toSeq)
      val (local, dist) = (train(TextAnalysis.LocalTrainDocs), train(0L))
      assert(dist.isFailure && local.isFailure,
        s"y = $bad, spark.sql.ansi.enabled = $ansi: local $local, distributed $dist")
    }
  }

  /** Gopher repetition written from its definition, one document at a
    * time: normalize (space-only trim, `\s+` → one space, lower case),
    * tokenize the trimmed normalized text, give token p the 1-based
    * start Σ_{j<p}(len_j + 1) + 1 with lengths in code points, then the
    * most frequent n-gram (count DESC, first start ASC) and the union of
    * recurring `dupN`-gram intervals (an island breaks when a start
    * exceeds the running max end + 1). */
  private def gopherReference(text: String, topNs: Seq[Int], dupN: Int): Seq[Double] = {
    def spaceTrim(s: String) = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    def round6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    if (text == null) return Seq.fill(topNs.size + 1)(0.0)
    val nt = spaceTrim(text).replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT)
    val total = nt.codePointCount(0, nt.length).toLong
    val tk = if (spaceTrim(nt).isEmpty) Vector.empty[String]
             else spaceTrim(nt).split("\\s+", -1).toVector
    val lens = tk.map(t => t.codePointCount(0, t.length).toLong)
    val starts = lens.scanLeft(1L)(_ + _ + 1L)
    def grams(n: Int) = (0 to tk.length - n).map { p =>
      (tk.slice(p, p + n), starts(p), starts(p + n - 1) + lens(p + n - 1) - 1L)
    }
    val tops = topNs.map { n =>
      val gs = grams(n)
      if (gs.isEmpty) 0.0
      else {
        val (_, occ) = gs.groupBy(_._1).toSeq
          .minBy { case (_, o) => (-o.size, o.map(_._2).min) }
        round6((occ.size * (occ.head._3 - occ.head._2 + 1L)).toDouble / total.toDouble)
      }
    }
    val rep = grams(dupN).groupBy(_._1).values.filter(_.size >= 2).flatten.toSeq.sortBy(_._2)
    val cover = rep.foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (_, st, en)) if st <= e + 1L => (s, math.max(e, en)) :: rest
      case (acc, (_, st, en)) => (st, en) :: acc
    }.map { case (s, e) => e - s + 1L }.sum
    tops :+ (if (rep.isEmpty) 0.0 else round6(cover.toDouble / total.toDouble))
  }

  test("gopher repetition equals a per-document reference on adversarial text") {
    val fixed = Seq(
      null, "", "   ", "\t", "\tthe cat the cat", "  lead and trail  ",
      "one", "two words", "a b c",
      // top-gram ties go to the first occurrence
      "x y z q x y w z q", "b a a b c c d d",
      // overlapping and back-to-back repeated 5-grams
      "a a a a a a a a a a a a", "p q r s t p q r s t p q r s t",
      "p q r s t u p q r s t u v p q r s t",
      // supplementary-plane characters (two UTF-16 units, one code point)
      "𝔘 𝔘 x 𝔘 𝔘 x 𝔘 𝔘",
      "The Cat the CAT tHe cat THE cat the cat",
      "mixed\t\twhite\n space \r\n mixed white space mixed white space")
    val rng = new scala.util.Random(20261017L)
    val words = Vector("the", "The", "cat", "CAT", "a", "𝔘x", "naïve", "zz")
    val seps = Vector(" ", " ", " ", "  ", "\t", "\n")
    val random = (0 until 200).map { _ =>
      val n = rng.nextInt(40)
      val lead = if (rng.nextInt(4) == 0) seps(rng.nextInt(seps.length)) else ""
      lead + (0 until n).map(_ => words(rng.nextInt(words.length)))
        .map(_ + seps(rng.nextInt(seps.length))).mkString
    }
    val texts = fixed ++ random
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.gopherRepetition(docs).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getDouble)).toMap
    assert(got.size == texts.size)
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = gopherReference(t, Seq(2, 3, 4), 5)
      assert(got(i.toLong).map(java.lang.Double.doubleToRawLongBits) ==
        want.map(java.lang.Double.doubleToRawLongBits),
        s"doc $i ${Option(t).map(_.take(60))}: got ${got(i.toLong)} want $want")
    }
    // spot values: the tab survives the space-only trim, so `total`
    // counts a leading space (2 × "the cat" = 14 of 16 characters)
    assert(got(4L) == Seq(0.875, 0.6875, 0.9375, 0.0))
  }

  test("gopher repetition scores rows that share an id one by one") {
    val texts = Seq("a b a b", "c d c d e", "p q r s t p q r s t")
    val docs = texts.map(t => (7L, t)).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRepetition(docs).collect()
      .map(r => (r.getLong(0), (1 to 4).map(r.getDouble))).toSeq.sortBy(_._2.head)
    assert(got.map(_._1) == Seq(7L, 7L, 7L))
    assert(got.map(_._2).toSet == texts.map(gopherReference(_, Seq(2, 3, 4), 5)).toSet)
    assert(got.map(_._2) == Seq(
      Seq(0.315789, 0.526316, 0.736842, 0.947368),
      Seq(0.666667, 0.555556, 0.777778, 0.0),
      Seq(0.857143, 0.714286, 1.0, 0.0)))
  }

  test("classifier trains null-predicate rows as negatives (the oracle's labeling)") {
    val docs = Seq(
      (1L, "en", "clean fluent text with many proper words"),
      (2L, "en", "more clean fluent text with words"),
      (3L, null: String, "junk zz qq vv kk xx"),
      (4L, "fr", "du texte propre en francais avec des mots")
    ).toDF("doc_id", "lang", "text")
    // null lang must behave exactly like an explicit non-target label
    val withNull = TextAnalysis.qualityClassifierScores(docs, col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val explicit = TextAnalysis.qualityClassifierScores(
      docs.withColumn("lang", coalesce(col("lang"), lit("xx"))), col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(withNull == explicit,
      s"null-labeled rows trained differently: $withNull vs $explicit")
  }

}
