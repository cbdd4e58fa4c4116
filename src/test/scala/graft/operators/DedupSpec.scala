package graft.operators

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different content about distributed query engines"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val r = Dedup.exact(docs).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("dup_count"))).toSet
    assert(r.contains((1L, 2L)))   // 1 and 2 merged, representative 1
    assert(r.count(_._2 == 1L) == 3)
    val survivors = rows(Dedup.exactSurvivors(docs).select($"doc_id"))
    assert(survivors == Set(Seq(1L), Seq(3L), Seq(4L), Seq(5L)))
  }

  test("minhash finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minHashPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))  // identical → est 1.0
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash hamming distance separates near-dups from unrelated") {
    val pairs = Dedup.simHashPairs(docs, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard verifies candidates exactly") {
    val pairs = Dedup.ngramJaccardPairs(docs, shingleN = 2, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((1L, 2L)).contains(1.0)) // identical word bigram sets
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("embedding cosine pairs finds the planted near-duplicate") {
    val base = Array.tabulate(16)(i => math.sin(i * 1.7).toFloat)
    val nearDup = base.clone(); nearDup(0) = nearDup(0) + 0.01f
    val other = Array.tabulate(16)(i => math.cos(i * 3.1 + 1).toFloat)
    val emb = Seq((1L, base.toSeq), (2L, nearDup.toSeq), (3L, other.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(emb, dim = 16, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  // Recall of the LSH-candidate paths vs their exact all-pairs baselines
  // on the driver's own sf0.001 corpus: the candidate stage must find
  // EVERY true pair (this is what licenses the exact-SQL oracles on the
  // bucketed q32/q36 queries — see SparkEntry).
  private lazy val sfDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val sfEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("minhash-candidate ngram jaccard has full recall vs exact all-pairs") {
    val exact = Dedup.ngramJaccardAllPairs(sfDocs, shingleN = 2, threshold = 0.3, capIds = Long.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Dedup.ngramJaccardPairs(sfDocs, shingleN = 2, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh == exact, s"LSH candidates missed ${exact.keySet -- lsh.keySet}")
  }

  test("lsh-bucketed cosine pairs have full recall vs exact all-pairs") {
    // The corpus has no true near-dup embeddings (max pairwise cosine
    // ≈ 0.5, the noise floor — which is exactly what q36's oracle checks),
    // so plant perturbed copies and verify the bucketed path finds every
    // pair the exact baseline finds at the operator's design threshold.
    import org.apache.spark.sql.functions._
    val planted = sfEmb.where(col("vec_id") < 20)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
    val emb = sfEmb.select(col("vec_id"), col("embedding")).union(planted)
    val exact = Dedup.cosineAllPairs(emb, minCosine = 0.95, capIds = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingCosinePairs(emb, dim = 64, minCosine = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 20, s"expected the 20 planted pairs, got ${exact.size}")
    assert(lsh == exact, s"LSH buckets missed ${exact -- lsh}")
  }

  test("semdedup: one cluster equals all-pairs; trained clusters keep high recall") {
    import org.apache.spark.sql.functions._
    val one = Dedup.semanticPairs(sfEmb, Array(Array.fill(64)(0.0)),
      minCosine = 0.3, capIds = 300L)
    val allPairs = Dedup.cosineAllPairs(sfEmb, minCosine = 0.3, capIds = 300L)
    assert(rows(one) == rows(allPairs), "single-cluster semdedup must be exact")
    // trained clusters: every emitted pair is a true pair (precision 1
    // by construction), and recall over the all-pairs truth stays high
    val cents = Similarity.kmeansCentroids(sfEmb, k = 8, iters = 3)
    val scoped = Dedup.semanticPairs(sfEmb, cents, minCosine = 0.3, capIds = 300L)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = allPairs.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(scoped.subsetOf(truth), "cluster scoping emitted a false pair")
    val recall = if (truth.isEmpty) 1.0 else (scoped & truth).size.toDouble / truth.size
    assert(recall >= 0.3, s"semdedup recall collapsed: $recall over ${truth.size} pairs")
    // survivors = one representative per duplicate component
    val surv = Dedup.semanticSurvivors(sfEmb, Array(Array.fill(64)(0.0)),
      minCosine = 0.3, capIds = 300L)
    val expected = Dedup.clusterSurvivors(
      sfEmb.where(col("vec_id") < 300), allPairs, "vec_id")
    assert(rows(surv.select(col("vec_id"))) == rows(expected.select(col("vec_id"))))
  }

  test("semdedup hot-cell guard: blocked join equals the plain path on a degenerate cell") {
    // every vector lands in ONE cell (single centroid) — the adversarial
    // shape: threshold 0 forces the whole cell through the blocked join
    val guarded = Dedup.semanticPairs(sfEmb, Array(Array.fill(64)(0.0)),
      minCosine = 0.3, capIds = 300L, hotCellThreshold = 0L, hotCellBlocks = 4)
    val plain = Dedup.cosineAllPairs(sfEmb, minCosine = 0.3, capIds = 300L)
    assert(rows(guarded) == rows(plain),
      "blocked hot-cell path must emit exactly the plain path's pairs")
    // mixed routing: trained clusters with a mid threshold sends some
    // cells hot and some cold — still identical to the all-cold default
    val cents = Similarity.kmeansCentroids(sfEmb, k = 8, iters = 3)
    val mixed = Dedup.semanticPairs(sfEmb, cents, minCosine = 0.3,
      capIds = 300L, hotCellThreshold = 40L, hotCellBlocks = 4)
    val default = Dedup.semanticPairs(sfEmb, cents, minCosine = 0.3, capIds = 300L)
    assert(rows(mixed) == rows(default),
      "hot/cold routing must not change the emitted pair set")
  }

  test("incremental new-vs-base pairs equal the full-corpus cross pairs") {
    import org.apache.spark.sql.functions._
    val base = sfDocs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
    val nw = sfDocs.where(pmod(col("doc_id"), lit(5L)) === 0)
    val against = Dedup.minHashPairsAgainst(nw,
        Dedup.minHashSignatures(base), threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minHashPairs(sfDocs, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = full.collect {
      case (a, b) if a % 5 == 0 && b % 5 != 0 => (a, b)
      case (a, b) if b % 5 == 0 && a % 5 != 0 => (b, a)
    }
    assert(against == expect, s"got ${against.size}, expected ${expect.size}")
    assert(expect.nonEmpty, "fixture has no cross pairs to check")
  }

  test("hammingPairs64 is complete vs brute force for maxHamming <= 3") {
    val rnd = new scala.util.Random(11)
    // random hashes + planted near-pairs at Hamming 1..3
    val base = (0L until 40L).map(i => (i, rnd.nextLong()))
    val planted = base.take(10).zipWithIndex.map { case ((id, h), i) =>
      val flips = 1 + i % 3
      var h2 = h
      (0 until flips).foreach(b => h2 ^= (1L << (b * 7 + i)))
      (id + 100L, h2)
    }
    val all = base ++ planted
    val df = all.toDF("id", "h")
    val got = Dedup.hammingPairs64(df, "id", "h", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val brute = (for {
      (a, ha) <- all; (b, hb) <- all if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b) -> d.toLong).toMap
    assert(got == brute, s"operator=${got.size} brute=${brute.size}")
    assert(brute.size >= 10, "planted pairs missing from the fixture")
  }

  test("contamination score: exact overlap fractions, empty docs score zero") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val got = Dedup.contaminationScore(docs, bench).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: 10 distinct 3-grams, 3 of them inside the benchmark span
    assert(got(1L)._1 == 10 && got(1L)._2 == 3 && got(1L)._3 == 0.3)
    assert(got(2L) == got(1L)) // identical text, identical report
    assert(got(4L)._2 == 0 && got(4L)._3 == 0.0) // disjoint content
    assert(got(5L) == ((0L, 0L, 0.0))) // empty text: 0 shingles, score 0
    assert(got.size == 5, "every doc must appear in the report")
  }

  test("minhash survivors drop near-dups with larger ids") {
    val s = rows(Dedup.minHashSurvivors(docs, threshold = 0.9).select($"doc_id"))
    assert(s.contains(Seq(1L)) && !s.contains(Seq(2L)))
  }

  test("cluster survivors keep exactly one representative per pair-graph component") {
    val d = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    // chain 1-2-3 (2,3 similar to neighbors but 1!~3) + pair 10-11 + isolated 20
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = rows(Dedup.clusterSurvivors(d, pairs).select($"doc_id"))
    assert(kept == Set(Seq(1L), Seq(10L), Seq(20L)),
      s"expected one representative per component plus isolated docs, got $kept")
  }

  test("bloom decontamination equals the exact anti-join form") {
    val bench = docs.where($"doc_id" === 4L)
    val exact = rows(Dedup.decontaminate(docs, bench).select($"doc_id"))
    val bloom = rows(Dedup.decontaminateBloom(docs, bench).select($"doc_id"))
    assert(bloom == exact, s"bloom=$bloom exact=$exact")
    // no false negatives ever: every truly contaminated doc is removed
    assert(!bloom.contains(Seq(4L)))
  }

  test("line dedup drops recurring boilerplate lines, keeps order, empties all-common docs") {
    val footer = "subscribe to our newsletter"
    val d = Seq(
      (1L, s"unique opening one\n$footer\nunique closing one"),
      (2L, s"different body two\n$footer"),
      (3L, s"$footer\nthird doc text here"),
      (4L, footer),                 // nothing but the boilerplate
      (5L, "no newline single segment")
    ).toDF("doc_id", "text")
    val r = Dedup.lineDedup(d, minDocFreq = 3).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_segments"), x.getAs[Long]("n_dropped"))))
      .toMap
    assert(r(1L) == (("unique opening one\nunique closing one", 3L, 1L)))
    assert(r(2L) == (("different body two", 2L, 1L)))
    assert(r(3L) == (("third doc text here", 2L, 1L)))
    assert(r(4L) == (("", 1L, 1L)))   // fully-boilerplate doc survives as a row
    assert(r(5L) == (("no newline single segment", 1L, 0L)))
  }

  test("window dedup drops aligned common segments only") {
    val d = Seq(
      (1L, "foo bar alpha beta"),
      (2L, "foo bar gamma delta"),
      (3L, "foo bar epsilon zeta"),
      (4L, "eta theta foo bar")     // "foo bar" NOT window-aligned: segments are "eta theta", "foo bar"
    ).toDF("doc_id", "text")
    val r = Dedup.windowDedup(d, segWords = 2, minDocFreq = 4).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("clean_text")).toMap
    // "foo bar" is a window in all four docs → dropped everywhere
    assert(r == Map(1L -> "alpha beta", 2L -> "gamma delta",
      3L -> "epsilon zeta", 4L -> "eta theta"))
    // at minDocFreq above the occurrence count nothing drops
    val keepAll = Dedup.windowDedup(d, segWords = 2, minDocFreq = 5).collect()
      .map(x => x.getAs[Long]("n_dropped")).toSet
    assert(keepAll == Set(0L))
  }

  test("duplicate spans match brute force on random corpora, both df branches") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps")
    (1 to 5).foreach { case_ =>
      val k = 6 + rnd.nextInt(6)
      val minDocs = 2 + rnd.nextInt(2) // exercises BOTH the min/max and count_distinct branches
      val docs = (1L to (6 + rnd.nextInt(5)).toLong).map { id =>
        (id, Seq.fill(3 + rnd.nextInt(10))(words(rnd.nextInt(words.size))).mkString(" "))
      }
      // brute force: normalized text, gram df over substrings, islands
      val norm = docs.map { case (id, t) =>
        id -> t.trim.replaceAll("\\s+", " ").toLowerCase }
      val df = scala.collection.mutable.HashMap.empty[String, Set[Long]]
      norm.foreach { case (id, t) =>
        (0 to t.length - k).foreach { p =>
          val g = t.substring(p, p + k)
          df(g) = df.getOrElse(g, Set.empty) + id
        }
      }
      val expected = norm.flatMap { case (id, t) =>
        val starts = (0 to t.length - k).filter(p => df(t.substring(p, p + k)).size >= minDocs)
        // merge: starts chain while gap <= k
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var i = 0
        while (i < starts.length) {
          var j = i
          while (j + 1 < starts.length && starts(j + 1) - starts(j) <= k) j += 1
          spans += ((id, starts(i) + 1L, starts(j) + k.toLong, (j - i + 1).toLong))
          i = j + 1
        }
        spans
      }.toSet
      val got = Dedup.duplicateSpans(docs.toDF("doc_id", "text"), k = k, minDocs = minDocs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == expected, s"case $case_ k=$k minDocs=$minDocs: $got vs $expected")
    }
  }

  test("window dedup matches brute force on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Seq("aa", "bb", "cc")
    (1 to 5).foreach { case_ =>
      val segW = 1 + rnd.nextInt(3)
      val mdf = 2 + rnd.nextInt(2)
      val docs = (1L to (5 + rnd.nextInt(5)).toLong).map { id =>
        (id, Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" "))
      }
      val segsOf = (t: String) => t.trim.split("\\s+").toSeq
        .grouped(segW).map(_.mkString(" ")).toSeq
      val segDf = scala.collection.mutable.HashMap.empty[String, Set[Long]]
      docs.foreach { case (id, t) =>
        segsOf(t).foreach(s => segDf(s) = segDf.getOrElse(s, Set.empty) + id) }
      val expected = docs.map { case (id, t) =>
        val segs = segsOf(t)
        val kept = segs.filter(s => segDf(s).size < mdf)
        (id, kept.mkString(" "), segs.length.toLong, (segs.length - kept.length).toLong)
      }.toSet
      val got = Dedup.windowDedup(docs.toDF("doc_id", "text"),
          segWords = segW, minDocFreq = mdf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == expected, s"case $case_ segW=$segW mdf=$mdf")
    }
  }

  test("duplicate spans cover exactly the planted shared substring, merged maximally") {
    // 30-char shared region planted at different offsets in docs 1 and 2;
    // doc 3 shares nothing 20 chars long. All lowercase single-space so
    // normalized positions == raw positions (1-based).
    val shared = "abcdefghijklmnopqrstuvwxyz0123"          // 30 chars
    val d = Seq(
      (1L, s"qqq www $shared eee rrr ttt yyy uuu"),         // shared at pos 9
      (2L, s"zzz $shared ppp ooo iii kkk jjj hhh lll"),     // shared at pos 5
      (3L, "totally unrelated content with no long overlap at all here")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, k = 20, minDocs = 2).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("span_start"),
        x.getAs[Long]("span_end"), x.getAs[Long]("n_grams"))).toSet
    // the shared region is flanked by spaces in BOTH docs, so grams
    // covering the leading/trailing space also match: starts P-1..P+11
    // (13 grams), one merged span [P-1, P+30] per doc
    assert(spans == Set((1L, 8L, 39L, 13L), (2L, 4L, 35L, 13L)), s"got $spans")
  }

  test("set-similarity join matches brute force on both plan paths and thresholds") {
    val rnd = new scala.util.Random(42)
    def corpus(vocab: IndexedSeq[String], nDocs: Int, minLen: Int, maxLen: Int) =
      (1 to nDocs).map { i =>
        val len = minLen + rnd.nextInt(maxLen - minLen + 1)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
    def brute(cs: Seq[(Long, String)], num: Int, den: Int): Set[(Long, Long, Double)] = {
      val sets = cs.map { case (id, t) => id -> t.trim.split("\\s+").toSet }
        .filter(_._2.nonEmpty)
      (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        inter = (sa & sb).size.toLong
        uni = sa.size + sb.size - inter
        if inter * den >= uni * num
      } yield (ia, ib,
        BigDecimal(inter.toDouble / uni).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      ).toSet
    }
    def run(cs: Seq[(Long, String)], num: Int, den: Int): Set[(Long, Long, Double)] =
      Dedup.setSimilarityJoin(cs.toDF("doc_id", "text"), num, den).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // SMALL universe (40 tokens -> bitmask plan), incl. exact-dup groups
    val small = corpus((0 until 40).map(i => s"w$i"), 60, 5, 12) ++
      Seq((900L, "w1 w2 w3 w4"), (901L, "w1 w2 w3 w4"), (902L, "w1 w2 w3 w4"))
    assert(run(small, 1, 2) == brute(small, 1, 2))
    assert(run(small, 2, 3) == brute(small, 2, 3))
    // LARGE universe (120 tokens -> PPJoin canonical-kernel plan)
    val large = corpus((0 until 120).map(i => s"v$i"), 80, 8, 20) ++
      Seq((900L, "v1 v2 v3 v4 v5"), (901L, "v1 v2 v3 v4 v5"))
    assert(run(large, 1, 2) == brute(large, 1, 2))
    assert(run(large, 3, 4) == brute(large, 3, 4))
    // degenerate: empty text drops; singleton corpus yields nothing
    assert(run(Seq((1L, "a b"), (2L, "   ")), 1, 2).isEmpty)
    // adversarial: wildly varying lengths (length filter must prune but
    // never drop a qualifying pair) over a skewed Zipf-ish distribution
    val skewVocab = (0 until 90).map(i => s"z$i")
    val skew = (1 to 70).map { i =>
      val len = if (i % 7 == 0) 40 + rnd.nextInt(20) else 3 + rnd.nextInt(5)
      // Zipf-ish: low indices far more likely
      (i.toLong, Seq.fill(len)(skewVocab(
        math.min(89, (math.abs(rnd.nextGaussian()) * 12).toInt))).mkString(" "))
    }
    assert(run(skew, 1, 2) == brute(skew, 1, 2))
    // threshold 1/1: only identical token SETS qualify
    val dup = skew ++ Seq((900L, skew(3)._2), (901L, skew(3)._2 + " extraword"))
    assert(run(dup, 1, 1) == brute(dup, 1, 1))
  }


  test("appendSignatures is idempotent, keeps stored signatures, composes to sign(union)") {
    def sigs(df: org.apache.spark.sql.DataFrame) = Dedup.minHashSignatures(df)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    val a = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val b = Seq((3L, "red green blue yellow purple orange"),
      (4L, "north south east west up down")).toDF("doc_id", "text")
    val base = sigs(a)
    val once = Dedup.appendSignatures(base, b)
    // composes: append(base, B) has exactly sign(A union B)'s rows
    assert(rowsOf(once) == rowsOf(sigs(a.unionByName(b))))
    // idempotent: re-appending the same batch adds nothing
    assert(rowsOf(Dedup.appendSignatures(once, b)) == rowsOf(once))
    // dedup-keyed: an id already stored keeps its STORED signature even
    // if the batch carries different text under that id
    val conflicting = Seq((1L, "totally different replacement text")).toDF("doc_id", "text")
    assert(rowsOf(Dedup.appendSignatures(base, conflicting)) == rowsOf(base))
  }


  test("clusterSurvivorsBest keeps the highest-ranked member per component") {
    val d = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b") // component {1,2,3}
    val rank = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 1L)).toDF("doc_id", "r")
    val kept = Dedup.clusterSurvivorsBest(d, pairs, rank)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    // 2 and 3 tie on rank -> min id 2 wins; 4 is in no pair and survives
    assert(kept == Set(2L, 4L), s"got $kept")
  }


  test("snapshotDiff classifies added/removed/changed and treats null as empty") {
    val base = Seq((1L, "same"), (2L, "old"), (3L, "gone"), (4L, null: String))
      .toDF("doc_id", "text")
    val next = Seq((1L, "same"), (2L, "new"), (5L, "fresh"), (4L, ""))
      .toDF("doc_id", "text")
    val d = Dedup.snapshotDiff(base, next).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // 1 unchanged (absent), 4 null==empty (absent)
    assert(d == Map(2L -> "changed", 3L -> "removed", 5L -> "added"), s"got $d")
  }


  test("minhash eval report counts tp/fp/fn against brute force, including misses") {
    // docs 1,2 near-identical (true positive at any threshold); 3,4
    // medium-overlap (the marginal pair estimators flip on); 5 unrelated
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "data systems process large corpora with distributed query engines quickly"),
      (4L, "data systems process large corpora with columnar storage engines quickly"),
      (5L, "completely unrelated gibberish zzz qqq vvv kkk")
    ).toDF("doc_id", "text")
    val r = Dedup.minHashEvalReport(d, shingleN = 5, k = 16, bands = 8,
      threshold = 0.5, capIds = 100L).collect()(0)
    val (nEst, nExact, tp, fp, fn) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    // structural identities always hold
    assert(tp + fp == nEst && tp + fn == nExact)
    assert(nExact >= 1, "brute force must find the near-identical pair")
    // ratio arithmetic: recompute the integer micro-rounding
    def ratio(n: Long, dd: Long): Double =
      if (dd == 0) 0.0 else ((n * 2000000L + dd) / (2 * dd)).toDouble / 1000000
    assert(r.getDouble(5) == ratio(tp, nEst) && r.getDouble(6) == ratio(tp, nExact))
    // a deliberately impossible estimate threshold forces fn > 0: exact
    // pairs exist but the estimate side is emptied
    val miss = Dedup.minHashEvalReport(d, shingleN = 5, k = 16, bands = 8,
      threshold = 1.01, capIds = 100L).collect()(0)
    assert(miss.getLong(0) == 0L)
    assert(miss.getLong(4) == 0L || miss.getLong(1) > 0L)
  }

}
