package graft.operators

import graft.SparkSpec

/** Trained BPE: the merge loop, the inference loop, and the count
  * operator, each pinned against an independent quadratic
  * re-implementation and against hand-computed examples. The DuckDB
  * oracle twins (q99/q101) cover the numMerges=1 slice end-to-end. */
class BpeSpec extends SparkSpec {

  /** Independent naive reference: apply learned merges IN RANK ORDER
    * (training-time semantics) to a word, string-list quadratic. */
  private def applyInOrder(word: String, merges: Seq[Bpe.Merge]): Seq[String] = {
    var syms: Seq[String] = word.map(_.toString)
    merges.foreach { m =>
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == m.lhs && syms(i + 1) == m.rhs) {
          out += (m.lhs + m.rhs); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  /** Independent naive trainer: recount pair frequencies from scratch
    * every round (overlapping, frequency-weighted, lexicographic
    * tiebreak) by re-encoding every word with the merges so far. */
  private def naiveTrain(vocab: Seq[(String, Long)], n: Int): Seq[Bpe.Merge] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[Bpe.Merge]
    var done = false
    while (merges.length < n && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (w, f) =>
        val syms = applyInOrder(w, merges.toSeq)
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), _) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        merges += Bpe.Merge(merges.length, l, r)
      }
    }
    merges.toSeq
  }

  test("merge loop matches the independent trainer on random vocabularies") {
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { _ =>
      val vocab = (1 to (2 + rnd.nextInt(10))).map { _ =>
        val w = (1 to (1 + rnd.nextInt(7))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
        w -> (1L + rnd.nextInt(9))
      }.groupBy(_._1).map { case (w, vs) => w -> vs.map(_._2).sum }.toSeq
      val n = 1 + rnd.nextInt(8)
      assert(Bpe.trainOnVocab(vocab, n) == naiveTrain(vocab, n),
        s"drift on vocab $vocab")
    }
  }

  test("non-BMP characters are single symbols (code points, not UTF-16 units)") {
    // "😀" is one code point stored as a surrogate pair (2 chars)
    assert(Bpe.encodeWord("a😀b", Map.empty).toSeq ==
      Seq("a", "😀", "b"))
    // training over an emoji vocab fuses whole code points — never halves
    val merges = Bpe.trainOnVocab(Seq("😀😀" -> 5L), 1)
    assert(merges == Seq(Bpe.Merge(0, "😀", "😀")))
    val enc = Bpe.encodeWord("😀😀",
      Map(("😀", "😀") -> 0))
    assert(enc.toSeq == Seq("😀😀"))
  }

  test("training fuses the classic example in frequency order") {
    // "aaab"×10, "aab"×5: (a,a) counts 25 (overlapping within aaab),
    // (a,b) 15 → first merge aa; then (aa,ab)? pairs: aaab→[aa,ab]
    // after merge2(a,b)... verify against the naive trainer and check
    // the first merge is the overlapping-count winner
    val vocab = Seq("aaab" -> 10L, "aab" -> 5L)
    val ms = Bpe.trainOnVocab(vocab, 3)
    assert(ms.head == Bpe.Merge(0, "a", "a"), s"got $ms")
    assert(ms == naiveTrain(vocab, 3))
  }

  test("inference (lowest-rank loop) reproduces training-order application") {
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { _ =>
      val vocab = (1 to (3 + rnd.nextInt(8))).map { _ =>
        val w = (1 to (1 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
        w -> (1L + rnd.nextInt(9))
      }.groupBy(_._1).map { case (w, vs) => w -> vs.map(_._2).sum }.toSeq
      val ms = Bpe.trainOnVocab(vocab, 1 + rnd.nextInt(10))
      val ranks = ms.map(m => (m.lhs, m.rhs) -> m.rank).toMap
      // both for trained words and for UNSEEN words (inference-time input)
      val unseen = (1 to 5).map(_ =>
        (1 to (1 + rnd.nextInt(9))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      (vocab.map(_._1) ++ unseen).foreach { w =>
        assert(Bpe.encodeWord(w, ranks).toSeq == applyInOrder(w, ms),
          s"word $w under $ms")
      }
    }
  }

  test("token counts: zero merges = char count, counts shrink with more merges") {
    import spark.implicits._
    val docs = Seq((1L, "abc ab a"), (2L, "  "), (3L, "aaaa aaaa"))
      .toDF("doc_id", "text")
    val zero = Bpe.tokenCounts(docs, Nil).as[(Long, Long)].collect().toMap
    assert(zero == Map(1L -> 6L, 2L -> 0L, 3L -> 8L))
    val ms = Bpe.trainOnVocab(Seq("abc" -> 1L, "ab" -> 1L, "a" -> 1L, "aaaa" -> 2L), 2)
    val two = Bpe.tokenCounts(docs, ms).as[(Long, Long)].collect().toMap
    assert(two(2L) == 0L)
    assert(two(1L) <= zero(1L) && two(3L) < zero(3L))
  }

  test("one-merge counts equal the replace-based count the SQL oracle uses") {
    // guard the q101 oracle equivalence: tokens = len − non-overlapping
    // occurrences, where occurrences = (len − len(replace(w, pair, "")))/2
    val rnd = new scala.util.Random(13)
    (1 to 50).foreach { _ =>
      val w = (1 to (1 + rnd.nextInt(10))).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
      val pair = "" + ('a' + rnd.nextInt(2)).toChar + ('a' + rnd.nextInt(2)).toChar
      val ranks = Map((pair.substring(0, 1), pair.substring(1)) -> 0)
      val viaEncode = Bpe.encodeWord(w, ranks).length
      val viaReplace = w.length - (w.length - w.replace(pair, "").length) / 2
      assert(viaEncode == viaReplace, s"word $w pair $pair")
    }
  }

  test("tokenize emits the pieces whose concatenation restores the words") {
    import spark.implicits._
    val docs = Seq((1L, "abc ab a"), (2L, "")).toDF("doc_id", "text")
    val ms = Bpe.trainOnVocab(Seq("abc" -> 3L, "ab" -> 2L, "a" -> 1L), 2)
    val toks = Bpe.tokenize(docs, ms).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(toks(2L).isEmpty)
    // pieces concatenate back to the whitespace-stripped text
    assert(toks(1L).mkString == "abcaba")
    // piece count matches tokenCounts under the same table
    val counts = Bpe.tokenCounts(docs, ms).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(toks.map { case (k, v) => k -> v.length.toLong } == counts)
    // and each piece is a greedy encodeWord segment
    val ranks = ms.map(m => (m.lhs, m.rhs) -> m.rank).toMap
    assert(toks(1L) == Seq("abc", "ab", "a").flatMap(Bpe.encodeWord(_, ranks)))
  }

  test("merge tables round-trip through parquet") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val trained = Bpe.train(docs, 12)
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString + "/merges"
    Bpe.saveMerges(spark, trained, dir)
    val loaded = Bpe.loadMerges(spark, dir)
    assert(loaded == trained)
    // the reloaded table encodes identically
    val a = Bpe.tokenCounts(docs, trained).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Bpe.tokenCounts(docs, loaded).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("corpus training is deterministic and encode runs distributed") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val a = Bpe.train(docs, 10)
    val b = Bpe.train(docs, 10)
    assert(a == b && a.length == 10)
    val counts = Bpe.tokenCounts(docs.repartition(7), a)
    assert(counts.count() == docs.count())
    // more merges never increase any document's token count
    val c0 = Bpe.tokenCounts(docs, Nil).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Bpe.tokenCounts(docs, a).collect().foreach { r =>
      assert(r.getLong(1) <= c0(r.getLong(0)))
    }
  }
}
