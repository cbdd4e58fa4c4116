package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity, TextAnalysis}

import Corpus.{Frames, Out}

/** corpus_pipeline: a closed loop of batches through the pipeline
  * operators, one batch at a time: HTML extraction → quality and
  * repetition features → MinHash near-duplicate pairs → cluster dedup
  * keeping the best-ranked member → kNN join → blocked bitext margin
  * mining. A batch's latency covers every stage, each stage forced and
  * its output collected. */
final class Corpus(spark: SparkSession, spec: Spec.W, seed: Long, tracer: Tracer) extends Workload {
  private var batch: Frames = _
  private var op = 0L

  private def vecFrame(idName: String, vecName: String, base: Long, vs: Array[Array[Float]]): DataFrame =
    spark.createDataFrame(vs.indices.map(i => Row(base + i, vs(i).toSeq)).asJava,
      StructType(Seq(StructField(idName, LongType), StructField(vecName, ArrayType(FloatType)))))

  def setup(): Unit = {
    val words = CorpusGen.vocab(seed, spec.int("vocab"))
    batch = {
      val b = CorpusGen.batch(spec, seed, 0, words)
      val docs = spark.createDataFrame(b.ids.indices.map(i => Row(b.ids(i), b.html(i))).asJava,
        StructType(Seq(StructField("doc_id", LongType), StructField("html", StringType))))
      val rank = spark.createDataFrame(b.ids.indices.map(i => Row(b.ids(i), b.rank(i))).asJava,
        StructType(Seq(StructField("doc_id", LongType), StructField("rank", LongType))))
      Frames(b, docs, rank, vecFrame("vec_id", "embedding", b.ids.head, b.emb),
        vecFrame("q_id", "q_vec", 0L, b.queries),
        vecFrame("vec_id", "embedding", b.bitextBase, b.bitextA),
        vecFrame("vec_id", "embedding", b.bitextBase, b.bitextB))
    }
    // one batch, so codegen is done before the first timed one
    require(check(batch, runBatch(batch))._1, "first batch differs from the reference")
  }

  /** Untimed batches for `WarmupS` seconds: the first batches after
    * set-up run some 20 % slower than later ones while the JIT works
    * through the planner and operator code. */
  override def warmup(w: Window): Unit = measure(Corpus.WarmupS, w)

  private def stage[T](name: String)(body: => T): T = tracer.span("operators", name, op, "op")(body)

  private def runBatch(f: Frames): Out = {
    val ext = stage("operators.html") {
      val e = TextAnalysis.extractHtmlText(f.docs, "doc_id", "html")
        .select(col("doc_id"), col("extracted_text").as("text")).localCheckpoint()
      (e, e.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    }
    val (texts, text) = ext
    val (nChars, gopherRows) = stage("operators.quality") {
      val q = TextAnalysis.qualityFeatures(texts).select("doc_id", "n_chars").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      (q, TextAnalysis.gopherRepetition(texts, "doc_id", "text").count())
    }
    val pairsDf = stage("operators.minhash")(Dedup.minHashPairs(texts, "doc_id", "text").localCheckpoint())
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val survivors = stage("operators.cluster") {
      Dedup.clusterSurvivorsBest(f.docs, pairsDf, f.rank, "doc_id").select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val knn = stage("operators.knn") {
      Similarity.knnJoin(f.emb, f.queries, 10).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSeq
    }
    val centroids = f.b.bitextB.take(spec.int("bitext_cells")).map(_.map(_.toDouble))
    val mined = stage("operators.bitext") {
      Similarity.marginMiningBlocked(f.a, f.bSide, centroids, centroids.length, k = 4, tau = 1.0).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Double]("margin6"))).toSeq
    }
    Out(text, nChars, gopherRows, pairs, survivors, knn, mined)
  }

  /** (all correct, planted duplicates found / planted, planted
    * translations found / planted). */
  private def check(f: Frames, o: Out): (Boolean, Double, Double) = {
    val b = f.b
    val errs = mutable.ArrayBuffer.empty[String]
    val want = b.ids.zip(b.text).toMap
    if (o.text != want) errs += s"extracted text differs for ${want.count { case (k, v) => !o.text.get(k).contains(v) }} docs"
    if (o.nChars != want.map { case (k, v) => k -> v.length.toLong }) errs += "quality n_chars"
    if (o.gopherRows != b.ids.length) errs += s"gopher rows ${o.gopherRows}"
    val found = o.pairs.map { case (x, y) => (math.min(x, y), math.max(x, y)) }.toSet
    val exact = b.exactPairs.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
    // identical texts must always pair; a reported pair must truly be near
    if (!exact.forall(found)) errs += "missed exact duplicate"
    if (!found.forall(p => Check.jaccard5(want(p._1), want(p._2)) >= 0.3)) errs += "minhash pair below similarity"
    if (o.survivors != Check.survivors(b.ids.toSeq, o.pairs, b.ids.zip(b.rank).toMap)) errs += "cluster survivors"
    val byQ = o.knn.groupBy(_._1)
    b.queries.indices.foreach { qi =>
      val got = byQ.getOrElse(qi.toLong, Nil)
      val all = b.emb.indices.map(i => (b.ids.head + i, Check.cosine(b.emb(i), b.queries(qi))))
        .sortBy { case (id, c) => (-c, id) }
      val tenth = all(9)._2
      if (got.size != 10 || !got.forall { case (_, id, c) =>
        val i = (id - b.ids.head).toInt
        math.abs(c - Check.cosine(b.emb(i), b.queries(qi))) < 1e-6 && c >= tenth - 1e-6
      }) errs += s"knn query $qi"
    }
    val mine = Check.marginMine(b.bitextA, b.bitextB, 4, 1.0).map { case (i, (j, m)) =>
      (b.bitextBase + i) -> (b.bitextBase + j, m) }
    val gotMine = o.mined.map { case (a, bb, m) => a -> (bb, m) }.toMap
    if (gotMine.keySet != mine.keySet || !mine.forall { case (a, (bb, m)) =>
      gotMine(a)._1 == bb && math.abs(gotMine(a)._2 - m) < 1e-5 }) errs += "bitext mining"
    if (errs.nonEmpty) System.err.println(s"[perfbench] batch mismatch: ${errs.mkString("; ")}")
    val planted = exact ++ b.nearPairs.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
    val bitext = b.bitextPlanted.count { case (a, bb) => gotMine.get(a).exists(_._1 == bb) }
    (errs.isEmpty, planted.count(found).toDouble / math.max(1, planted.size),
      bitext.toDouble / math.max(1, b.bitextPlanted.size))
  }

  def measure(seconds: Double, w: Window): Unit = {
    val recalls = mutable.ArrayBuffer.empty[(Double, Double)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      op += 1
      try {
        val a = System.nanoTime()
        val out = tracer.span("bench", "batch", op)(runBatch(batch))
        val ms = (System.nanoTime() - a) / 1e6
        val (ok, dup, bitext) = check(batch, out)
        recalls += ((dup, bitext))
        if (ok) w.ok(ms) else { w.attempted += 1; w.wrong += 1 }
        // the check's garbage is collected here, not inside the next batch
        System.gc()
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] batch failed: $e")
        w.attempted += 1; w.failed += 1
      }
    }
    val n = math.max(1, w.latMs.size)
    w.layer("throughput_ops_s") = w.closedLoopRate
    w.layer("operators.docs_per_s") = w.layer("throughput_ops_s") * spec.int("docs_per_batch")
    w.layer("operators.dup_recall") = recalls.map(_._1).sum / n
    w.layer("operators.bitext_recall") = recalls.map(_._2).sum / n
  }

  override def traced(w: Window, spans: Seq[Span], jobs: Seq[(Span, JobStats#Job)]): Unit =
    Seq("html", "quality", "minhash", "cluster", "knn", "bitext").foreach { s =>
      w.layer(s"operators.${s}_ms") =
        Main.median(spans.filter(_.name == s"operators.$s").map(x => (x.end - x.start) / 1e6))
    }
}

/** Corpus batch frames and one batch's collected outputs. */
object Corpus {
  /** Length of the untimed warm-up before the timed window, seconds. */
  val WarmupS = 10.0
  final case class Frames(b: CorpusBatch, docs: DataFrame, rank: DataFrame, emb: DataFrame,
                          queries: DataFrame, a: DataFrame, bSide: DataFrame)
  final case class Out(text: Map[Long, String], nChars: Map[Long, Long], gopherRows: Long,
                       pairs: Seq[(Long, Long)], survivors: Set[Long],
                       knn: Seq[(Long, Long, Double)], mined: Seq[(Long, Long, Double)])
}
