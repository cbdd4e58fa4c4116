package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every workload input is a pure function of
  * (seed, workload sizes): the engine only ever sees what these produce,
  * and the generator keeps its own plain copy of every fact so the
  * checker can compute expected answers without the engine. */
object Gen {
  /** An independent stream per (seed, purpose). */
  def rng(seed: Long, tag: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (tag.hashCode.toLong * 0xC2B2AE3D27D4EB4FL))

  /** Unit-free gaussian from a SplittableRandom (Box-Muller). */
  def gauss(r: SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** `n` vectors of `dim` floats around `centers` seeded centers, so
    * nearest-neighbour structure resembles real embeddings. */
  def clustered(r: SplittableRandom, n: Int, dim: Int, centers: Int, spread: Double): Array[Array[Float]] = {
    val cs = Array.fill(centers)(Array.fill(dim)(gauss(r)))
    Array.fill(n) {
      val c = cs(r.nextInt(centers))
      Array.tabulate(dim)(j => (c(j) + spread * gauss(r)).toFloat)
    }
  }

  def vecLit(v: Array[Float]): String = v.map(x => java.lang.Float.toString(x)).mkString("[", ", ", "]")
}

/** Insertion-ordered set with O(1) add, remove and seeded random pick. */
final class Bag[A] {
  private val buf = mutable.ArrayBuffer.empty[A]
  private val pos = mutable.HashMap.empty[A, Int]
  def size: Int = buf.length
  def contains(a: A): Boolean = pos.contains(a)
  def add(a: A): Boolean = !pos.contains(a) && { pos(a) = buf.length; buf += a; true }
  def remove(a: A): Boolean = pos.remove(a) match {
    case Some(i) =>
      val last = buf.remove(buf.length - 1)
      if (i < buf.length) { buf(i) = last; pos(last) = i }
      true
    case None => false
  }
  def pick(r: SplittableRandom): A = buf(r.nextInt(buf.length))
  def iterator: Iterator[A] = buf.iterator
  def toSeq: Seq[A] = buf.toSeq
}

final case class Emp(id: Long, dept: Long, salary: Long, level: Long)

/** One maintenance round's writes, as the model applied them. */
final case class Round(edgeIns: Seq[(Long, Long)], edgeDel: Seq[(Long, Long)],
                       empIns: Seq[Emp], empDel: Seq[Emp], condDelete: String) {
  /** The round as one IQL program (the client's write statement). */
  def iql: String = {
    def tuples(xs: Seq[Seq[Any]]) = xs.map(_.mkString("(", ", ", ")")).mkString("[", ", ", "]")
    def emp(e: Emp) = Seq(e.id, e.dept, e.salary, e.level)
    Seq(
      s"+edge${tuples(edgeIns.map(p => Seq(p._1, p._2)))}",
      s"-edge${tuples(edgeDel.map(p => Seq(p._1, p._2)))}",
      s"+emp${tuples(empIns.map(emp))}",
      s"-emp${tuples(empDel.map(emp))}",
      condDelete).mkString("\n")
  }
}

/** The knowledge graph of the kg_* workloads, with the writes of every
  * round applied in the same order the engine applies them.
  *
  * Graph: `components` disjoint DAGs of `component_size` nodes; each node
  * links to `out_degree` random later nodes at most `span` ahead in its
  * own component, so the closure stays within a component and its size
  * is set by the sizes, not by luck. Employees: emp(id, dept, salary,
  * level) with globally unique salaries, so every aggregate and top-k has
  * one right answer. */
final class KgModel(spec: Spec.W, seed: Long) {
  val comps: Int = spec.int("components")
  val compSize: Int = spec.int("component_size")
  private val outDeg = spec.int("out_degree")
  private val span = spec.int("span")
  val depts: Int = spec.int("depts")
  private def batchEdges = spec.int("batch_edges")
  private def batchEmps = spec.int("batch_employees")

  val nodes: Seq[Long] = (1L to comps.toLong * compSize)
  val edges = new Bag[(Long, Long)]
  val emps = mutable.LinkedHashMap.empty[Long, Emp]
  private val empIds = new Bag[Long]
  private val salaries = mutable.HashSet.empty[Long]
  private var nextEmp = 1L

  private val r0 = Gen.rng(seed, "kg")
  private def node(c: Int, i: Int): Long = c.toLong * compSize + i + 1
  private def forwardEdge(r: SplittableRandom): (Long, Long) = {
    val c = r.nextInt(comps)
    val i = r.nextInt(compSize - 1)
    val j = i + 1 + r.nextInt(math.min(span, compSize - 1 - i))
    (node(c, i), node(c, j))
  }
  for (c <- 0 until comps; i <- 0 until compSize - 1; _ <- 0 until outDeg) {
    val j = i + 1 + r0.nextInt(math.min(span, compSize - 1 - i))
    edges.add((node(c, i), node(c, j)))
  }
  private def newEmp(r: SplittableRandom): Emp = {
    var s = 20000L + r.nextInt(2000000)
    while (salaries.contains(s)) s = 20000L + r.nextInt(2000000)
    salaries += s
    val e = Emp(nextEmp, 1L + r.nextInt(depts), s, 1L + r.nextInt(8))
    nextEmp += 1
    e
  }
  private def addEmp(e: Emp): Unit = { emps(e.id) = e; empIds.add(e.id) }
  private def dropEmp(e: Emp): Unit = { emps.remove(e.id); empIds.remove(e.id); salaries -= e.salary }
  (0 until spec.int("employees")).foreach(_ => addEmp(newEmp(r0)))

  /** Seeded writes of round `i`, applied to the model in statement order:
    * edge inserts, edge deletes, employee inserts, employee deletes, then
    * the conditional delete. */
  def round(i: Int): Round = {
    val r = Gen.rng(seed, s"round-$i")
    val del = mutable.LinkedHashSet.empty[(Long, Long)]
    while (del.size < batchEdges) del += edges.pick(r)
    val ins = mutable.LinkedHashSet.empty[(Long, Long)]
    while (ins.size < batchEdges) {
      val e = forwardEdge(r)
      if (!edges.contains(e)) ins += e
    }
    ins.foreach(edges.add); del.foreach(edges.remove)
    val eDel = mutable.LinkedHashSet.empty[Long]
    while (eDel.size < batchEmps) eDel += empIds.pick(r)
    val eIns = Seq.fill(batchEmps)(newEmp(r))
    eIns.foreach(addEmp)
    val dels = eDel.toSeq.map(emps)
    dels.foreach(dropEmp)
    Round(ins.toSeq, del.toSeq, eIns, dels, condDelete(r))
  }

  /** The round's conditional delete, applied to the model: every
    * out-edge of one node, a retraction through the closure and the
    * negated view. */
  private def condDelete(r: SplittableRandom): String = {
    val n = edges.pick(r)._1
    edges.toSeq.filter(_._1 == n).foreach(edges.remove)
    s"-edge(X, Y) <- edge(X, Y), X = $n"
  }

  def empRows: Seq[Seq[Any]] = emps.valuesIterator.map(e => Seq(e.id, e.dept, e.salary, e.level)).toSeq
  def edgeRows: Seq[Seq[Any]] = edges.iterator.map(p => Seq(p._1, p._2)).toSeq
}

/** Read-only relations of kg_serve beside the graph and employees:
  * a 3-way join set (customers, products, orders) and vectors. */
final class ServeData(spec: Spec.W, seed: Long) {
  private val r = Gen.rng(seed, "serve")
  val regions: Int = spec.int("regions")
  val cust: Array[(Long, Long)] = Array.tabulate(spec.int("customers"))(i => (i + 1L, 1L + r.nextInt(regions)))
  val prod: Array[(Long, Long)] = Array.tabulate(spec.int("products"))(i => (i + 1L, 1L + r.nextInt(100)))
  val orders: Array[(Long, Long, Long, Long)] = Array.tabulate(spec.int("orders")) { i =>
    (i + 1L, 1L + r.nextInt(cust.length), 1L + r.nextInt(prod.length), 1L + r.nextInt(10))
  }
  val vectors: Array[Array[Float]] =
    Gen.clustered(r, spec.int("vectors"), spec.int("dim"), spec.int("vector_centers"), 0.35)
}

/** One batch of the corpus pipeline: HTML documents with planted exact
  * and near duplicates, a seeded quality rank, document embeddings with
  * kNN probes, and a bilingual embedding pair with planted translations. */
final case class CorpusBatch(
    ids: Array[Long], html: Array[String], text: Array[String], rank: Array[Long],
    exactPairs: Seq[(Long, Long)], nearPairs: Seq[(Long, Long)],
    emb: Array[Array[Float]], queries: Array[Array[Float]],
    bitextA: Array[Array[Float]], bitextB: Array[Array[Float]],
    bitextPlanted: Seq[(Long, Long)], bitextBase: Long)

object CorpusGen {
  private val syll = Array("ka", "lo", "mi", "ne", "tu", "ra", "so", "vi", "de", "po", "an",
    "el", "is", "or", "um", "zen", "tar", "bel", "qui", "sha")

  def vocab(seed: Long, n: Int): Array[String] = {
    val r = Gen.rng(seed, "vocab")
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += Array.fill(2 + r.nextInt(3))(syll(r.nextInt(syll.length))).mkString
    seen.toArray
  }

  /** HTML around paragraphs: a script, a link-only navigation block (the
    * extractor must drop both) and an entity that must decode to '&'. */
  def html(paras: Seq[String]): String =
    "<html><head><script>var t = 1; if (t < 2) { t++; }</script></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/about\">About us</a></div>" +
      paras.map(p => s"<p>${p.replace("&", "&amp;")}</p>").mkString("\n") +
      "</body></html>"

  def batch(spec: Spec.W, seed: Long, b: Int, words: Array[String]): CorpusBatch = {
    val r = Gen.rng(seed, s"corpus-$b")
    val n = spec.int("docs_per_batch")
    val base = (b + 1).toLong * 1000000L
    val ids = Array.tabulate(n)(i => base + i)
    val paras = new Array[Seq[String]](n)
    val exact = mutable.ArrayBuffer.empty[(Long, Long)]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    // exactly as many planted copies in every batch, at seeded positions
    val nExact = (spec.dbl("exact_dup_frac") * n).toInt
    val nNear = (spec.dbl("near_dup_frac") * n).toInt
    val copyAt = new scala.util.Random(r.nextLong())
      .shuffle((1 until n).toVector).take(nExact + nNear)
    val kind = copyAt.zipWithIndex.map { case (i, j) => i -> (j < nExact) }.toMap
    def para(): String =
      Seq.fill(25 + r.nextInt(30))(words(r.nextInt(words.length))).mkString(" ") +
        (if (r.nextInt(4) == 0) " & co" else "")
    for (i <- 0 until n) {
      kind.get(i) match {
        case Some(true) =>
          val j = r.nextInt(i)
          paras(i) = paras(j); exact += ((ids(j), ids(i)))
        case Some(false) =>
          val j = r.nextInt(i)
          // one substituted word in every 40: 5-shingle Jaccard stays ~0.8
          paras(i) = paras(j).map(_.split(' ').map(w =>
            if (r.nextInt(40) == 0) words(r.nextInt(words.length)) else w).mkString(" "))
          near += ((ids(j), ids(i)))
        case None => paras(i) = Seq.fill(2 + r.nextInt(3))(para())
      }
    }
    val dim = spec.int("dim")
    val emb = Gen.clustered(r, n, dim, 16, 0.5)
    val queries = Gen.clustered(r, spec.int("knn_queries"), dim, 16, 0.5)
    val nb = spec.int("bitext_size")
    val a = Gen.clustered(r, nb, dim, 8, 0.6)
    val perm = (0 until nb).toArray
    for (i <- nb - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t }
    val planted = (spec.dbl("bitext_planted_frac") * nb).toInt
    val bv = new Array[Array[Float]](nb)
    // planted translation: a_i plus small noise lands at position perm(i)
    for (i <- 0 until planted)
      bv(perm(i)) = a(i).map(x => (x + 0.05 * Gen.gauss(r)).toFloat)
    val free = Gen.clustered(r, nb - planted, dim, 8, 0.6)
    for (i <- planted until nb) bv(perm(i)) = free(i - planted)
    CorpusBatch(ids, paras.map(html), paras.map(_.mkString("\n")),
      Array.fill(n)(r.nextLong() & 0xFFFFFFFFL), exact.toSeq, near.toSeq, emb, queries,
      a, bv, (0 until planted).map(i => (base + i, base + perm(i))), base)
  }
}
