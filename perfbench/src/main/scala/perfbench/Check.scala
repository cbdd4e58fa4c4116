package perfbench

import scala.collection.mutable

/** Expected answers computed in plain Scala from the generator's own copy
  * of the facts — never through the engine or its driver-local twins.
  * Runs outside every timed interval. */
object Check {
  /** Transitive closure by BFS from each source. */
  def closure(edges: Iterator[(Long, Long)]): Map[Long, Set[Long]] = {
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b) => adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b }
    adj.keys.map(s => s -> reachFrom(adj, s)).toMap
  }

  private def reachFrom(adj: collection.Map[Long, mutable.ArrayBuffer[Long]], s: Long): Set[Long] = {
    val seen = mutable.HashSet.empty[Long]
    val q = mutable.Queue(s)
    while (q.nonEmpty) adj.get(q.dequeue()).foreach(_.foreach(n => if (seen.add(n)) q += n))
    seen.toSet
  }

  def closureSize(c: Map[Long, Set[Long]]): Long = c.valuesIterator.map(_.size.toLong).sum

  /** Expected rows of every maintained employee view, keyed by view. */
  def empViews(emps: Iterable[Emp]): Map[String, Set[Seq[Any]]] = {
    val by = emps.groupBy(_.dept)
    Map(
      "dsum" -> by.map { case (d, es) => Seq[Any](d, es.iterator.map(_.salary).sum, es.size.toLong) }.toSet,
      "dminmax" -> by.map { case (d, es) =>
        Seq[Any](d, es.iterator.map(_.salary).min, es.iterator.map(_.salary).max) }.toSet,
      "dlevels" -> by.map { case (d, es) => Seq[Any](d, es.iterator.map(_.level).toSet.size.toLong) }.toSet,
      "dtop" -> by.flatMap { case (d, es) =>
        es.toSeq.sortBy(-_.salary).take(3).map(e => Seq[Any](d, e.id, e.salary)) }.toSet)
  }

  /** Nodes with no outgoing edge (the negated view). */
  def sinks(nodes: Seq[Long], edges: Iterator[(Long, Long)]): Set[Seq[Any]] = {
    val out = edges.map(_._1).toSet
    nodes.filterNot(out).map(n => Seq[Any](n)).toSet
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  /** Exact top-k ids by cosine distance (ascending), ties by id. */
  def exactTopK(vecs: Array[Array[Float]], ids: Long => Long, q: Array[Float], k: Int): Seq[(Long, Double)] =
    vecs.indices.map(i => (ids(i), 1.0 - cosine(vecs(i), q)))
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** Exact ratio-margin bitext mining (margin = cos / mean of both sides'
    * top-k mean cosines, best b per a, kept when margin >= tau). */
  def marginMine(a: Array[Array[Float]], b: Array[Array[Float]], k: Int, tau: Double): Map[Long, (Long, Double)] = {
    val cos = Array.tabulate(a.length, b.length)((i, j) => cosine(a(i), b(j)))
    def topMean(xs: Iterator[Double]): Double = { val t = xs.toArray.sorted(Ordering[Double].reverse).take(k); t.sum / t.length }
    // b's neighbourhood: its top-k over all a (the exact, fully probed case)
    val db = Array.tabulate(b.length)(j => topMean(a.indices.iterator.map(i => cos(i)(j))))
    a.indices.flatMap { i =>
      val top = b.indices.sortBy(j => (-cos(i)(j), j)).take(k)
      val da = top.map(j => cos(i)(j)).sum / top.length
      val (bj, m) = top.map(j => (j, cos(i)(j) / ((da + db(j)) / 2)))
        .sortBy { case (j, m) => (-m, j) }.head
      if (m >= tau) Some(i.toLong -> (bj.toLong, m)) else None
    }.toMap
  }

  /** Character 5-shingle Jaccard of two texts. */
  def jaccard5(a: String, b: String): Double = {
    def sh(s: String) = (0 to s.length - 5).map(i => s.substring(i, i + 5)).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 1.0 else (x & y).size.toDouble / (x | y).size
  }

  /** Survivors of cluster dedup: in each connected component of `pairs`,
    * keep the member with the highest rank (ties: lowest id). */
  def survivors(ids: Seq[Long], pairs: Seq[(Long, Long)], rank: Map[Long, Long]): Set[Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val keep = inPairs.groupBy(find).values.map(_.toSeq.minBy(id => (-rank(id), id))).toSet
    ids.filter(id => !inPairs(id) || keep(id)).toSet
  }
}
