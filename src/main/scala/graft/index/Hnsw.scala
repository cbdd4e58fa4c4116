package graft.index

import scala.collection.mutable

/** Hierarchical Navigable Small World index over float vectors —
  * independent implementation of the algorithm (Malkov & Yashunin 2016)
  * matching the reference's feature surface (`src/hnsw_index.rs`:
  * metric/m/ef_construction/ef_search options, driver-held index,
  * serialized beside the data).
  *
  * Like the reference, the graph lives in one process (the driver): HNSW
  * is a pointer-chasing structure, the wrong shape to distribute. It
  * serves low-latency point probes over up to ~10M vectors; beyond that
  * the engine's distributed IVF/LSH paths (graft.operators.Similarity)
  * are the 100 TB answer, and a probe can seed a distributed refinement.
  *
  * Determinism: level assignment hashes the insertion id (no RNG state),
  * so rebuilding from the same data yields the same graph everywhere.
  *
  * Storage is primitive arrays grown by doubling: no boxed adjacency,
  * visited set or tuple heap on the insert and search paths. Each
  * adjacency list keeps every neighbour's distance beside its node
  * number, so trimming an overflowing list sorts stored values instead
  * of recomputing them; the value is exact, because `dist(a, b)` and
  * `dist(b, a)` multiply the same pairs in the same order.
  */
@SerialVersionUID(1L)
final class Hnsw(val dim: Int, val metric: String = "cosine",
                 val m: Int = 16, val efConstruction: Int = 200)
  extends Serializable {

  require(metric == "cosine" || metric == "euclidean" || metric == "dot",
    s"unknown metric $metric")

  private val mMax0 = 2 * m
  private val levelMult = 1.0 / math.log(m.toDouble)

  // node storage, indexed by node number 0 until n
  private var n = 0
  private var ids = new Array[Long](16)
  private var vecs = new Array[Array[Float]](16)
  /** links(node)(level): neighbour node numbers, with room for one past
    * the level's bound (an insert appends, then [[shrink]] trims);
    * linkDist(node)(level) holds each neighbour's distance to the node
    * and linkCount(node)(level) the fill. A node's level is
    * `linkCount(node).length - 1`. */
  private var links = new Array[Array[Array[Int]]](16)
  private var linkDist = new Array[Array[Array[Double]]](16)
  private var linkCount = new Array[Array[Int]](16)
  private var entryPoint: Int = -1
  private var maxLevel: Int = -1
  private val deleted = new java.util.BitSet
  private var nDeleted = 0
  /** id → node index (O(1) removal; re-inserted ids point at the newest
    * node, so removing after a re-insert tombstones the live one). */
  private val idToIdx = mutable.HashMap.empty[Long, Int]

  // Search scratch, used only under the instance lock and rebuilt after
  // deserialization: `seen(node) == epoch` marks a node visited by the
  // current layer search; `cand` and `res` are its two heaps.
  @transient private var seen: Array[Int] = _
  @transient private var epoch = 0
  @transient private var cand: Hnsw.Heap = _
  @transient private var res: Hnsw.Heap = _

  def size: Int = synchronized { n - nDeleted }

  /** Distance (lower = closer) under the configured metric. */
  def distance(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var l2 = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      val d = x - y; l2 += d * d
      i += 1
    }
    metric match {
      case "euclidean" => math.sqrt(l2)
      case "dot" => -dot
      case _ =>
        val den = math.sqrt(na) * math.sqrt(nb)
        if (den == 0.0) 1.0 else 1.0 - dot / den
    }
  }

  /** Cosine fast path: stored vectors are L2-normalized at [[insert]],
    * so the metric reduces to `1 - dot` and per-hop distance calls skip
    * both norm computations and the sqrt (~3× fewer flops on the build's
    * hot path). Zero vectors stay zero → dot 0 → distance 1, matching
    * the raw-metric den==0 rule. */
  private val isCosine = metric == "cosine"
  private def prep(v: Array[Float]): Array[Float] =
    if (!isCosine) v
    else {
      var n = 0.0; var i = 0
      while (i < v.length) { n += v(i).toDouble * v(i).toDouble; i += 1 }
      if (n == 0.0 || n == 1.0) v
      else {
        val inv = 1.0 / math.sqrt(n)
        val out = new Array[Float](v.length)
        i = 0
        while (i < v.length) { out(i) = (v(i) * inv).toFloat; i += 1 }
        out
      }
    }
  /** Distance from a PREPPED query to a stored (prepped) node. */
  private def dist(q: Array[Float], node: Int): Double = {
    val b = vecs(node)
    if (isCosine) {
      var dot = 0.0; var i = 0
      while (i < q.length) { dot += q(i).toDouble * b(i).toDouble; i += 1 }
      1.0 - dot
    } else distance(q, b)
  }

  /** Deterministic level from the id (reference rebuilds reproduce the
    * same index; we get that by hashing instead of RNG). */
  private def levelFor(id: Long): Int = {
    var h = id * -7046029254386353131L + 0x9E3779B97F4A7C15L
    h ^= h >>> 33; h *= -49064778989728563L; h ^= h >>> 33
    val u = ((h >>> 11).toDouble / (1L << 53).toDouble) max 1e-12
    (-math.log(u) * levelMult).toInt
  }

  private def bound(l: Int): Int = if (l == 0) mMax0 else m

  def insert(id: Long, v0: Array[Float]): Unit = synchronized {
    require(v0.length == dim, s"vector dim ${v0.length} != index dim $dim")
    val v = prep(v0)
    if (n == ids.length) {
      val cap = 2 * n
      ids = Array.copyOf(ids, cap); vecs = Array.copyOf(vecs, cap)
      links = Array.copyOf(links, cap); linkDist = Array.copyOf(linkDist, cap)
      linkCount = Array.copyOf(linkCount, cap)
    }
    val idx = n
    val lvl = levelFor(id)
    ids(idx) = id; vecs(idx) = v; idToIdx(id) = idx
    links(idx) = Array.tabulate(lvl + 1)(l => new Array[Int](bound(l) + 1))
    linkDist(idx) = Array.tabulate(lvl + 1)(l => new Array[Double](bound(l) + 1))
    linkCount(idx) = new Array[Int](lvl + 1)
    n += 1
    if (entryPoint < 0) { entryPoint = idx; maxLevel = lvl; return }

    var ep = entryPoint
    // greedy descent through layers above the new node's level
    var l = maxLevel
    while (l > lvl) { ep = greedyClosest(v, ep, l); l -= 1 }
    // insert at each level from min(lvl, maxLevel) down to 0
    l = math.min(lvl, maxLevel)
    while (l >= 0) {
      val found = searchLayer(v, ep, efConstruction, l, null)
      val mAtL = bound(l)
      var i = 1
      while (i <= math.min(found, mAtL)) {
        val c = res.nodes(i); val d = res.keys(i)
        addLink(idx, l, c, d)
        addLink(c, l, idx, d)
        if (linkCount(c)(l) > mAtL) shrink(c, l, mAtL)
        i += 1
      }
      ep = res.nodes(1)
      l -= 1
    }
    if (lvl > maxLevel) { maxLevel = lvl; entryPoint = idx }
  }

  private def addLink(node: Int, l: Int, to: Int, d: Double): Unit = {
    val k = linkCount(node)(l)
    links(node)(l)(k) = to; linkDist(node)(l)(k) = d
    linkCount(node)(l) = k + 1
  }

  /** Keep the mBound closest neighbors of node at level l (a stable
    * sort, so equal distances keep their list order). */
  private def shrink(node: Int, l: Int, mBound: Int): Unit = {
    Hnsw.stableSort(linkDist(node)(l), links(node)(l), 0, linkCount(node)(l))
    linkCount(node)(l) = mBound
  }

  private def greedyClosest(q: Array[Float], start: Int, l: Int): Int = {
    var cur = start
    var curDist = dist(q, cur)
    var improved = true
    while (improved) {
      improved = false
      val nbrs = links(cur)(l); val cnt = linkCount(cur)(l)
      var i = 0
      while (i < cnt) {
        val d = dist(q, nbrs(i))
        if (d < curDist) { cur = nbrs(i); curDist = d; improved = true }
        i += 1
      }
    }
    cur
  }

  /** Beam search over one layer into `res`, left sorted ascending by
    * distance at `res.keys/nodes(1 to count)`; returns the count.
    * `pred`, when given, gates RESULT membership to live nodes whose id
    * passes it — the frontier always explores through non-admissible
    * nodes, which is what lets [[searchFiltered]] survive selective
    * predicates; `null` admits everything, the classic loop (then `res`
    * is seeded and never empty, so every guard degenerates to the
    * textbook condition). */
  private def searchLayer(q: Array[Float], ep: Int, ef: Int, l: Int,
                          pred: Long => Boolean): Int = {
    if (seen == null || seen.length < n) {
      seen = new Array[Int](ids.length); epoch = 0
      cand = new Hnsw.Heap; res = new Hnsw.Heap
    }
    if (epoch == Int.MaxValue) { java.util.Arrays.fill(seen, 0); epoch = 0 }
    epoch += 1
    seen(ep) = epoch
    val epDist = dist(q, ep)
    // candidates: nearest first out (keyed by -dist); results: worst first out
    cand.clear(); res.clear()
    cand.push(-epDist, ep)
    if (pred == null || !deleted.get(ep) && pred(ids(ep))) res.push(epDist, ep)
    while (cand.size > 0) {
      val negD = cand.keys(1)
      val c = cand.pop()
      if (res.size >= ef && -negD > res.topKey) cand.clear()
      else {
        val nbrs = links(c)(l); val cnt = linkCount(c)(l)
        var i = 0
        while (i < cnt) {
          val nb = nbrs(i)
          if (seen(nb) != epoch) {
            seen(nb) = epoch
            val d = dist(q, nb)
            if (res.size < ef || d < res.topKey) {
              cand.push(-d, nb)
              if (pred == null || !deleted.get(nb) && pred(ids(nb))) {
                res.push(d, nb)
                if (res.size > ef) res.pop()
              }
            }
          }
          i += 1
        }
      }
    }
    Hnsw.stableSort(res.keys, res.nodes, 1, res.size + 1)
    res.size
  }

  private def descend(q: Array[Float]): Int = {
    var ep = entryPoint
    var l = maxLevel
    while (l > 0) { ep = greedyClosest(q, ep, l); l -= 1 }
    ep
  }

  /** k nearest (id, distance) pairs; efSearch ≥ k controls recall.
    * Synchronized with the mutation path: catalog maintenance now
    * inserts/tombstones concurrently with wire-server probes, and an
    * unlocked read of the adjacency arrays during an insert could see
    * torn state (the search scratch is per instance too). Probes are
    * sub-ms and driver-local, so one lock suffices; a read-write lock is
    * the upgrade path if parallel probe throughput ever matters. */
  def search(q0: Array[Float], k: Int, efSearch: Int = 64): Seq[(Long, Double)] = synchronized {
    if (entryPoint < 0) return Seq.empty
    val q = prep(q0)
    val found = searchLayer(q, descend(q), math.max(efSearch, k), 0, null)
    val out = List.newBuilder[(Long, Double)]
    var taken = 0; var i = 1
    while (i <= found && taken < k) {
      val nd = res.nodes(i)
      if (!deleted.get(nd)) { out += ((ids(nd), res.keys(i))); taken += 1 }
      i += 1
    }
    out.result()
  }

  /** FILTERED k-NN: top-k among vectors whose id passes `pred` — the
    * metadata-restricted vector search every production vector store
    * exposes. Traversal explores the graph THROUGH non-matching nodes
    * (post-filtering the plain search would starve under selective
    * predicates: a 1%-selective filter leaves ~0.01·ef admissible rows
    * in the frontier); only matching, live nodes are ADMITTED to the
    * result heap, so `efSearch` budgets MATCHING candidates. With
    * `efSearch` ≥ the index size the layer-0 sweep visits every
    * reachable node and the result EQUALS the filtered brute force —
    * the same exhaustive-twin anchor argument the unfiltered probes
    * use. */
  def searchFiltered(q0: Array[Float], k: Int, efSearch: Int,
                     pred: Long => Boolean): Seq[(Long, Double)] = synchronized {
    if (entryPoint < 0) return Seq.empty
    val q = prep(q0)
    val found = searchLayer(q, descend(q), math.max(efSearch, k), 0, pred)
    List.tabulate(found)(i => (res.keys(i + 1), res.nodes(i + 1)))
      .sortBy { case (d, n) => (d, ids(n)) }
      .take(k).map { case (d, n) => (ids(n), d) }
  }

  /** Tombstones a live node; false when it already was one. */
  private def tombstone(idx: Int): Boolean =
    !deleted.get(idx) && { deleted.set(idx); nDeleted += 1; true }

  /** The live node holding `id`, or -1. */
  private def liveNode(id: Long): Int = {
    val idx = idToIdx.getOrElse(id, -1)
    if (idx >= 0 && !deleted.get(idx)) idx else -1
  }

  /** Tombstone delete (reference `hnsw_index.rs:33-36`); graph edges stay
    * as navigation waypoints until a rebuild. */
  def remove(id: Long): Boolean = synchronized {
    val idx = idToIdx.getOrElse(id, -1)
    idx >= 0 && tombstone(idx)
  }

  /** Insert-or-update for catalog-driven maintenance (reference
    * `src/index_manager.rs:84-126` updates indexes when the base relation
    * changes). Same id + same vector → no-op (relation inserts are set
    * semantics, so re-inserting a present tuple must not duplicate the
    * node); same id + different vector → tombstone the old node, insert
    * the new one. */
  def upsert(id: Long, v0: Array[Float]): Unit = synchronized {
    val old = liveNode(id)
    if (old < 0 || !java.util.Arrays.equals(vecs(old), prep(v0))) {
      if (old >= 0) tombstone(old)
      insert(id, v0)
    }
  }

  /** Tombstone `id` only when its live stored vector equals `v0` — an
    * exact-tuple delete whose id matches but whose vector does not must
    * leave the index untouched (the relation kept its tuple). */
  def removeMatching(id: Long, v0: Array[Float]): Boolean = synchronized {
    val idx = liveNode(id)
    idx >= 0 && java.util.Arrays.equals(vecs(idx), prep(v0)) && tombstone(idx)
  }

  /** Fraction of nodes tombstoned — past a threshold the catalog
    * auto-rebuilds (tombstones degrade recall: search draws efSearch
    * candidates BEFORE filtering them). */
  def tombstoneRatio: Double = synchronized {
    if (n == 0) 0.0 else nDeleted.toDouble / n
  }

  def stats: Map[String, Any] = synchronized { Map(
    "size" -> size, "dim" -> dim, "metric" -> metric, "m" -> m,
    "maxLevel" -> maxLevel, "tombstones" -> nDeleted,
    "tombstoneRatio" -> tombstoneRatio) }

  def save(path: String): Unit = synchronized {
    val oos = new java.io.ObjectOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(path)))
    try oos.writeObject(this) finally oos.close()
  }
}

object Hnsw {
  /** Binary max-heap of (key, node) pairs on primitive arrays, 1-based.
    * It sifts exactly as `scala.collection.mutable.PriorityQueue` does
    * under `Ordering.by(_._1)` (`java.lang.Double.compare` order), so
    * equal keys leave it in the same order as from that queue. */
  private final class Heap {
    var keys = new Array[Double](64)
    var nodes = new Array[Int](64)
    var size = 0

    def clear(): Unit = size = 0

    def topKey: Double =
      if (size > 0) keys(1) else throw new NoSuchElementException("queue is empty")

    private def lt(a: Int, b: Int): Boolean =
      java.lang.Double.compare(keys(a), keys(b)) < 0

    private def swap(a: Int, b: Int): Unit = {
      val k = keys(a); keys(a) = keys(b); keys(b) = k
      val v = nodes(a); nodes(a) = nodes(b); nodes(b) = v
    }

    def push(key: Double, node: Int): Unit = {
      size += 1
      if (size == keys.length) {
        keys = java.util.Arrays.copyOf(keys, 2 * size)
        nodes = java.util.Arrays.copyOf(nodes, 2 * size)
      }
      keys(size) = key; nodes(size) = node
      var k = size
      while (k > 1 && lt(k / 2, k)) { swap(k, k / 2); k /= 2 }
    }

    /** Removes the top pair and returns its node. */
    def pop(): Int = {
      val top = nodes(1)
      keys(1) = keys(size); nodes(1) = nodes(size)
      size -= 1
      var k = 1; var done = false
      while (!done && size >= 2 * k) {
        var j = 2 * k
        if (j < size && lt(j, j + 1)) j += 1
        if (lt(k, j)) { swap(k, j); k = j } else done = true
      }
      top
    }
  }

  /** Stable sort of `keys(from until until)` ascending in
    * `java.lang.Double.compare` order, moving `nodes` alongside. */
  private def stableSort(keys: Array[Double], nodes: Array[Int], from: Int, until: Int): Unit = {
    var i = from + 1
    while (i < until) {
      val key = keys(i)
      // first position whose key is greater: equal keys stay in front
      var lo = from; var hi = i
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (java.lang.Double.compare(keys(mid), key) > 0) hi = mid else lo = mid + 1
      }
      if (lo < i) {
        val node = nodes(i)
        System.arraycopy(keys, lo, keys, lo + 1, i - lo)
        System.arraycopy(nodes, lo, nodes, lo + 1, i - lo)
        keys(lo) = key; nodes(lo) = node
      }
      i += 1
    }
  }

  /** Reads a graph [[Hnsw.save]] wrote. A file this build cannot read
    * (another serialized layout, or not a graph) throws a
    * `java.io.ObjectStreamException`. */
  def load(path: String): Hnsw = {
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(path))
    try new java.io.ObjectInputStream(in).readObject().asInstanceOf[Hnsw]
    finally in.close()
  }

  /** The documented capacity of the driver-held graph (scaladoc above:
    * "up to ~10M vectors"). [[build]]/[[buildOpt]] ENFORCE it — past
    * this the collect itself is the OOM, so the guard must fire before
    * the driver holds the data, not after. */
  val DefaultMaxVectors: Long = 10L * 1000 * 1000

  /** Typed refusal for relations past the capacity guard, so callers
    * (the catalog's `createIndex`) can DEGRADE to the distributed ANN
    * layouts instead of pattern-matching on a message string. */
  final class CapacityExceeded(msg: String) extends IllegalArgumentException(msg)

  /** Build from a DataFrame's (id, vector) columns — collected to the
    * driver like the reference's index build (`src/index_manager.rs`).
    * Refuses relations above `maxVectors` (default [[DefaultMaxVectors]])
    * with an error naming the distributed alternatives. */
  def build(df: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String,
            metric: String = "cosine", m: Int = 16, efConstruction: Int = 200,
            maxVectors: Long = DefaultMaxVectors): Hnsw =
    buildOpt(df, idCol, vecCol, metric, m, efConstruction, maxVectors).getOrElse(
      throw new IllegalArgumentException(
        "cannot build an HNSW index over an empty relation"))

  /** [[build]] that yields None on an empty frame — the auto-rebuild path
    * after deletes may legitimately see an emptied relation. */
  def buildOpt(df: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String,
               metric: String = "cosine", m: Int = 16,
               efConstruction: Int = 200,
               maxVectors: Long = DefaultMaxVectors): Option[Hnsw] = {
    require(maxVectors > 0, "maxVectors must be positive")
    // capped collect: limit(cap+1) bounds driver memory DURING the
    // fetch (a post-hoc count after an uncapped collect would be the
    // OOM it exists to prevent); cap+1 rows back == the relation is
    // over capacity, and fewer means limit returned everything
    val capProbe = math.min(maxVectors, Int.MaxValue - 2L).toInt + 1
    val rows = df.select(idCol, vecCol).limit(capProbe).collect()
    if (rows.length >= capProbe)
      throw new CapacityExceeded(
        s"HNSW index build refused: relation exceeds $maxVectors vectors. " +
        "The driver-held HNSW graph serves low-latency probes up to ~10M " +
        "vectors; at this scale use the distributed ANN paths instead " +
        "(graft.operators.Similarity: IVF annIvf/annIvfPq, LSH annLsh, " +
        "or knnJoin), or raise maxVectors explicitly if the driver heap " +
        "is provisioned for it.")
    if (rows.isEmpty) None
    else {
      val dim = rows.head.getSeq[Float](1).length
      val idx = new Hnsw(dim, metric, m, efConstruction)
      rows.foreach { r =>
        idx.insert(r.getLong(0), r.getSeq[Float](1).toArray)
      }
      Some(idx)
    }
  }
}
