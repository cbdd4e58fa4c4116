package graft.iql

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Ast._
import Engine.{Part, Tier}
import graft.plans.{Fixpoint, SparkValues}

/** IQL execution engine: statements → catalog updates; queries →
  * DataFrames. The Spark analogue of the reference compile pipeline
  * (`src/lib.rs:589-800`): parse → safety → stratify (Tarjan SCC) →
  * demand restriction for bound recursive goals → per-stratum
  * evaluation (non-recursive: one-shot union of rule bodies;
  * recursive: semi-naive fixpoint via [[Fixpoint]]).
  */
object Engine {
  /** Which maintenance tier serves a view's carried state. */
  sealed trait Tier extends Product with Serializable
  object Tier {
    /** Production: each gate picks the driver-resident copy, the parquet
      * carrier or the Spark plan by the state's size. */
    case object Auto extends Tier
    /** Every state with a carrier form (agg support, cd pairs, grouped
      * rank buffers, within_radius views) rides its parquet carrier at
      * any size; states with no carrier form choose as under [[Auto]]. */
    case object Carrier extends Tier
    /** No driver-local twin and no carrier: the local SCC evaluator and
      * DRed, the local TC closure, the rank ride, the resident agg
      * support and the carriers are off; the distributed algebra serves. */
    case object Distributed extends Tier
  }

  /** One carried sub-state of a view that can ride a carrier: its agg
    * support table, the pairs table of one count_distinct head column,
    * its rank prefix buffer, or the whole within_radius view. */
  private[iql] sealed trait Part extends Product with Serializable
  private[iql] object Part {
    case object Support extends Part
    final case class Pairs(col: Int) extends Part
    case object Rank extends Part
    case object Radius extends Part
  }

  /** Per-engine tuning. Defaults are production; tests pin a tier. */
  final case class Limits(
    tier: Tier = Tier.Auto,
    /** Overlay-entry count past which a carrier folds into a fresh base
      * write (one amortized state-sized pass per ~24 over-cap rounds).
      * Tunable so fuzz can pin it low and exercise base-rewrite +
      * grace-dir retirement interleaved with riding rounds. */
    carrierFoldCap: Long = 49152L)

  /** Closure-size bound for the driver-local linear-TC maintenance pass;
    * above it the distributed affected-source path serves. */
  val tcLocalClosureCap: Long = 1000000L
  /** Driver-resident cap (rows) for the rank prefix-buffer local ride;
    * above it a grouped buffer rides its carrier. */
  val rankBufLocalCap: Long = 65536L
  /** Row cap under which a within_radius view keeps the per-round
    * literal materialize; above it the radius carrier rides. */
  private val RadiusCarryMinRows = 65536L

  /** Base-size ceiling (plan-stats bytes) under which a conditional
    * delete probes for the eager literal-tombstone path; above it the
    * lazy replace defers the body scan into the next maintenance round
    * (see the gate comment in [[Engine.deleteWhere]]). */
  private val DeleteLiteralMaxBaseBytes = 524288L

  /** JVM-wide scratch root for over-cap support-table parquet layouts;
    * removed on JVM exit (individual dirs retire on compaction, one
    * grace generation late — served frames may still read them). */
  private[iql] lazy val supportScratch: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-support-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteDir(p.toString)))
    p
  }
  private val supportDirSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private[iql] def supportDir(tag: String): String = {
    val safe = tag.replaceAll("[^A-Za-z0-9_-]", "_")
    supportScratch.resolve(safe + "-" + supportDirSeq.incrementAndGet()).toString
  }
  private[iql] def deleteDir(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(dir))
  }

  /** Displaced carrier dirs (fold, eviction, re-transition) retire
    * through this bounded JVM-wide FIFO instead of deleting eagerly —
    * a frame handed to a caller stays readable until 16 further
    * displacement events have happened engine-wide, and the bound
    * keeps a long-lived engine's scratch disk O(1) in view churn
    * (evictions and re-transitions used to abandon their layouts until
    * JVM exit). Contract for callers holding served frames: a result
    * read lazily more than one carrier generation after its round may
    * need re-querying — the engine itself never re-reads a retired
    * generation. */
  private val retiredDirs = new java.util.ArrayDeque[String]()
  private[iql] def retireDir(dir: String): Unit = retiredDirs.synchronized {
    retiredDirs.addLast(dir)
    while (retiredDirs.size > 16) deleteDir(retiredDirs.pollFirst())
  }
}

final class Engine(val catalog: Catalog,
    /** This engine's tuning, replaced whole. Volatile — tests flip it on
      * one thread while server/engine threads read it. */
    @volatile private[graft] var limits: Engine.Limits = Engine.Limits()) {

  /** First-k rows per group under a total sort order (reference
    * `src/code_generator/mod.rs:2462-2560` heap-based top-k). Grouped:
    * row_number over a keyed window — per-partition heaps after the
    * group shuffle. Ungrouped: orderBy+limit, which Spark executes as
    * TakeOrderedAndProject (per-partition heaps + driver merge) — never
    * a `Window.partitionBy()` global window, which would funnel the
    * whole relation through one partition. */
  private def topKRows(df: DataFrame, groups: Seq[Column], sortCols: Seq[Column], k: Long): DataFrame =
    if (groups.nonEmpty) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(groups: _*).orderBy(sortCols: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
    } else df.orderBy(sortCols: _*).limit(math.min(k, Int.MaxValue.toLong).toInt)

  /** Session rules: per-engine overlay, invisible to other engines on the
    * same catalog, surviving across [[run]] calls until [[clearSession]]
    * (reference `src/session.rs`). */
  private val sessionRules = mutable.ArrayBuffer.empty[Rule]
  /** Ephemeral session facts: rel → rows (reference `Statement::Fact`) —
    * overlaid on base relations at resolve time, never persisted. */
  private val sessionFacts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Seq[Any]]]

  def clearSession(): Unit = { sessionRules.clear(); sessionFacts.clear(); clearMatCacheRetiring() }

  def sessionSummary: (Int, Int) = (sessionRules.length, sessionFacts.values.map(_.length).sum)

  /** Add ephemeral session facts directly (wire `insert_facts` message —
    * reference session-scoped inserts, `rest/handlers/ws.rs`). */
  def addSessionFacts(rel: String, rows: Seq[Seq[Any]]): Unit = {
    sessionFacts.getOrElseUpdate(rel, mutable.ArrayBuffer.empty) ++= rows
    invalidateDependents(rel)
  }

  /** Retract ephemeral session facts; returns how many were removed
    * (wire `retract_facts`). Only the session overlay is touched. */
  def retractSessionFacts(rel: String, rows: Seq[Seq[Any]]): Int =
    sessionFacts.get(rel) match {
      case None => 0
      case Some(buf) =>
        val toRemove = rows.toSet
        val before = buf.length
        val remaining = buf.filterNot(toRemove.contains)
        buf.clear(); buf ++= remaining
        invalidateDependents(rel)
        before - buf.length
    }

  /** Drop session rules/facts for one head (reference `.session drop <name>`). */
  def dropSessionRule(name: String): Unit = {
    val remaining = sessionRules.filterNot(_.head.rel == name)
    sessionRules.clear(); sessionRules ++= remaining
    sessionFacts.remove(name)
    invalidateDependents(name)
  }

  /** Base relation + session-fact overlay (set semantics). */
  private def baseWithOverlay(name: String): Option[DataFrame] = {
    val base = catalog.relation(name)
    sessionFacts.get(name) match {
      case None => base
      case Some(rows) =>
        val tmp = new Catalog(catalog.spark)
        // carry the declared schema so session facts get the same
        // arity/type/vector-dim validation as persistent inserts
        catalog.declaredSchema(name).foreach(fs => tmp.declareSchema(name, fs))
        base.foreach(b => tmp.register(name, b))
        tmp.insert(name, rows.toSeq) // reuses schema inference/coercion+validation
        tmp.relation(name)
    }
  }

  /** `hnsw_nearest("index", Query, K, IdVar, DistVar[, EfSearch])` body
    * predicate (reference `BodyPredicate::HnswNearest`, `src/ast/mod.rs:
    * 964-982`; IR HnswScan `src/ir/mod.rs:361-376`): probes the named
    * driver-held index and joins (IdVar, DistVar) — plus the query
    * column when Query is a variable — into the body dataflow. A
    * variable query probes once per DISTINCT bound vector (driver-side
    * k-NN fan-out, the reference's own execution shape). */
  private def hnswFrame(a: Atom, cur: Option[DataFrame]): DataFrame = {
    val spark = catalog.spark
    require(a.args.length == 5 || a.args.length == 6,
      "hnsw_nearest(index, query, k, IdVar, DistVar[, efSearch])")
    val idxName = a.args(0) match {
      case Const(s: String) => s
      case other => throw new IllegalArgumentException(
        s"hnsw_nearest: index name must be a string literal, got $other")
    }
    val k = a.args(2) match {
      case Const(n: Long) if n > 0 => n.toInt
      case other => throw new IllegalArgumentException(
        s"hnsw_nearest: k must be a positive integer literal, got $other")
    }
    val (idVar, distVar) = (a.args(3), a.args(4)) match {
      case (Var(i), Var(d)) => (i, d)
      case other => throw new IllegalArgumentException(
        s"hnsw_nearest: id/distance args must be variables, got $other")
    }
    val ef = a.args.lift(5).map {
      case Const(n: Long) => n.toInt
      case other => throw new IllegalArgumentException(
        s"hnsw_nearest: efSearch must be an integer literal, got $other")
    }.getOrElse(64)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idVar,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(distVar,
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    // graph probe when the driver-held index exists; past the capacity
    // guard the name resolves to the distributed IVF fallback and each
    // probe is a cell-pruned exact scan (one Spark job — so the Var
    // fan-out cap below tightens accordingly)
    // resolve the name ONCE: a concurrent createIndex/degrade between
    // two lookups could make the fan-out cap disagree with the probe
    val resolvedIdx = catalog.indexByName(idxName)
    val distFallback = resolvedIdx.isEmpty
    val probeRows: Array[Float] => Seq[(Long, Double)] =
      resolvedIdx match {
        case Some((idx, _, _, _)) => q => idx.search(q, k, math.max(ef, k))
        case None => catalog.distByName(idxName) match {
          case Some((rel, _, vecCol)) => q =>
            catalog.hnswSearch(rel, vecCol, q, k, math.max(ef, k))
              .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          case None => throw new IllegalArgumentException(
            s"unknown index '$idxName' " +
              s"(create one with .index create $idxName on <rel>(<col>))")
        }
      }
    a.args(1) match {
      case Const(s: Seq[_]) =>
        val q = s.map {
          case f: Float => f; case d: Double => d.toFloat
          case l: Long => l.toFloat; case other => other.toString.toFloat
        }.toArray
        val rows = probeRows(q).map { case (id, d) =>
          org.apache.spark.sql.Row(id, d) }
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      case Var(qv) =>
        val curDf = cur.getOrElse(throw new IllegalArgumentException(
          s"hnsw_nearest: query variable $qv must be bound by an earlier body atom"))
        require(curDf.columns.contains(qv),
          s"hnsw_nearest: query variable $qv is unbound in the rule body")
        val qSchema = org.apache.spark.sql.types.StructType(
          curDf.select(qv).schema.fields.head +: schema.fields)
        // driver-side probe fan-out is bounded: beyond this, route the
        // bulk case through the distributed knn join
        // (graft.operators.Similarity) instead of a driver loop
        val MaxProbeQueries = if (distFallback) 64 else 100000
        val qRows = curDf.select(qv).distinct().limit(MaxProbeQueries + 1).collect()
        require(qRows.length <= MaxProbeQueries,
          s"hnsw_nearest: more than $MaxProbeQueries distinct query vectors — " +
            "use the distributed similarity join (Similarity.knnJoin) for bulk probes")
        val rows = qRows.flatMap { r =>
          val q = r.getSeq[Float](0)
          probeRows(q.toArray).map { case (id, d) =>
            org.apache.spark.sql.Row(q, id, d) }
        }
        spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), qSchema)
      case other => throw new IllegalArgumentException(
        s"hnsw_nearest: query must be a variable or vector literal, got $other")
    }
  }

  /** Materialization cache keyed by (relation, catalog version): while the
    * catalog doesn't change, a re-query serves derived relations from here
    * instead of recomputing — the v0 realization of the reference's
    * incrementally-maintained persistent rules (recompute happens lazily
    * on the first query AFTER a change, not on every query). Recursive
    * results are already RDD-materialized; non-recursive plans are cached
    * as plans (Catalyst re-executes them, but stays on the same version's
    * inputs). Bounded: only the latest version's entries are kept. */
  private[iql] val matCache = mutable.HashMap.empty[(String, Long), DataFrame]
  private def cacheGet(rel: String): Option[DataFrame] = matCache.get((rel, catalog.version))
  /** Newest cached materialization for `rel` at ANY version — the seed
    * for incremental maintenance after catalog changes. */
  private def cacheLatest(rel: String): Option[(Long, DataFrame)] =
    matCache.collect { case ((r, v), df) if r == rel => (v, df) }.maxByOption(_._1)
  private def cachePut(rel: String, df: DataFrame): Unit = {
    val v = catalog.version
    // keep ONE entry per relation (the newest) — older versions are only
    // useful as maintenance seeds and the latest seed dominates. A
    // DISPLACED entry retires its checkpoint through the Graveyard
    // (guarded below), or its blocks would stay persisted for the
    // session — one view-sized leak per recompute/maintenance round.
    matCache.foreach { case ((r, _), old) =>
      if (r == rel && !(old eq df)) retireDisplacedView(old, Some(df)) }
    matCache.filterInPlace { case ((r, ver), _) => r != rel || ver == v }
    matCache((rel, v)) = df
  }
  /** Retire a displaced cached view's checkpoint blocks via the
    * grace-period [[graft.plans.Graveyard]] (results already handed to
    * callers may still hold lazy plans over them — never free eagerly).
    * Guards make this sound by construction:
    *  - only frames whose plan ROOT is the checkpoint `LogicalRDD` (a
    *    standalone materialization this cache solely owns). Lazy plans
    *    over base tables are excluded (their leaf RDDs belong to the
    *    catalog), and so are the subtractable-aggregate views — those
    *    are PROJECTIONS of the live support table, whose lifecycle the
    *    aux-cache commit path manages;
    *  - never an RDD the replacement frame still references (an
    *    incremental merge may read the old materialization lazily);
    *  - only RDDs actually holding storage (literal/driver-computed
    *    results parallelize unpersisted — nothing to retire). */
  private def retireDisplacedView(old: DataFrame, replacement: Option[DataFrame]): Unit =
    old.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        val keptByNew = replacement.exists(_.queryExecution.logical.collectFirst {
          case n: org.apache.spark.sql.execution.LogicalRDD if n.rdd eq l.rdd => true
        }.isDefined)
        if (!keptByNew) {
          viewRetirements += 1
          graft.plans.Graveyard.buryAndDrain(Some(l.rdd))
        }
      case _ => ()
    }
  /** Observability: displaced-view retirements (tests pin that version
    * bumps stop leaking view checkpoints). */
  private[graft] var viewRetirements: Long = 0L
  /** Invalidate every cached view, retiring owned materializations
    * through the Graveyard — rule/session changes displace all views
    * at once, and without retirement each invalidation leaked every
    * checkpoint-backed view for the session. */
  private def clearMatCacheRetiring(): Unit = {
    matCache.valuesIterator.foreach(retireDisplacedView(_, None))
    matCache.clear()
    // identity-keyed collect memos hold strong refs to their frames;
    // entries for views displaced by this sweep would otherwise pin
    // superseded plans (and up to 64×4096 rows) for the engine's life.
    // Correctness never depends on these maps — identity keys plus the
    // every-mutation-swaps-the-frame-object invariant (Catalog
    // overlayRebuild/replace always build a new DataFrame) make stale
    // entries unreachable — this is purely a memory release.
    localCollectMemo.clear()
    localCollectBig.clear()
    // sweep the carried state of EVERY view, including ones whose
    // matCache entry a fallback round already displaced; left in place,
    // a later round at a matching version would merge against pre-clear
    // state (session changes don't bump the catalog version)
    views.keys.toSeq.foreach(evictAuxFor)
  }
  /** Evict `view`'s carried state ([[ViewState]]) alongside its
    * materialization. Without this, a session rule/fact change (which
    * does NOT bump the catalog version) leaves the support tables
    * stamped at the pre-change version, and the next catalog delete's
    * freshness check (`_._1 == v0`) would merge against pre-change
    * state — wrong rows for every group, since the served view is a
    * projection of the support frame. Checkpoints retire through the
    * grace-period Graveyard (results handed out may still read them
    * lazily; an RDD is buried at most once even when several evicted
    * frames share it), carrier dirs through the bounded grace queue.
    * Dropping the record also clears the over-cap markers and the
    * carrier deny-list, so a re-created view probes afresh. */
  private def evictAuxFor(view: String): Unit = views.remove(view).foreach { st =>
    val buried = mutable.HashSet.empty[Int]
    (st.support.iterator ++ st.pairs.valuesIterator).foreach { case (_, df) =>
      Fixpoint.checkpointRddOf(df).foreach { r =>
        if (buried.add(r.id)) graft.plans.Graveyard.buryAndDrain(Some(r)) } }
    st.carriers.valuesIterator.foreach(_.dirs.foreach(Engine.retireDir))
  }
  /** Dependency invalidation for session rule/fact changes naming ONE
    * relation: only cached views whose rule closure (over the
    * post-change rule set) reaches `changedRel` lose their
    * materialization; unrelated views stay live and keep serving (the
    * reference invalidates only dependents,
    * `src/derived_relations.rs:30-37`, `src/incremental.rs:77-80` —
    * displacing every view on any `.rule` add was the Spark-side
    * over-approximation). Persistent rule changes take the analogous
    * path through the change log's `rule:<head>` entries in
    * [[IdbEvaluator.tryMaintain]]. */
  private def invalidateDependents(changedRel: String): Unit = {
    val byHead = visibleRules(sessionRules.toSeq).groupBy(_.head.rel)
    def closure(view: String): Set[String] = {
      val seen = mutable.HashSet.empty[String]
      def go(rel: String): Unit = if (seen.add(rel))
        byHead.getOrElse(rel, Seq.empty).foreach(_.body.foreach {
          case Pos(a) => go(a.rel)
          case Neg(a) => go(a.rel)
          case _ => ()
        })
      go(view)
      seen.toSet
    }
    val affected = matCache.keysIterator.map(_._1).toSet
      .filter(v => closure(v)(changedRel))
    matCache.foreach { case ((r, _), df) =>
      if (affected(r)) retireDisplacedView(df, None) }
    matCache.filterInPlace { case ((r, _), _) => !affected(r) }
    // the carried state of an affected view belongs to the displaced
    // rule set — evict it with the materialization (it keeps its version
    // stamp otherwise, and session changes don't bump the catalog
    // version, so the stale-version freshness check alone cannot catch
    // it). Carried state can exist without a live matCache entry, so the
    // affected set is recomputed over the carried views.
    views.keys.filter(v => closure(v)(changedRel)).toSeq.foreach(evictAuxFor)
  }
  /** Observability: how many resolves were served by incremental
    * maintenance instead of recomputation (tests assert on this). A view
    * no change reaches is re-stamped, which is not counted. */
  private[graft] var maintainedCount: Long = 0L
  /** Observability: linear-TC maintenance rounds served by the
    * driver-local closure pass (under [[Engine.tcLocalClosureCap]]). */
  private[graft] var tcLocalRounds: Long = 0L

  /** Observability: count_distinct delta-merges served (tests pin the
    * path, not just the result). */
  private[graft] var cdMergedCount: Long = 0L
  /** Observability: rank riding rounds merged entirely driver-locally
    * (the cap-gated fast path; tests pin it). */
  private[graft] var rankLocalRides: Long = 0L

  /** Everything a maintained view carries between rounds besides its
    * materialization — the Spark analogue of the per-group multiset the
    * reference keeps in its DD arrangements
    * (`src/derived_relations.rs:1-60`, BENCHMARKS.md:91-93). Seeded
    * lazily on a view's first maintenance round that needs it, carried
    * forward O(delta)-updated, newest version only, and dropped whole
    * by [[evictAuxFor]]. */
  private final class ViewState {
    /** COMBINED per-group state for subtractable-aggregate maintenance
      * (sum/count under DELETES): the view row itself plus, per group,
      * the body-binding count `__n` and per sum column i the
      * non-null-value count `__nn_i` — what a per-group DECREMENT needs
      * that the view alone doesn't carry (a group whose support hits 0
      * must VANISH, and a sum whose last non-null contributor left must
      * go null; neither is decidable from the cached sum). A key-less
      * head is the one-group case. The served view is a projection of
      * this one materialized frame, so each riding round is one dirty
      * collect + one map-only update pass. For a
      * top_k view this slot holds the carried prefix buffer instead
      * ([[maintainRankBuffered]]). Version-stamped. */
    var support: Option[(Long, DataFrame)] = None
    /** COUNT_DISTINCT state by head column: the (group-keys, value)
      * binding pairs WITH their binding-support counts (`__s`) — what
      * makes count_distinct maintenance O(delta) in both directions:
      * inserts anti-join for genuinely-new pairs (per-group increments
      * merge by addition) and bump supports of matched pairs; deletes
      * decrement supports, and only a pair whose LAST binding goes
      * (support hits 0) decrements the distinct count. Version-stamped. */
    val pairs = mutable.HashMap.empty[Int, (Long, DataFrame)]
    /** Driver-resident row copies of the support table, the pairs tables
      * and the rank buffer, valid only while their frame IS the live
      * entry (identity-checked on read, so stale copies are inert): a
      * round whose state fits the cap reads dirty rows by map lookup and
      * commits a literal frame — no state-sized Spark action. */
    val local = mutable.HashMap.empty[Part, (DataFrame, Array[org.apache.spark.sql.Row])]
    /** Parts whose state once exceeded the resident cap — they stop
      * probing; the carrier or the distributed update is their shape. */
    val big = mutable.HashSet.empty[Part]
    val carriers = mutable.HashMap.empty[Part, Carrier]
    /** Parts whose state failed the parquet round-trip — the legacy
      * distributed commit keeps serving those until the view is evicted
      * (a transient IO failure must not pin a re-created view to the
      * O(view) commit for the engine's lifetime). */
    val carrierNo = mutable.HashSet.empty[Part]
    /** Exact VIEW-LEVEL delta surfaced by a maintenance path that can
      * NAME its change (per-group decrement replacements, key-less heads
      * included, rank prefix-buffer merges, support-table seeds and
      * dirty-group replacements, the last two from bounded old/new slice
      * collects): (fromVersion, toVersion, inserted view rows,
      * removed view rows), driver-local and bounded. Consumed by the
      * stacked-view stratum-diff injection in [[IdbEvaluator.tryMaintain]]
      * — an upper view maintaining through a positive/negated DERIVED
      * dependency reads the lower stratum's delta HERE instead of
      * re-deriving it by two view-sized old-vs-new anti-joins (the
      * reference propagates the lower stratum's delta directly through
      * its stacked DD arrangements, `src/incremental.rs:77-80`). Rows are
      * the SET-level diff (new ∖ old / old ∖ new under Spark's <=> float
      * normalization), so downstream delta binding, decrement, and DRed
      * reconstruction see exactly what the anti-join diff would have
      * produced. Consumed only when BOTH stamps match the consumer's
      * round (fromVersion == the upper view's v0 snapshot version,
      * toVersion == the current catalog version) — anything stale misses
      * and falls back to the anti-join diff. */
    var namedDelta: Option[(Long, Long, Seq[org.apache.spark.sql.Row],
      Seq[org.apache.spark.sql.Row])] = None
    /** A round that proved the view unchanged from `from` to `to` moves
      * every state stamped `from` along — stranded at `from`, the next
      * REAL round would reseed from a full body pass. */
    def restamp(from: Long, to: Long): Unit = {
      def re(v: Long) = if (v == from) to else v
      support = support.map { case (v, df) => (re(v), df) }
      pairs.mapValuesInPlace { case (_, (v, df)) => (re(v), df) }
    }
  }
  private val views = mutable.HashMap.empty[String, ViewState]
  private def state(view: String): ViewState =
    views.getOrElseUpdate(view, new ViewState)

  /** OVER-CAP carried state on the keyed-parquet scale path. Past the
    * driver-resident cap the old commit re-materialized the WHOLE
    * support table behind an anti-join every round — O(lower-view) per
    * 20-tuple delta (the r13 `stacked_agg_lower_requery` 1.81×-at-10×
    * weak). Instead: the table is written ONCE into a range-partitioned
    * key-SORTED parquet layout (`base`, immutable — min/max row-group
    * and page stats make key-point scans pruned) and each round's
    * replacements/tombstones accumulate in the driver `overlay` keyed
    * by group key. A round's dirty read = overlay lookups + one
    * IN-prefiltered pruned scan of `base` for the keys the overlay
    * doesn't hold; its commit = pure driver bookkeeping — both bounded
    * by the delta, never the view. The served frame is base ANTI
    * overlay-keys UNION overlay-survivors, rebuilt per commit from the
    * same two parts (constant plan depth); when the overlay outgrows
    * [[Engine.Limits.carrierFoldCap]] it folds into a fresh base write
    * (one amortized view-sized pass per ~24 over-cap rounds). The
    * reference holds this state as DD arrangements updated in place
    * (`src/incremental.rs:77-80`); a log-structured base+overlay is the
    * storage-backed equivalent — an LSM level-0 in driver memory over
    * an immutable sorted run.
    *
    * ONE carrier class serves every [[Part]] of a view's state: the agg
    * support table, the cd pairs tables, the rank prefix buffer and a
    * big within_radius view. KEYED carriers hold a driver overlay of
    * per-key replacement row-sets (empty set = tombstone) over the
    * immutable base; they are one of the three homes [[homeOf]] picks,
    * read by [[homeDirty]] and written by [[homeCommit]]. The RADIUS
    * carrier is a bag filter (base ∖ rem ⊎ ins): [[radiusCarryRound]]
    * keeps its two bags and shares [[carrierOpen]] and [[carrierFold]]
    * with the keyed carriers. */
  private final class Carrier(
      val tag: String, val colNames: Seq[String], val keyNames: Seq[String],
      var dir: String, var base: DataFrame,
      var served: DataFrame, var prevDir: Option[String]) {
    /** Literal-frame schema: the logical frame's, nullable (parquet
      * round-trips may widen nullability — unions must stay aligned). */
    var litSchema: org.apache.spark.sql.types.StructType = _
    val overlay =
      mutable.LinkedHashMap.empty[Seq[Any], Seq[org.apache.spark.sql.Row]]
    var overlayRows: Long = 0L
    /** Radius-carrier bags (unused by keyed carriers). */
    val remBag = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val insBag = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def dirs: Seq[String] = dir +: prevDir.toSeq
  }

  /** Fold `frame` into a fresh base write for `st` ([[writeBase]]); the
    * displaced dir ages through the grace queue, so frames handed out
    * earlier keep reading. The caller clears its overlay or bags. */
  private def carrierFold(st: Carrier, frame: DataFrame): Unit = {
    val (dir2, base2) = writeBase(st.tag, frame, st.colNames, st.keyNames)
    st.prevDir.foreach(Engine.retireDir)
    st.prevDir = Some(st.dir)
    st.dir = dir2
    st.base = base2
    carrierFolds += 1
  }
  /** Observability: over-cap rounds committed via the overlay. */
  private[graft] var supportParquetRounds: Long = 0L
  /** Observability: over-cap rank rounds committed via the overlay. */
  private[graft] var rankParquetRides: Long = 0L
  /** Observability: riding rounds committed via the radius carry. */
  private[graft] var radiusCarryRides: Long = 0L
  /** Observability: carrier folds (base rewrites) — the fold-boundary
    * fuzz pins the cap low and asserts several fire mid-stream. */
  private[graft] var carrierFolds: Long = 0L

  /** Write `frame` as a carrier base in a fresh scratch dir: ONE
    * range-partitioned key-SORTED parquet write (min/max row-group and
    * page stats make key-point scans pruned; an unkeyed radius base
    * writes as-is), read back as the immutable base. */
  private def writeBase(tag: String, frame: DataFrame, colNames: Seq[String],
      keyNames: Seq[String]): (String, DataFrame) = {
    val dir = Engine.supportDir(tag)
    val keyCols = keyNames.map(col)
    val laidOut =
      if (keyNames.isEmpty) frame
      else frame.repartitionByRange(32, keyCols: _*)
        .sortWithinPartitions(keyCols: _*)
    laidOut.write.mode("overwrite").parquet(dir)
    (dir, catalog.spark.read.parquet(dir).select(colNames.map(col): _*))
  }

  /** Transition `frame` into `view`'s `part` carrier ([[writeBase]]).
    * `servedMarker` is the served identity when the caller serves a
    * different frame object (cd pairs, radius). Replacing an existing
    * carrier retires its dirs through the grace queue; a failed write
    * lands the part in the view's [[ViewState.carrierNo]]. */
  private def carrierOpen(view: String, part: Part, frame: DataFrame,
      keyNames: Seq[String], servedMarker: DataFrame): Option[Carrier] = {
    val vs = state(view)
    if (vs.carrierNo(part)) return None
    try {
      val tag = s"$view-$part"
      val (dir, base) = writeBase(tag, frame, frame.columns.toSeq, keyNames)
      vs.carriers.remove(part).foreach(_.dirs.foreach(Engine.retireDir))
      val st = new Carrier(tag, frame.columns.toSeq, keyNames, dir, base,
        servedMarker, None)
      st.litSchema = org.apache.spark.sql.types.StructType(
        frame.schema.fields.map(_.copy(nullable = true)))
      vs.carriers(part) = st
      Some(st)
    } catch { case scala.util.control.NonFatal(_) =>
      vs.carrierNo += part; None }
  }

  /** Touched-key rows of a keyed carrier: overlay hits plus ONE
    * IN-prefiltered, broadcast-semi-joined base scan for the misses
    * (never a state-sized pass). On an unliteralizable key type the
    * scan retries unpruned and filters driver-side via `rowKey`. None
    * past `cap` rows or on IO failure — the caller falls back. */
  private def carrierDirty(st: Carrier, keys: Seq[Seq[Any]], cap: Int,
      rowKey: org.apache.spark.sql.Row => Seq[Any]):
      Option[Array[org.apache.spark.sql.Row]] =
    try {
      val (hit, miss) = keys.partition(st.overlay.contains)
      val fromOverlay = hit.flatMap(st.overlay(_))
      val fromBase: Array[org.apache.spark.sql.Row] =
        if (miss.isEmpty) Array.empty
        else try {
          sideOn(st.base.where(pqKeyIn(st.keyNames, miss)),
            keyLit(miss, st.base, st.keyNames), st.keyNames, anti = false)
            .limit(cap + 2).collect()
        } catch { case scala.util.control.NonFatal(_) =>
          val missSet = miss.map(_.toSeq).toSet
          sideOn(st.base, keyLit(keys, st.base, st.keyNames), st.keyNames,
            anti = false).limit(cap + 2).collect()
            .filter(row => missSet(rowKey(row).toSeq))
        }
      val all = (fromOverlay ++ fromBase).toArray
      if (all.length > cap) None else Some(all)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** O(delta) commit of a keyed carrier round: per-key replacement
    * row-sets land in the overlay; past the fold cap the overlay folds
    * into a fresh keyed base write (one amortized state-sized pass per
    * ~24 over-cap rounds — the displaced dir ages through the grace
    * queue, so frames handed out earlier keep reading). Returns the
    * fresh served frame — base ANTI overlay-keys UNION overlay rows at
    * constant plan depth — and records it as the carrier's identity. */
  private def carrierCommit(st: Carrier,
      updates: Iterator[(Seq[Any], Seq[org.apache.spark.sql.Row])]): DataFrame = {
    val spark = catalog.spark
    updates.foreach { case (k, rows) =>
      val prev = st.overlay.get(k).map(_.length.toLong).getOrElse(0L)
      st.overlay(k) = rows
      st.overlayRows += rows.length.toLong - prev
    }
    def ovLit: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(
        st.overlay.valuesIterator.flatten.toSeq: _*), st.litSchema)
    def ovAnti: DataFrame = sideOn(st.base,
      keyLit(st.overlay.keys, st.base, st.keyNames), st.keyNames, anti = true)
    if (math.max(st.overlay.size.toLong, st.overlayRows) > limits.carrierFoldCap) {
      carrierFold(st, ovAnti.union(ovLit))
      st.overlay.clear(); st.overlayRows = 0L
    }
    val served =
      if (st.overlay.isEmpty) st.base.select(st.colNames.map(col): _*)
      else ovAnti.union(ovLit)
    st.served = served
    served
  }

  /** Where one keyed carried part of a view (agg support, cd pairs,
    * rank buffer) lives this round: its driver-resident rows, its keyed
    * [[Carrier]], or only its frame (the distributed commit). */
  private sealed trait Home
  private object Home {
    case class Resident(rows: Array[org.apache.spark.sql.Row]) extends Home
    case class Carried(st: Carrier) extends Home
    case object FrameOnly extends Home
  }

  /** The one home decision for a keyed part. A resident copy or a
    * carrier still serving `marker` (the frame object the view carries,
    * `frame` itself unless the caller renamed it) keeps its home.
    * Otherwise a part not yet marked [[ViewState.big]] collects up to
    * `cap` rows and becomes resident; past the cap it is marked big and
    * rides a new carrier. `Tier.Carrier` skips the resident probe for
    * every part with a carrier form (a keyed one). `Tier.Distributed`, a
    * denied carrier and an unkeyed part past the cap leave the frame
    * only. */
  private def homeOf(view: String, part: Part, frame: DataFrame,
      keyNames: Seq[String], cap: Long, marker: DataFrame): Home = {
    val vs = state(view)
    val probeCap = limits.tier match {
      case Tier.Distributed => return Home.FrameOnly
      case Tier.Carrier if keyNames.nonEmpty => None
      case _ => Some(cap)
    }
    vs.local.get(part).collect { case (f, rows) if f eq marker => Home.Resident(rows) }
      .orElse(vs.carriers.get(part).filter(_.served eq marker).map(Home.Carried))
      .getOrElse {
        val fits = probeCap.filterNot(_ => vs.big(part)).flatMap { c =>
          val got = Fixpoint.collectUpTo(frame, c)
          if (got.isEmpty) vs.big += part
          got
        }
        fits match {
          case Some(rows) => vs.local(part) = (marker, rows); Home.Resident(rows)
          case None if keyNames.isEmpty => Home.FrameOnly
          case None => carrierOpen(view, part, frame, keyNames, marker)
            .fold[Home](Home.FrameOnly)(Home.Carried)
        }
      }
  }

  /** A keyed row's normalized key: its `keyNames` columns by position in
    * `frame`'s schema (carrier base and overlay rows share that order). */
  private def rowKeyOf(frame: DataFrame,
      keyNames: Seq[String]): org.apache.spark.sql.Row => Seq[Any] = {
    val pos = keyNames.map(frame.schema.fieldIndex)
    row => pos.map(p => SparkValues.key(row.get(p)))
  }

  /** The rows of `keys` in a keyed part's home: the resident rows
    * filtered by key, the carrier's overlay plus one pruned base scan
    * ([[carrierDirty]]), or a broadcast semi-join of the frame. None past
    * `cap` rows or on a carrier IO failure; the caller then bails. */
  private def homeDirty(home: Home, frame: DataFrame, keyNames: Seq[String],
      keys: Iterable[Seq[Any]], cap: Int): Option[Array[org.apache.spark.sql.Row]] = {
    val keyOf = rowKeyOf(frame, keyNames)
    val got = home match {
      case Home.Resident(rows) =>
        val ks = keys.toSet
        rows.filter(row => ks(keyOf(row)))
      case Home.Carried(st) => return carrierDirty(st, keys.toSeq, cap, keyOf)
      case Home.FrameOnly =>
        sideOn(frame, keyLit(keys, frame, keyNames), keyNames, anti = false)
          .limit(cap + 2).collect()
    }
    if (got.length > cap) None else Some(got)
  }

  /** Commit a keyed part's round: the rows of every key in `keys` are
    * replaced by its rows in `fresh` (none: the key is gone). Resident:
    * one literal frame of the untouched and fresh rows, which becomes the
    * resident copy. Carrier: [[carrierCommit]]. Frame only: the untouched
    * rows behind a broadcast anti-join, unioned with the fresh rows and
    * materialized. Returns the part's new frame. */
  private def homeCommit(view: String, part: Part, home: Home,
      frame: DataFrame, keyNames: Seq[String], keys: Iterable[Seq[Any]],
      fresh: Seq[org.apache.spark.sql.Row]): DataFrame = {
    val vs = state(view)
    val spark = catalog.spark
    val keyOf = rowKeyOf(frame, keyNames)
    val schema = org.apache.spark.sql.types.StructType(
      frame.schema.fields.map(_.copy(nullable = true)))
    vs.local.remove(part)
    home match {
      case Home.Resident(rows) =>
        val ks = keys.toSet
        val full = rows.filterNot(row => ks(keyOf(row))) ++ fresh
        val out = spark.createDataFrame(java.util.Arrays.asList(full.toSeq: _*), schema)
        vs.local(part) = (out, full)
        out
      case Home.Carried(st) =>
        val byKey = fresh.groupBy(keyOf)
        carrierCommit(st, keys.iterator.map(k => k -> byKey.getOrElse(k, Seq.empty)))
      case Home.FrameOnly =>
        val literal = spark.createDataFrame(
          spark.sparkContext.parallelize(fresh,
            Fixpoint.parallelizeParts(fresh.size.toLong)), schema)
        Fixpoint.materialize(
          sideOn(frame, keyLit(keys, frame, keyNames), keyNames, anti = true)
            .union(literal)).df
    }
  }

  /** One within_radius riding round over the carry (bag form of the
    * [[Carrier]] — the view is a bag FILTER, so after r rounds it is
    * exactly base ∖ Rem ⊎ Ins for the accumulated removed/inserted
    * binding bags; the old round committed a view-sized
    * `materialize(except∪union)` per round). Riding rounds collect the
    * two DELTA-bound bag frames, cancel fresh removals against the
    * carried insert bag (bag-exact — preserves sequential except/union
    * semantics), and serve base.exceptAll(remLit).union(insLit) at
    * constant plan depth; bags past the cap fold into a fresh base
    * write (amortized). Gated to plan-stats-big views
    * ([[Engine.RadiusCarryMinRows]]) — small views keep the literal
    * materialize round the test corpus pins. None → the caller falls
    * back to that literal round. */
  private def radiusCarryRound(name: String, cached: DataFrame,
      cols: Seq[String], remRanked: DataFrame,
      insRanked: DataFrame): Option[DataFrame] = {
    val vs = state(name)
    val smallCap = limits.tier match {
      case Tier.Distributed => return None
      case Tier.Carrier => 0L
      case Tier.Auto => Engine.RadiusCarryMinRows
    }
    if (vs.carrierNo(Part.Radius)) return None
    val spark = catalog.spark
    def drop(): Unit =
      vs.carriers.remove(Part.Radius).foreach(_.dirs.foreach(Engine.retireDir))
    val carried = vs.carriers.get(Part.Radius).filter(_.served eq cached)
    if (carried.isEmpty && collectMemoized(cached, smallCap).isDefined)
      return None // small view: the corpus-pinned literal round serves
    val remRows = Fixpoint.collectUpTo(remRanked, 8192L).getOrElse {
      drop(); return None // over-cap delta: fall back
    }
    val insRows = Fixpoint.collectUpTo(insRanked, 8192L).getOrElse {
      drop(); return None
    }
    val st = carried.orElse(
      carrierOpen(name, Part.Radius, cached.toDF(cols: _*), Seq.empty,
        servedMarker = cached)).getOrElse(return None)
    // cancel fresh removals against the carried INSERT bag first (any
    // matching between equal rows is equivalent in a bag); the leftover
    // joins the rem bag, whose copies exact-removal guarantees exist in
    // the base. Keys follow Spark's set-op equality.
    def bagKey(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map(SparkValues.key)
    val remain = mutable.HashMap.empty[Seq[Any], Int]
    st.insBag.foreach(r =>
      remain.updateWith(bagKey(r))(c => Some(c.getOrElse(0) + 1)))
    val remLeft = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    remRows.foreach { r =>
      val k = bagKey(r)
      remain.get(k) match {
        case Some(c) if c > 0 => remain(k) = c - 1
        case _ => remLeft += r
      }
    }
    val newIns = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    st.insBag.foreach { r =>
      val k = bagKey(r)
      val c = remain.getOrElse(k, 0)
      if (c > 0) { newIns += r; remain(k) = c - 1 }
    }
    st.insBag.clear(); st.insBag ++= newIns
    st.remBag ++= remLeft
    st.insBag ++= insRows
    def bagLit(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), st.litSchema)
    // serve: UNTOUCHED base rows pass through a broadcast anti
    // (map-only); only the slice matching a removed row's key pays the
    // bag-exact exceptAll shuffle — a query is one base scan plus a
    // rem-bounded shuffle, and the round itself ran zero view-sized work
    def serveFrame(): DataFrame =
      if (st.remBag.isEmpty && st.insBag.isEmpty)
        st.base.select(cols.map(col): _*)
      else if (st.remBag.isEmpty) st.base.union(bagLit(st.insBag.toSeq))
      else {
        val remKeys = bagLit(st.remBag.distinct.toSeq)
        val untouched = Fixpoint.antiNullSafe(st.base, remKeys,
          hintBroadcast = true)
        val touched = Fixpoint.semiNullSafe(st.base, remKeys,
          hintBroadcast = true)
        val kept = touched.exceptAll(bagLit(st.remBag.toSeq))
        val out = untouched.union(kept)
        if (st.insBag.isEmpty) out else out.union(bagLit(st.insBag.toSeq))
      }
    if (st.remBag.size + st.insBag.size > limits.carrierFoldCap) {
      // fold the bags into a fresh base write (amortized)
      try {
        carrierFold(st, serveFrame())
        st.remBag.clear(); st.insBag.clear()
      } catch { case scala.util.control.NonFatal(_) =>
        drop(); vs.carrierNo += Part.Radius; return None }
    }
    val served = serveFrame()
    st.served = served
    radiusCarryRides += 1
    Some(served)
  }

  // dirty-row selection/exclusion via BROADCAST semi/anti joins
  // against a literal key frame — never a reduce-built OR predicate
  // (a 1000-term Or tree overflows the column-conversion stack, and
  // a join is what the predicate was emulating anyway)
  private def keyLit(keys: Iterable[Seq[Any]], schemaFrom: DataFrame,
                     names: Seq[String]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      names.map(n => schemaFrom.schema(n).copy(nullable = true)))
    catalog.spark.createDataFrame(
      catalog.spark.sparkContext.parallelize(
        keys.iterator.map(k => org.apache.spark.sql.Row.fromSeq(k)).toSeq, 1),
      schema)
  }
  private def sideOn(big: DataFrame, small: DataFrame, names: Seq[String],
                     anti: Boolean): DataFrame = {
    // key-less: `small` holds the empty key (one row) or nothing
    val cond = names.map(c => col(s"__b.`$c`") <=> col(s"__s.`$c`"))
      .reduceOption(_ && _).getOrElse(lit(true))
    big.alias("__b").join(broadcast(small.alias("__s")), cond,
      if (anti) "left_anti" else "left_semi")
  }

  /** Per-column IN superset of `keys`, pushed into the parquet scan for
    * row-group/page pruning; EXACTNESS comes from the broadcast
    * semi-join stacked above it (multi-key supersets over-select). */
  private def pqKeyIn(keyNames: Seq[String], keys: Seq[Seq[Any]]): Column =
    keyNames.zipWithIndex.map { case (kn, j) =>
      val vals = keys.map(_(j))
      val nn = vals.filter(_ != null).distinct
      val c0 = if (nn.isEmpty) lit(false) else col(kn).isin(nn: _*)
      if (vals.contains(null)) c0 || col(kn).isNull else c0
    }.reduce(_ && _)
  /** Observability: subtractable rounds committed via the resident copy. */
  private[graft] var aggLocalRounds: Long = 0L
  /** Views whose exact delta a consumer wants THIS resolve — lets paths
    * where naming costs extra Spark actions (dirty-group's bounded
    * old/new collects) skip the work on ordinary top-level rounds. */
  private val namedDeltaWanted = mutable.HashSet.empty[String]
  /** Observability: stratum-diff injections served by a named delta
    * instead of the O(lower-view) anti-join diff (tests pin the path). */
  private[graft] var namedDeltaInjects: Long = 0L
  private def recordNamedDelta(view: String, v0: Long,
      ins: Seq[org.apache.spark.sql.Row],
      rem: Seq[org.apache.spark.sql.Row]): Unit =
    if (ins.length <= 4096 && rem.length <= 4096)
      state(view).namedDelta = Some((v0, catalog.version, ins, rem))
  /** NAME the view-level delta of a round that can only change the rows
    * `dirty` keeps, when a stacked-view consumer asked for it: two
    * bounded key-filtered collects (a filter or broadcast semi-join
    * each) pin the exact old/new dirty slices; everything else is
    * provably unchanged. Gated on demand — an ordinary top-level round
    * must not pay the two extra jobs. */
  private def recordDirtySliceDelta(view: String, v0: Long,
      before: DataFrame, after: DataFrame, dirty: DataFrame => DataFrame): Unit =
    if (namedDeltaWanted(view)) {
      for {
        oldRows <- Fixpoint.collectUpTo(dirty(before), 4096L)
        newRows <- Fixpoint.collectUpTo(dirty(after), 4096L)
      } {
        def keyed(rs: Array[org.apache.spark.sql.Row])
            : Map[Seq[Any], org.apache.spark.sql.Row] =
          rs.iterator.map(r =>
            (r.toSeq.map(SparkValues.key): Seq[Any]) -> r).toMap
        val om = keyed(oldRows); val nm = keyed(newRows)
        recordNamedDelta(view, v0,
          nm.collect { case (kk, r) if !om.contains(kk) => r }.toSeq,
          om.collect { case (kk, r) if !nm.contains(kk) => r }.toSeq)
      }
    }
  /** Views whose first tiny-literal-delete round took the dirty-group
    * path instead of seeding a support table (the 2-competitive seed
    * deferral in [[maintainAggSubtractable]]) — a second such round
    * seeds. A workload signal, not cached state: never invalidated. */
  private val seedDeferredOnce = mutable.HashSet.empty[String]
  /** Identity-keyed memo for driver-local collects of UNCHANGED small
    * frames: the in-process DRed re-collects every unchanged body rel
    * each round, but an untouched relation keeps its exact frame object
    * (mutations swap it), so identity hits are safe by construction and
    * a stable dimension rel costs its collect job once per session
    * instead of once per round. Bounded: only results ≤4096 rows enter,
    * at most 64 entries (cleared wholesale when full — entries for
    * displaced frames age out with the sweep). */
  private val localCollectMemo =
    new java.util.IdentityHashMap[DataFrame, Array[org.apache.spark.sql.Row]]()
  /** Frames observed OVER a collect cap, keyed by identity with the
    * FAILED cap — a stable big frame (an unchanged 600k base) then
    * answers "not small" at that cap or below without re-scanning every
    * round, while a larger-cap caller (the in-process DRed's 200k-row
    * collects) still gets its own attempt. Mutated frames are new
    * objects and re-probe, which is one early-stopping CollectLimit
    * job. */
  private val localCollectBig =
    new java.util.IdentityHashMap[DataFrame, java.lang.Long]()
  private def collectMemoized(df: DataFrame,
      cap: Long): Option[Array[org.apache.spark.sql.Row]] =
    if (Option(localCollectBig.get(df)).exists(c => cap <= c)) None
    else Option(localCollectMemo.get(df)).filter(_.length <= cap).orElse {
      val got = Fixpoint.collectUpTo(df, cap)
      got match {
        case Some(rows) if rows.length <= 4096 =>
          if (localCollectMemo.size >= 64) localCollectMemo.clear()
          localCollectMemo.put(df, rows)
        case None =>
          if (localCollectBig.size >= 256) localCollectBig.clear()
          val prev = Option(localCollectBig.get(df)).map(_.longValue).getOrElse(0L)
          localCollectBig.put(df, math.max(prev, cap))
        case _ => ()
      }
      got
    }
  /** Observability: delete/mixed rounds served by the head-link
    * restricted recompute (nonrecursive views; tests pin that the
    * negated-derived scenario rides it instead of the DRed phases). */
  private[graft] var linkMaintains: Long = 0L
  /** Observability: delete rounds served by per-group decrement, and
    * how many of those had to (re)seed the support table — tests pin a
    * second delete round riding the carried-forward table. */
  private[graft] var aggDecrementCount: Long = 0L
  private[graft] var auxSupportSeeds: Long = 0L
  /** Observability: cd pairs-table seeds — tests pin that no-op rounds
    * keep the carried tables current instead of stranding them at a
    * stale version (which would force a body-scan reseed next round). */
  private[graft] var cdPairsSeeds: Long = 0L
  /** Observability: rank-view (top_k) delete/mixed rounds served by the
    * carried prefix-buffer update, and how many of those (re)seeded the
    * buffer — tests pin later rounds riding the carried buffer. */
  private[graft] var rankDecrementCount: Long = 0L
  private[graft] var rankBufferSeeds: Long = 0L
  /** Observability: rounds served by per-dirty-group recomputation —
    * tests pin that negation-driven agg/rank changes take it instead of
    * a full recompute. */
  private[graft] var dirtyGroupMaintains: Long = 0L

  /** Execute a whole program; returns the result of each `?` query in
    * order. Rules defined in the program (session or persistent) are
    * visible to subsequent statements and later runs. */
  def run(src: String): Seq[DataFrame] = {
    val prog = Parser.parseProgram(src)
    val results = Seq.newBuilder[DataFrame]
    prog.statements.foreach {
      case q: Query => results += evalQuery(q)
      case other => runOne(other)
    }
    results.result()
  }

  /** Like [[run]], but statement failures print-and-continue instead of
    * aborting the program — the reference client's behavior (its error
    * corpus inserts bad statements mid-script and continues). Failed
    * queries yield an empty marker so callers can stay aligned. */
  def runTolerant(src: String): Seq[Either[String, DataFrame]] = {
    val prog = Parser.parseProgram(src)
    val results = Seq.newBuilder[Either[String, DataFrame]]
    prog.statements.foreach { st =>
      try st match {
        case q: Query => results += Right(evalQuery(q))
        case other => runOne(other)
      } catch {
        case e: Exception => st match {
          case _: Query => results += Left(e.getMessage)
          case _ => () // non-query failure: statement skipped
        }
      }
    }
    results.result()
  }

  /** Execute one non-query statement (a query is a no-op here). */
  private def runOne(st: Statement): Unit = st match {
    case InsertFacts(rel, rows) => catalog.insert(rel, rows)
    case SessionFact(rel, row) =>
      sessionFacts.getOrElseUpdate(rel, mutable.ArrayBuffer.empty) += row
      invalidateDependents(rel)
    case DeleteFacts(rel, rows) => catalog.delete(rel, rows)
    case DropRelation(rel) => catalog.dropRelation(rel)
    case RuleDef(rule) =>
      if (rule.persistent) catalog.addRule(rule)
      else if (!sessionRules.contains(rule)) { // dedup identical re-adds
        sessionRules += rule; invalidateDependents(rule.head.rel)
      }
    case DeleteWhere(atom, body) => deleteWhere(atom, body)
    case SchemaDecl(rel, fields) => catalog.declareSchema(rel, fields)
    case TypeAlias(alias, base) => catalog.addTypeAlias(alias, base)
    case Update(del, ins, body) => update(del, ins, body)
    case _: Query => ()
  }

  /** All rules visible right now: persistent + session. */
  private def visibleRules(session: Seq[Rule]): Seq[Rule] = catalog.rules ++ session

  /** Rules and a resolver reflecting the engine's current state — used by
    * provenance backward chaining (reference reconstructs proofs over
    * rules + materialized data, `src/provenance/backward_chaining.rs`). */
  def currentRules: Seq[Rule] = visibleRules(sessionRules.toSeq)
  def newResolver(): RuleCompiler.Resolver =
    new IdbEvaluator(currentRules, Map.empty).resolve

  // ------------------------------------------------------------ queries

  /** Observability: how many queries ran through the full magic-sets
    * rewrite, and the demand-restricted frame of the last one (tests
    * assert the restriction actually shrinks the fixpoint). */
  private[graft] var magicRewrites: Long = 0L
  private[graft] var lastMagicFrame: Option[DataFrame] = None
  /** How many rule derivations reused an already-computed shared body
    * (subplan sharing; tests assert CSE actually fires). */
  private[graft] var sharedBodyHits: Long = 0L

  def evalQuery(q: Query): DataFrame = {
    val rules = currentRules
    val demand = demandFor(q, rules)
    val (idb, magicTarget) =
      if (demand.nonEmpty) (new IdbEvaluator(rules, demand), None)
      else magicRewrite(q, rules) match {
        case Some((newRules, seedRel, seedDf, rel)) =>
          magicRewrites += 1
          // caching disabled: the adorned rule set is specific to this
          // query's seed — its materializations must not leak into the
          // shared (rel, version) cache
          (new IdbEvaluator(newRules, Map.empty,
            extraBase = Map(seedRel -> seedDf), cachingEnabled = false),
            Some(rel))
        case None => (new IdbEvaluator(rules, demand), None)
      }
    // arity-mismatch fallback: `?data(X, Y)` against an arity-3 relation
    // returns the FULL stored tuples (reference behavior — its error
    // corpus records col0..colN tables, not an error)
    q.goal.filter(g => q.body.sizeIs == 1 && g.rel != "hnsw_nearest").foreach { g =>
      val resolved = idb.resolve(g.rel, g.args.length)
      if (resolved.columns.length != g.args.length)
        return resolved.toDF(resolved.columns.indices.map(i => s"col$i"): _*)
    }
    var df = RuleCompiler.compileBody(q.body, idb.resolve, hnswFrame, catalog.statRows)
    lastMagicFrame = magicTarget.map(r =>
      idb.resolve(r, q.body.collectFirst { case Pos(a) => a.args.length }.getOrElse(0)))
    // shorthand queries keep the goal atom's full arity (constants too)
    // plus any vars BOUND by extra body elements (`?emb(Id, V), Q = f(V)`
    // returns Id, V, Q — reference shorthand result shape). A special-
    // predicate goal (`?hnsw_nearest(...)`) returns just its bound vars.
    q.goal.filterNot(_.rel == "hnsw_nearest").foreach { g =>
      val goalCols = g.args.zipWithIndex.map {
        case (Var(v), _) => col(v)
        case (Const(c), i) => lit(c).as(s"_c$i")
        case (other, i) => throw new IllegalArgumentException(
          s"goal arg $i must be var or const, got $other")
      }
      val goalVars = g.args.collect { case Var(v) => v }.toSet
      val extraVars = df.columns.filterNot(goalVars).toSeq // appearance order
      df = df.select(goalCols ++ extraVars.map(col): _*)
    }
    // result columns = variables in order of first appearance
    val sorted = if (q.sort.nonEmpty)
      df.orderBy(q.sort.map(s => if (s.desc) col(s.varName).desc else col(s.varName).asc): _*)
    else df
    val off = q.offset.map(o => sorted.offset(o)).getOrElse(sorted)
    q.limit.map(off.limit).getOrElse(off)
  }

  /** Demand restriction for bound recursive goals (the magic-sets result
    * without the full adornment machinery — reference
    * `src/magic_sets/mod.rs`): if the query is `?r(...)` with a constant
    * at position i, and every rule in r's recursive component passes the
    * i-th head variable through unchanged to every recursive body atom,
    * then filtering EVERY rule derivation on head[i]=const is equivalent
    * to filtering the final result — but the fixpoint frontier only ever
    * contains demanded tuples (BFS from the seed instead of full closure).
    */
  private def demandFor(q: Query, rules: Seq[Rule]): Map[String, (Int, Any)] = {
    q.body match {
      case Seq(Pos(Atom(rel, args))) =>
        val sccs = Stratifier.sccOf(rules)
        val scc = sccs.getOrElse(rel, Set(rel))
        val recursive = scc.size > 1 ||
          rules.exists(r => r.head.rel == rel && r.body.exists {
            case Pos(a) => a.rel == rel
            case _ => false
          })
        if (!recursive) return Map.empty
        args.zipWithIndex.collectFirst { case (Const(v), i) => (i, v) } match {
          case None => Map.empty
          case Some((i, v)) =>
            val relRules = rules.filter(r => scc(r.head.rel))
            val passesThrough = relRules.forall { r =>
              r.head.args.lift(i) match {
                case Some(hv: Var) =>
                  r.body.forall {
                    case Pos(a) if scc(a.rel) => a.args.lift(i).contains(hv)
                    case _ => true
                  }
                case _ => false
              }
            }
            if (passesThrough) scc.map(rn => rn -> (i, v)).toMap else Map.empty
        }
      case _ => Map.empty
    }
  }

  /** Full magic-sets rewrite for bound queries whose binding does NOT
    * pass through unchanged (reference adorned rules + seed relations,
    * `src/magic_sets/mod.rs:1-60`): `?r(c, Y)` over a single-predicate
    * recursive component rewrites r's rules to demand-guarded versions
    * plus magic rules derived by left-to-right sideways information
    * passing, seeded from the constant. The classic same-generation
    * query — `sg(X,Y) <- up(X,Z1), sg(Z1,Z2), down(Z2,Y)` with
    * `?sg(1,Y)` — then explores only the demanded subtree instead of
    * computing the full fixpoint.
    *
    * Returns (rewritten rules, magic relation name, seed frame, rel).
    * Bails (None) whenever the standard transformation could be unsound
    * or unsafe here: mutual recursion across predicates, EDB facts mixed
    * into the head, aggregate/rank heads, a bound-position term that the
    * left-to-right prefix cannot bind. Magic-rule bodies keep only the
    * guard and the PRECEDING POSITIVE atoms — dropping filters/negation
    * only enlarges the demanded set, never shrinks it (sound). */
  private def magicRewrite(q: Query, rules: Seq[Rule])
      : Option[(Seq[Rule], String, DataFrame, String)] = q.body match {
    case Seq(Pos(Atom(rel, args))) =>
      val scc = Stratifier.sccOf(rules).getOrElse(rel, Set(rel))
      if (scc != Set(rel)) return None
      val relRules = rules.filter(_.head.rel == rel)
      val recursive = relRules.exists(_.body.exists {
        case Pos(a) => a.rel == rel
        case _ => false
      })
      if (!recursive || relRules.isEmpty) return None
      if (baseWithOverlay(rel).isDefined) return None // EDB facts mixed in
      if (relRules.exists(_.head.args.exists(t =>
        t.isInstanceOf[Agg] || t.isInstanceOf[Rank]))) return None
      val (bound, seedVal) = args.zipWithIndex.collectFirst {
        case (Const(v), i) => (i, v)
      }.getOrElse(return None)
      val magicName = s"__magic_$rel"
      if (rules.exists(r => r.head.rel == magicName)) return None
      val magicRules = mutable.ArrayBuffer.empty[Rule]
      val adorned = mutable.ArrayBuffer.empty[Rule]
      relRules.foreach { r =>
        val hv = r.head.args.lift(bound) match {
          case Some(t @ (_: Var | _: Const)) => t
          case _ => return None
        }
        val guard = Pos(Atom(magicName, Seq(hv)))
        adorned += r.copy(body = guard +: r.body)
        var boundVars: Set[String] = hv match {
          case Var(n) => Set(n)
          case _ => Set.empty
        }
        r.body.zipWithIndex.foreach {
          case (Pos(a), k) if a.rel == rel =>
            val b = a.args.lift(bound) match {
              case Some(t @ (_: Var | _: Const)) => t
              case _ => return None
            }
            b match {
              case Var(n) if !boundVars.contains(n) => return None // SIP gap
              case _ => ()
            }
            // prefix: the positive atoms before this occurrence —
            // including earlier `rel` occurrences (they resolve to the
            // ADORNED rel; magic ↔ rel mutual recursion is handled by
            // the general SCC fixpoint)
            val prefix = r.body.take(k).collect { case p: Pos => p }
            magicRules += Rule(Atom(magicName, Seq(b)), guard +: prefix,
              persistent = false)
            boundVars ++= a.args.collect { case Var(n) => n }
          case (Pos(a), _) =>
            boundVars ++= a.args.collect { case Var(n) => n }
          case _ => ()
        }
      }
      if (magicRules.isEmpty) return None
      import org.apache.spark.sql.types._
      val dt: DataType = seedVal match {
        case _: Long | _: Int => LongType
        case _: Double => DoubleType
        case _: Boolean => BooleanType
        case _ => StringType
      }
      val seedDf = catalog.spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(seedVal)),
        StructType(Seq(StructField("c0", dt, nullable = true))))
      val rewritten = rules.filterNot(_.head.rel == rel) ++
        adorned ++ magicRules.distinct
      Some((rewritten, magicName, seedDf, rel))
    case _ => None
  }

  // ------------------------------------------------------------ deletes

  /** Bounded persist pool for DERIVED removal frames (conditional
    * deletes, atomic updates): the logged `removed` plan is a semi-join
    * the maintenance machinery evaluates several times per round (ΔG
    * bindings, touched pairs, old-state seeds, netting antis) — persist
    * caches the one evaluation. Plain `persist`, NOT a checkpoint:
    * lineage survives, so when the pool evicts an old frame a late
    * consumer silently recomputes instead of crashing on lost blocks. */
  private val persistedRemovals = mutable.Queue.empty[DataFrame]
  private def persistRemoval(df: DataFrame): DataFrame = synchronized {
    val p = df.persist()
    persistedRemovals.enqueue(p)
    while (persistedRemovals.size > 16)
      try persistedRemovals.dequeue().unpersist(false)
      catch { case _: Throwable => () }
    p
  }

  private def deleteWhere(atom: Atom, body: Seq[BodyElem]): Unit = {
    if (catalog.relation(atom.rel).isEmpty) {
      // `-head(args) <- body` naming a RULE head: remove the structurally
      // matching clause (reference 17_rule_commands minus-clause form)
      val matching = catalog.rules.find(r => r.head == atom && r.body == body)
      matching match {
        case Some(r) =>
          val idx = catalog.rules.filter(_.head.rel == atom.rel).indexOf(r) + 1
          catalog.removeRuleClause(atom.rel, idx)
          return
        case None =>
          val sess = sessionRules.find(r => r.head == atom && r.body == body)
          sess.foreach { r => sessionRules -= r; invalidateDependents(atom.rel) }
          if (sess.isDefined) return
      }
    }
    val rel = catalog.relation(atom.rel).getOrElse(
      throw new IllegalArgumentException(s"unknown relation ${atom.rel}"))
    val idb = new IdbEvaluator(currentRules, Map.empty)
    val full = RuleCompiler.compileBody(Pos(atom) +: body, idb.resolve)
    // project the atom's args back to the relation's positional schema
    val cols = atom.args.zipWithIndex.map {
      case (Var(v), i) => col(v).as(rel.columns(i))
      case (Const(c), i) => lit(c).as(rel.columns(i))
      case (other, i) => throw new IllegalArgumentException(
        s"delete pattern arg $i must be var or const, got $other")
    }
    val matching = full.select(cols: _*).distinct()
    // removed = the matching tuples actually present — logged so the
    // conditional delete is a maintainable exact-tuple retraction, not
    // an opaque invalidation (reference: every delete feeds derived
    // relations as a (data, time, -1) update, src/derived_relations.rs).
    // SMALL matching sets (the common conditional delete) collect ONCE
    // and take the literal-tombstone path: the body join runs exactly
    // once, the logged removal is a literal every downstream consumer
    // re-reads for free, and presence needs no semi-join — the body
    // contains the deleted atom itself, so matching ⊆ relation by
    // construction. Past the cap: the lazy replace (anti-join plan,
    // presence-checked removal plan), as before.
    // distinct AFTER the cast — a narrowing cast can collapse values
    // the pre-cast distinct kept apart, and the literal-tombstone log
    // entry is consumed un-rededuped (removedLiteralRows >= 0 tells the
    // netting fold the frame is distinct by construction)
    val castM = matching.select(rel.schema.fields.map { f =>
      val c = col(f.name)
      val src = matching.schema(f.name).dataType
      if (AnyValue.isAny(f.dataType) && !AnyValue.isAny(src))
        AnyValue.encodeCol(c, src).as(f.name)
      else c.cast(f.dataType)
    }.toSeq: _*).distinct()
    // byte-aware cap: fixed-width rows collect up to 64k (a 15k-row
    // conditional delete stays all-literal end to end — the over-cap
    // replace path re-evaluates the matching plan in every downstream
    // consumer, which measured ~3x on q195's two delete rounds); rows
    // that can carry vectors / strings / dynamic values keep the
    // conservative 4k bound
    val wide = rel.schema.fields.exists(f => f.dataType match {
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.BinaryType |
           org.apache.spark.sql.types.StringType => true
      case dt => AnyValue.isAny(dt)
    })
    // EAGER-LITERAL GATE: the probe's body-join collect is a base-sized
    // scan paid at DELETE-STATEMENT time. The r14 job-count adjudication
    // of the r13 q191/q193 watch items (q191's rounds on HEAD vs the
    // r12 commit, same session) found the probe is pure added latency for
    // RANK-view consumers — 3-4 probe jobs (~0.4-1.0 s) per delete on a
    // 150k-row base while the prefix-buffer ride gains nothing (the
    // lazy replace fuses the same scan into the next round's netted
    // evaluation: r12 ran identical rounds at 0 delete-time jobs and
    // half the query jobs; A/B bench q191 1.84 s lazy vs 2.65 s
    // literal). AGGREGATE consumers are the opposite — their support
    // maintenance re-reads the removal several times and literals are
    // free (A/B: q183 1.55 vs 2.08, q186 1.12 vs 1.39, q188 2.31 vs
    // 2.56 — literal wins). So: lazy only when the base is big (plan-
    // stats bytes — metadata-cheap and REAL for file scans, local
    // relations, and localCheckpoints; unknown reports huge) AND the
    // relation transitively feeds a top_k/top_k_threshold view;
    // eager-literal otherwise (q68's driver-small DRed path included).
    val baseBytes =
      try rel.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    val feedsRankView: Boolean = {
      val byHead = currentRules.groupBy(_.head.rel)
      def reaches(view: String): Boolean = {
        val seen = mutable.HashSet.empty[String]
        def go(rel0: String): Boolean = rel0 == atom.rel ||
          (seen.add(rel0) && byHead.getOrElse(rel0, Seq.empty).exists(_.body.exists {
            case Pos(a) => go(a.rel)
            case Neg(a) => go(a.rel)
            case _ => false
          }))
        go(view)
      }
      currentRules.exists(r => r.head.args.exists {
        case rk: Rank => rk.func == "top_k" || rk.func == "top_k_threshold"
        case _ => false
      } && reaches(r.head.rel))
    }
    val probed =
      if (baseBytes > Engine.DeleteLiteralMaxBaseBytes && feedsRankView) None
      else graft.plans.Fixpoint.collectUpTo(castM, if (wide) 4096L else 65536L)
    probed match {
      case Some(rowsM) => catalog.deletePresent(atom.rel, rowsM.toSeq)
      case None =>
        val removed = persistRemoval(rel.join(matching, rel.columns.toSeq, "left_semi"))
        catalog.replace(atom.rel, rel.join(matching, rel.columns.toSeq, "left_anti"), removed)
    }
  }

  /** Atomic update `-old(args), +new(args) <- body`: both the deletion
    * pattern and the insertion rows are computed from the SAME body
    * bindings, then the two relation swaps happen together (reference
    * `Statement::Update` — one transactional replace). */
  private def update(del: Atom, ins: Atom, body: Seq[BodyElem]): Unit = {
    val delRel = catalog.relation(del.rel).getOrElse(
      throw new IllegalArgumentException(s"unknown relation ${del.rel}"))
    val idb = new IdbEvaluator(currentRules, Map.empty)
    val bindings = RuleCompiler.compileBody(Pos(del) +: body, idb.resolve)
      .localCheckpoint(true) // evaluate ONCE against pre-update state
    val delCols = del.args.zipWithIndex.map {
      case (Var(v), i) => col(v).as(delRel.columns(i))
      case (Const(c), i) => lit(c).as(delRel.columns(i))
      case (other, i) => throw new IllegalArgumentException(
        s"update delete-pattern arg $i must be var or const, got $other")
    }
    val insDf = bindings.select(ins.args.zipWithIndex.map {
      case (t, i) => RuleCompiler.term(t, bindings).as(s"c$i")
    }: _*).distinct()
    val delMatch = bindings.select(delCols: _*).distinct()
    val newDel = delRel.join(delMatch, delRel.columns.toSeq, "left_anti")
    // removed = matching tuples actually present, logged exactly (like
    // deleteWhere) so the update is a maintainable delete+insert batch
    // for downstream views, not an opaque invalidation
    val removedRows = persistRemoval(
      delRel.join(delMatch, delRel.columns.toSeq, "left_semi"))
    catalog.replace(del.rel, newDel, removedRows)
    catalog.appendDf(ins.rel, insDf)
  }

  // ----------------------------------------------------- IDB evaluation

  /** Evaluates derived relations on demand, respecting stratification;
    * memoizes per query. `demand`: rel → (boundPos, boundConst) filters
    * pushed into every derivation of that relation (see [[demandFor]]). */
  private final class IdbEvaluator(rules: Seq[Rule], demand: Map[String, (Int, Any)],
                                   extraBase: Map[String, DataFrame] = Map.empty,
                                   cachingEnabled: Boolean = true) {
    private val byHead: Map[String, Seq[Rule]] = rules.groupBy(_.head.rel)
    private val memo = mutable.HashMap.empty[String, DataFrame]
    private val inProgress = mutable.HashSet.empty[String]
    /** Rows of relations this evaluator solved via [[localSccFastPath]]
      * (same lifetime/coherence as [[memo]]): a later local SCC that
      * scans such a relation reads the rows straight back instead of
      * collecting the parallelized frame. */
    private val localRowMemo = mutable.HashMap.empty[String, Array[org.apache.spark.sql.Row]]

    /** Base facts for a relation: evaluator-injected frames (magic-set
      * seeds) take precedence over catalog + session overlay. */
    private def baseOf(name: String): Option[DataFrame] =
      extraBase.get(name).orElse(baseWithOverlay(name))

    // ------------------------------------------------- subplan sharing
    // (reference `src/subplan_sharing/mod.rs`: canonicalize variable
    // names → structural identity → shared views computed once). Rule
    // bodies that are identical up to variable renaming compile and
    // localCheckpoint ONCE per query; each consuming rule scans the
    // shared frame with its own variable names. Only bodies appearing
    // in ≥2 rules pay the checkpoint; single-use bodies compile lazily
    // exactly as before.

    /** Canonical body (vars renamed v0,v1,… in appearance order) plus
      * the canonical→original name map. */
    private def canonicalBody(body: Seq[BodyElem]): (Seq[BodyElem], Map[String, String]) = {
      val names = mutable.LinkedHashMap.empty[String, String]
      def cv(t: Term): Term = t match {
        case Var(n) => Var(names.getOrElseUpdate(n, s"v${names.size}"))
        case Arith(op, l, r) => Arith(op, cv(l), cv(r))
        case Func(f, as) => Func(f, as.map(cv))
        case other => other
      }
      val canon = body.map {
        case Pos(Atom(rel, as)) => Pos(Atom(rel, as.map(cv)))
        case Neg(Atom(rel, as)) => Neg(Atom(rel, as.map(cv)))
        case Cmp(op, l, r) => Cmp(op, cv(l), cv(r))
      }
      (canon, names.map { case (orig, c) => c -> orig }.toMap)
    }

    private val sharedBodyCounts: Map[Seq[BodyElem], Int] =
      rules.map(r => canonicalBody(r.body)._1)
        .groupBy(identity).view.mapValues(_.size).toMap
    private val sharedBodies = mutable.HashMap.empty[Seq[BodyElem], DataFrame]

    /** Body frame for a rule under the DEFAULT resolver, shared across
      * rules with the same canonical body. Special atoms (index probes)
      * never share — their callback closes over per-rule state. */
    private def bodyFrame(body: Seq[BodyElem]): DataFrame = {
      val hasSpecial = body.exists {
        case Pos(a) => a.rel.toLowerCase == "hnsw_nearest"
        case _ => false
      }
      val (canon, toOrig) = canonicalBody(body)
      if (hasSpecial || sharedBodyCounts.getOrElse(canon, 0) < 2)
        return RuleCompiler.compileBody(body, resolve, hnswFrame, catalog.statRows)
      val shared = sharedBodies.get(canon) match {
        case Some(df) => sharedBodyHits += 1; df
        case None =>
          val df = Fixpoint.materialize(
            RuleCompiler.compileBody(canon, resolve, hnswFrame, catalog.statRows)).df
          sharedBodies(canon) = df
          df
      }
      shared.select(shared.columns.map(c => col(c).as(toOrig.getOrElse(c, c))).toSeq: _*)
    }

    val resolve: RuleCompiler.Resolver = (name: String, arity: Int) => {
      memo.getOrElse(name, {
        if (!byHead.contains(name)) {
          // unknown relation = empty (Datalog convention, matches the
          // reference: querying a dropped/never-defined relation yields
          // "No results", not an error)
          baseOf(name).getOrElse(emptyFrame(arity))
        } else if (demand.isEmpty && cachingEnabled && cacheGet(name).isDefined) {
          val df = cacheGet(name).get
          memo(name) = df
          df
        } else {
          (if (demand.isEmpty && cachingEnabled) tryMaintain(name) else None) match {
            case Some(df) =>
              memo(name) = df
              cachePut(name, df)
              df
            case None =>
              require(!inProgress(name),
                s"internal: unplanned recursive resolve of $name")
              evalComponent(name)
              if (demand.isEmpty && cachingEnabled) {
                // cache every member the component evaluation finished —
                // joint maintenance of a mutual-recursion SCC needs all
                // of them cached at one version
                val sccDone = Stratifier.sccOf(rules).getOrElse(name, Set(name))
                sccDone.foreach(r => memo.get(r).foreach(cachePut(r, _)))
              }
              memo(name)
          }
        }
      })
    }

    /** Per-group DECREMENT/increment maintenance for sum/count views
      * (see the call site in [[tryMaintain]]'s aggregate branch).
      * Returns None when the shape is outside the subtractable contract.
      *
      * Exactness rests on three facts: (1) `removedOf` here is the
      * netted EXACT removal map (`Change.removedExact` — the lazy
      * presence semi-join [[Catalog.delete]] logs beside the free raw
      * literals), so no phantom decrements; (2)
      * with a single occurrence of the single changed relation, a body
      * binding determines the tuple at that occurrence — vanished
      * derivations are exactly the bindings through removed tuples, new
      * ones exactly those through inserts, and delete-then-reinsert
      * pairs cancel exactly; (3) the maintained aggregate columns are
      * LongType (count, and sum over integer/dynamic args), where
      * subtraction is exact — double sums bail to dirty-group
      * recomputation (float a+b−b need not return a).
      *
      * Group death (support hits 0 → the row must vanish) and
      * sum-goes-null (last non-null contributor left) are decided from
      * the carried [[ViewState.support]] table; a key-less head rides it
      * as a one-group view. A round that finds the support table or a
      * pairs table stale seeds them all from the post-change body and
      * serves the seed's projection, as the rank buffer seeds. Scale
      * shape on riding rounds: the signed
      * per-group delta ΔG is bounded-collected (≤1024 dirty groups —
      * beyond that dirty-group recomputation is the better plan
      * anyway); the view and support table then update in ONE map-only
      * pass each (literal key predicate + driver-merged replacement
      * rows), never a view-sized shuffle join. */
    private def maintainAggSubtractable(name: String, r: Rule,
        cols: Seq[String], aggSpecs: Seq[(String, Int)], keyIdx: Seq[Int],
        changedOccs: Seq[Int], changedRels: Set[String],
        deltaOf: Map[String, DataFrame], removedOf: Map[String, DataFrame],
        cached: DataFrame, v0: Long,
        tinyLiteralRound: Boolean): Option[DataFrame] = {
      if (changedOccs.length != 1) return None
      if (aggSpecs.isEmpty || !aggSpecs.forall { case (f, _) =>
        f == "sum" || f == "count" || f == "count_distinct" || f == "avg" ||
          f == "min" || f == "max" }) return None
      val changedRel = r.body(changedOccs.head) match {
        case Pos(a) => a.rel
        case _ => return None
      }
      if (changedRels != Set(changedRel)) return None
      if (r.body.exists { case Neg(a) => a.rel == changedRel; case _ => false })
        return None
      val named = cached.toDF(cols: _*)
      // column-type contract: counts i64; sums i64 (view-value
      // subtractable) or f64 (decimal-carried); avg f64 (derived from a
      // decimal-carried sum + the non-null contributor count); min/max
      // i64, f64, or STRING (the top-2 carry compares driver-side in
      // Spark's order, SparkValues.compare — other types bail to
      // dirty-group)
      if (aggSpecs.exists { case (f, i) =>
        val dt = named.schema(i).dataType
        f match {
          case "sum" =>
            dt != org.apache.spark.sql.types.LongType &&
              dt != org.apache.spark.sql.types.DoubleType
          case "min" | "max" =>
            dt != org.apache.spark.sql.types.LongType &&
              dt != org.apache.spark.sql.types.DoubleType &&
              dt != org.apache.spark.sql.types.StringType
          case "avg" => dt != org.apache.spark.sql.types.DoubleType
          case _ => dt != org.apache.spark.sql.types.LongType
        } }) return None
      val sumSpecs = aggSpecs.collect { case ("sum", i) => i }
      val sumArgOf: Map[Int, Term] = r.head.args.zipWithIndex.collect {
        case (Agg("sum", t), i) => i -> t
      }.toMap
      val avgSpecs = aggSpecs.collect { case ("avg", i) => i }
      val avgArgOf: Map[Int, Term] = r.head.args.zipWithIndex.collect {
        case (Agg("avg", t), i) => i -> t
      }.toMap
      // min/max columns maintain through a TOP-2 CARRY on the support
      // table — per group: the extremum's binding count (__k1), the
      // runner-up value (__b2) and its count (__k2). A delete that
      // doesn't exhaust the extremum's bindings leaves the value; one
      // that does promotes the runner-up EXACTLY (nothing can sit
      // strictly between the two smallest/largest distinct values); only
      // when best AND runner-up both die is the new runner-up unknown —
      // __k2 = -1 marks that, and the NEXT extremum-hitting delete on
      // that group refills top-2 with one key-filtered pass. The
      // reference maintains the same per-group extremum state in its
      // MinDiff/MaxDiff semirings (`/root/reference/src/semiring_types.rs`,
      // `src/derived_relations.rs:1-60`).
      val mmSpecs: Seq[(String, Int)] = aggSpecs.filter { case (f, _) =>
        f == "min" || f == "max" }
      val mmArgOf: Map[Int, Term] = r.head.args.zipWithIndex.collect {
        case (Agg(f, t), i) if f == "min" || f == "max" => i -> t
      }.toMap
      val numArgOf = sumArgOf ++ avgArgOf ++ mmArgOf
      // columns carrying a non-null-contributor count on the support
      // table (a sum/avg whose last non-null contributor left goes
      // null; a min/max whose nn hits 0 likewise)
      val nnSpecs = sumSpecs ++ avgSpecs ++ mmSpecs.map(_._2)
      // columns whose RUNNING SUM is carried as DECIMAL(38,12) on the
      // support table — f64 sums (in-place f64 subtraction is lossy and
      // drifts over rounds) and avg (avg = carried sum / nn, which is
      // what makes avg deletes subtractable at all). Decimal add/
      // subtract cancel exactly and order-independently (the PageRank
      // exactSum trick, GraphOps.scala): 26 integer digits of headroom;
      // values beyond 12 dp round ONCE at ingest so increments and
      // decrements of the same tuple still cancel exactly — no drift,
      // at <=5e-13 per-value deviation from the IEEE scan sum.
      val decSpecs = sumSpecs.filter(i =>
        named.schema(i).dataType == org.apache.spark.sql.types.DoubleType) ++ avgSpecs
      val DecT = "decimal(38,12)"
      // count_distinct columns maintain through the support-counted
      // PAIRS tables ([[ViewState.pairs]]) — per-pair births/deaths below
      val cdSpecsS: Seq[(Term, Int)] = r.head.args.zipWithIndex.collect {
        case (Agg("count_distinct", t), i) => (t, i)
      }
      // FIRST-ROUND COST GATE (2-competitive seed deferral): seeding the
      // support/pairs tables pays a full body pass plus their
      // materializations — a one-off tiny literal delete on a big (or
      // unknown-size) base doesn't amortize that; dirty-group
      // recomputation of the handful of touched groups is ~3x cheaper at
      // that shape (q93: 4-tuple delta over a 150k-row registered base).
      // The FIRST such round therefore defers to dirty-group; a SECOND
      // tiny-literal round on the same view is evidence of a repeating
      // delete workload, where the seed amortizes — it seeds then, and
      // every later round rides the carried table O(delta). Small
      // literal-built bases (cheap seeds) and rounds with a live carried
      // table are unaffected. Grouped heads only: a key-less head's
      // dirty-group alternative is a full recompute, which costs what
      // the seed costs.
      val vs = state(name)
      // the support table and every pairs table ride at v0, or they all
      // reseed together
      val stale = !vs.support.exists(_._1 == v0) ||
        cdSpecsS.exists { case (_, i) => !vs.pairs.get(i).exists(_._1 == v0) }
      if (stale && tinyLiteralRound && keyIdx.nonEmpty && seedDeferredOnce.add(name))
        return None
      val kLen = keyIdx.length
      val keyNames = keyIdx.map(i => s"c$i")

      def bindingsOf(bound: DataFrame): DataFrame =
        RuleCompiler.compileBody(r.body,
          RuleCompiler.bindOccurrence(r, changedOccs.head, bound,
            (nm, ar) => resolve(nm, ar)),
          hnswFrame, catalog.statRows)
      def release(df: DataFrame): Unit =
        Fixpoint.checkpointRddOf(df).foreach(_.unpersist(false))
      def argType(term: Term, b: DataFrame) =
        try Some(b.select(RuleCompiler.term(term, b)).schema.head.dataType)
        catch { case _: Throwable => None }
      // TOP-2 per group for min/max columns over `b`'s bindings:
      // per spec (keys, __b1_i = extremum, __k1_i = its binding count,
      // __b2_i = runner-up, __k2_i = its count; missing group =
      // all-null values). `specs` MUST share one argument expression —
      // min<S> and max<S> then ride ONE (keys, value) grouped pass and
      // one exchange (the windows share the partitioning; Spark adds a
      // sort per direction, not a shuffle). No collect; used by the
      // seed (full body) and the refill (key-filtered body). A key-less
      // head takes one 1-row frame per spec instead.
      def mmTop2Multi(b: DataFrame, specs: Seq[(String, Int)],
                      onlyKeys: Option[DataFrame] = None): DataFrame = {
        val i0 = specs.head._2
        val keysX = keyIdx.map(j => RuleCompiler.term(r.head.args(j), b).as(s"c$j"))
        val grain0 = b.select(keysX :+ RuleCompiler.term(numArgOf(i0), b).as("__v"): _*)
          .where(col("__v").isNotNull)
        // refill path: the broadcast key filter sits BELOW the
        // aggregation, so the pass scans only the touched groups' rows
        val grain1 = onlyKeys match {
          case Some(kf) => sideOn(grain0, kf, keyNames, anti = false)
          case None => grain0
        }
        val grain = grain1
          .groupBy((keyNames :+ "__v").map(col): _*).agg(count(lit(1)).as("__k"))
        if (keyNames.isEmpty) {
          // key-less: the two best distinct values by TakeOrdered over
          // the (value, count) grain, as the ungrouped rank buffer takes
          // its prefix — never a one-partition window over the body.
          // Over an empty grain the row holds nulls and __k2 = 0
          return specs.map { case (f, i) =>
            val asc = f == "min"
            val two = count(lit(1)) === 2
            val (b1, k1, b2, k2) =
              if (asc) (min(col("__v")), min_by(col("__k"), col("__v")),
                max(col("__v")), max_by(col("__k"), col("__v")))
              else (max(col("__v")), max_by(col("__k"), col("__v")),
                min(col("__v")), min_by(col("__k"), col("__v")))
            grain.orderBy(if (asc) col("__v").asc else col("__v").desc).limit(2)
              .agg(b1.as(s"__b1$i"), k1.as(s"__k1$i"), when(two, b2).as(s"__b2$i"),
                when(two, k2).otherwise(lit(0L)).as(s"__k2$i"))
          }.reduce(_ crossJoin _)
        }
        val ranked = specs.foldLeft(grain) { case (df, (f, i)) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keyNames.map(col): _*)
            .orderBy(if (f == "min") col("__v").asc else col("__v").desc)
          df.withColumn(s"__rn$i", row_number().over(w))
        }
        val aggs = specs.flatMap { case (_, i) => Seq(
          max(when(col(s"__rn$i") === 1, col("__v"))).as(s"__b1$i"),
          max(when(col(s"__rn$i") === 1, col("__k"))).as(s"__k1$i"),
          max(when(col(s"__rn$i") === 2, col("__v"))).as(s"__b2$i"),
          coalesce(max(when(col(s"__rn$i") === 2, col("__k"))), lit(0L))
            .as(s"__k2$i")) }
        ranked.where(specs.map(s => col(s"__rn${s._2}") <= 2).reduce(_ || _))
          .groupBy(keyNames.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
      // the final support-frame column order — seed, carried table,
      // and the literal replacement rows must all agree on it
      def supportCols: Seq[Column] =
        cols.map(col) ++ Seq(col("__n")) ++
          nnSpecs.map(i => col(s"__nn$i")) ++
          decSpecs.map(i => col(s"__sum$i")) ++
          mmSpecs.flatMap { case (_, i) => Seq(
            coalesce(col(s"__k1$i"), lit(0L)).as(s"__k1$i"),
            col(s"__b2$i"),
            coalesce(col(s"__k2$i"), lit(0L)).as(s"__k2$i")) }
      // ---- seed round: the support table and every pairs table are
      // built together from ONE evaluation of the post-change body, and
      // the round serves the support table's projection with no ΔG
      // arithmetic (the rank buffer seeds the same way). The homes are
      // decided here, so the first riding round reads them directly.
      def seedRound(): Option[DataFrame] = {
        val body0 = RuleCompiler.compileBody(r.body, (nm, ar) => resolve(nm, ar),
          hnswFrame, catalog.statRows)
        // a non-numeric sum/avg argument is outside the contract: no
        // riding round could subtract it, so nothing seeds
        if ((sumSpecs ++ avgSpecs).exists(i => argType(numArgOf(i), body0).exists(dt =>
            !AnyValue.isAny(dt) && !dt.isInstanceOf[org.apache.spark.sql.types.NumericType])))
          return None
        // the top-2 passes and the pairs seeds read the body again:
        // evaluate it once for all of them
        val body =
          if (mmSpecs.isEmpty && cdSpecsS.isEmpty) body0 else body0.localCheckpoint(true)
        try {
          val sKeys = keyIdx.map(i => RuleCompiler.term(r.head.args(i), body).as(s"c$i"))
          def convOf(i: Int): Column = {
            val c0 = RuleCompiler.term(numArgOf(i), body)
            if (avgSpecs.contains(i) && argType(numArgOf(i), body).exists(AnyValue.isAny))
              AnyValue.asDouble(c0)
            else c0
          }
          val sAggs = r.head.args.zipWithIndex.collect {
            case (Agg(f, arg), i) => aggFunc(f, arg, body).as(s"c$i")
          } ++ Seq(count(lit(1)).as("__n")) ++ nnSpecs.map { i =>
            count(convOf(i)).as(s"__nn$i")
          } ++ decSpecs.map { i =>
            coalesce(sum(convOf(i).cast(DecT)), lit(0L).cast(DecT))
              .cast(DecT).as(s"__sum$i")
          }
          // a key-less `groupBy()` emits one row over an empty body:
          // dropped, so an empty body serves the empty view
          var seed0 = body.groupBy(sKeys: _*)
            .agg(sAggs.head, sAggs.tail: _*).where(col("__n") > 0)
          // graft the min/max top-2 triples on via a null-safe keyed
          // join (left: a group of only-null values has no top-2 row);
          // columns sharing one argument (min<S>, max<S>) fuse into
          // one grain pass and one join
          mmSpecs.groupBy { case (_, i) => numArgOf(i) }.values.foreach { specs =>
            val outCols = specs.flatMap { case (_, i) =>
              Seq(s"__b1$i", s"__k1$i", s"__b2$i", s"__k2$i") }
            val t2 = mmTop2Multi(body, specs)
              .toDF((keyNames.map(_ + "__t") ++ outCols): _*)
            val cond = keyNames.map(k => seed0(k) <=> t2(k + "__t"))
              .reduceOption(_ && _).getOrElse(lit(true))
            seed0 = seed0.join(t2, cond, "left")
              .drop((keyNames.map(_ + "__t") ++
                specs.map { case (_, i) => s"__b1$i" }): _*)
          }
          val seeded = Fixpoint.materialize(seed0.select(supportCols: _*)).df
          val pairNames = keyNames :+ "__v"
          val pairsSeeded = cdSpecsS.map { case (arg, i) =>
            i -> Fixpoint.materialize(body
              .select(sKeys :+ RuleCompiler.term(arg, body).as("__v"): _*)
              .where(col("__v").isNotNull)
              .groupBy(pairNames.map(col): _*)
              .agg(count(lit(1)).as("__s"))).df
          }
          // a displaced support table was served — grace-window
          // retirement, unless its checkpoint still backs the CURRENT
          // view, which must stay live
          vs.support.foreach { case (_, old) =>
            Fixpoint.checkpointRddOf(old).foreach { s =>
              if (!Fixpoint.checkpointRddOf(cached).exists(_ eq s))
                graft.plans.Graveyard.buryAndDrain(Some(s)) } }
          val vNow = catalog.version
          vs.support = Some((vNow, seeded))
          homeOf(name, Part.Support, seeded, keyNames, 65536L, seeded)
          pairsSeeded.foreach { case (i, p) =>
            vs.pairs.put(i, (vNow, p)).foreach { case (_, old) => release(old) }
            homeOf(name, Part.Pairs(i), p, pairNames, 65536L, p)
          }
          auxSupportSeeds += 1
          cdPairsSeeds += pairsSeeded.length
          aggDecrementCount += 1
          val served = seeded.select(cols.map(col): _*)
          // a stacked consumer reads the round's delta from the ΔG keys:
          // the keys the changed tuples bind (every key of a key-less
          // head, its one row)
          if (namedDeltaWanted(name)) {
            val dirtyOf: Option[DataFrame => DataFrame] =
              if (kLen == 0) Some((df: DataFrame) => df)
              else Seq(removedOf.get(changedRel), deltaOf.get(changedRel)).flatten
                .map { b =>
                  val bf = bindingsOf(b)
                  bf.select(keyIdx.map(i => RuleCompiler.term(r.head.args(i), bf).as(s"c$i")): _*)
                }.reduceOption(_ union _)
                .flatMap(k => Fixpoint.collectUpTo(k.distinct(), 4096L))
                .map(ks => (df: DataFrame) => sideOn(df, keyLit(ks.map(_.toSeq), df, keyNames),
                  keyNames, anti = false))
            dirtyOf.foreach(recordDirtySliceDelta(name, v0, named, served, _))
          }
          Some(served)
        } finally if (!(body eq body0)) release(body)
      }
      if (stale) return seedRound()

      // the changed-rel frames are delta-sized by contract here — the
      // presence-checked exact removals and the anti-joined insert
      // delta. Collect each ONCE into a literal frame (bounded): every
      // downstream consumer (ΔG pass, min/max nets, cd touched pass)
      // then binds a broadcastable literal
      // instead of re-executing the presence/anti-join plan — at scale
      // each re-execution was another (pruned) base scan. Over the cap
      // the frame stays lazy; the dirty-cap bails shortly after anyway.
      def asLiteral(df: DataFrame): DataFrame =
        Fixpoint.collectUpTo(df, 4096L) match {
          case Some(rows) =>
            catalog.spark.createDataFrame(
              catalog.spark.sparkContext.parallelize(rows.toSeq,
                Fixpoint.parallelizeParts(rows.length.toLong)),
              org.apache.spark.sql.types.StructType(
                df.schema.fields.map(_.copy(nullable = true))))
          case None => df
        }
      val removedLit = removedOf.get(changedRel).map(asLiteral)
      val deltaLit = deltaOf.get(changedRel).map(asLiteral)
      val parts = Seq(removedLit.map(b => (b, -1L)),
        deltaLit.map(b => (b, 1L))).flatten
      // a round that nets to nothing still re-stamps the carried
      // support/pairs tables to the new version — stranding them at v0
      // would force a body-scan reseed on the next REAL delete round
      if (parts.isEmpty) {
        vs.restamp(v0, catalog.version); recordNamedDelta(name, v0, Nil, Nil)
        return Some(cached)
      }

      // ---- scratch lifecycle: one try/finally releases this round's
      // shared binding frames on EVERY bail path.
      // Multi-cd views re-read the body bindings once per cd column
      // (their pair grains differ, so the fused single-cd collect can't
      // serve them) — those materialize each part's bindings ONCE,
      // shared across the ΔG pass and every touched-pairs pass, so
      // maintenance pays the body join |parts| times, not
      // |parts|·(1+nCd) times.
      val shareBindings = cdSpecsS.length >= 2
      val bindingMats = mutable.ArrayBuffer.empty[DataFrame]
      val boundCache = mutable.HashMap.empty[Int, DataFrame]
      def boundOf(pi: Int): DataFrame =
        if (!shareBindings) bindingsOf(parts(pi)._1)
        else boundCache.getOrElseUpdate(pi, {
          val m = Fixpoint.materialize(bindingsOf(parts(pi)._1)).df
          bindingMats += m
          m
        })
      try {

        // signed per-binding contributions; aggregated once into ΔG
        object SubBail extends scala.util.control.ControlThrowable
        val dG = try {
          val signedFrames = parts.indices.map { pi =>
            val sgn = parts(pi)._2
            val bf = boundOf(pi)
            val keyExprs = keyIdx.map(i => RuleCompiler.term(r.head.args(i), bf).as(s"c$i"))
            val contrib = aggSpecs.map { case (f, i) =>
              if (f == "count") lit(sgn).as(s"__v$i")
              else if (f == "count_distinct") lit(0L).as(s"__v$i") // pairs path
              else if (f == "min" || f == "max") lit(0L).as(s"__v$i") // top-2 path
              else if (decSpecs.contains(i)) {
                // decimal-carried (f64 sum / avg): signed decimal delta
                val c0 = RuleCompiler.term(numArgOf(i), bf)
                val dt = argType(numArgOf(i), bf)
                val cd =
                  if (dt.exists(AnyValue.isAny)) AnyValue.asDouble(c0).cast(DecT)
                  else if (dt.forall(_.isInstanceOf[org.apache.spark.sql.types.NumericType]))
                    c0.cast(DecT)
                  else throw SubBail // non-numeric arg
                val signed = if (sgn < 0) -cd else cd
                coalesce(signed, lit(0L).cast(DecT)).as(s"__v$i")
              } else {
                val c0 = RuleCompiler.term(numArgOf(i), bf)
                val dt = argType(numArgOf(i), bf)
                val c =
                  if (dt.exists(AnyValue.isAny)) AnyValue.asLong(c0)
                  else if (dt.forall(_.isInstanceOf[org.apache.spark.sql.types.NumericType]))
                    c0.cast("long")
                  else throw SubBail // non-numeric sum arg: aggFunc's 0-sum
                (coalesce(c, lit(0L)) * sgn).as(s"__v$i")
              }
            }
            val nnCols = nnSpecs.map { i =>
              val c0 = RuleCompiler.term(numArgOf(i), bf)
              // avg skips values its converter nulls out (any-typed
              // non-numerics) — count what the aggregate itself counts
              val cc =
                if (avgSpecs.contains(i) && argType(numArgOf(i), bf).exists(AnyValue.isAny))
                  AnyValue.asDouble(c0)
                else c0
              when(cc.isNull, lit(0L)).otherwise(lit(sgn)).as(s"__nn$i")
            }
            // single-cd FUSION: aggregate at (keys, cd value) grain —
            // nulls kept — so ONE aggregation + collect serves both the
            // per-key ΔG rollup (driver-side) and the touched-pairs set;
            // multi-cd views keep the key-grain pass (their pair grains
            // differ per column)
            val fusedCols = cdSpecsS match {
              case Seq((arg, _)) =>
                Seq(RuleCompiler.term(arg, bf).as("__v"), lit(sgn).as("__c"))
              case _ => Seq.empty
            }
            bf.select(keyExprs ++ contrib ++ Seq(lit(sgn).as("__dn")) ++
              nnCols ++ fusedCols: _*)
          }
          val grain: Seq[String] =
            if (cdSpecsS.length == 1) keyNames :+ "__v" else keyNames
          val aggsOut =
            aggSpecs.map { case (_, i) =>
              (if (decSpecs.contains(i)) sum(col(s"__v$i")).cast(DecT)
               else sum(col(s"__v$i"))).as(s"__v$i") } ++
            Seq(sum(col("__dn")).as("__dn")) ++
            nnSpecs.map(i => sum(col(s"__nn$i")).as(s"__nn$i")) ++
            (if (cdSpecsS.length == 1) Seq(sum(col("__c")).as("__c")) else Seq.empty)
          // a key-less `groupBy()` emits one all-null row over an empty
          // delta; it is no dirty group
          signedFrames.reduce(_ unionByName _)
            .groupBy(grain.map(col): _*)
            .agg(aggsOut.head, aggsOut.tail: _*)
            .where(col("__dn").isNotNull)
        } catch { case SubBail => return None }
        // bounded dirty set; past the cap dirty-group recomputation is
        // the better plan anyway (pair grain under single-cd fusion)
        val fused = cdSpecsS.length == 1
        val dirtyRaw = dG.limit(2050).collect()
        if (dirtyRaw.length > (if (fused) 2048 else 1024)) return None
        // under fusion, roll the pair-grain rows up to key grain in
        // memory: same row layout (keys ++ __v_i ++ __dn ++ __nn_i) as
        // the key-grain aggregation emits directly
        val dirty: Array[org.apache.spark.sql.Row] =
          if (!fused) dirtyRaw
          else {
            // fused pair-grain positions: keys ++ __v ++ __v_i ++ __dn
            // ++ __nn_i; decimal-carried __v_i roll up in BigDecimal
            val decPos: Set[Int] = aggSpecs.zipWithIndex.collect {
              case ((_, i), ai) if decSpecs.contains(i) => kLen + 1 + ai
            }.toSet
            val byKey = dirtyRaw.groupBy(row => (0 until kLen).map(row.get))
            byKey.iterator.map { case (k, rows) =>
              val sums = (kLen + 1 until kLen + 1 + aggSpecs.length + 1 + nnSpecs.length)
                .map { p =>
                  if (decPos(p))
                    rows.map(r => Option(r.getAs[java.math.BigDecimal](p))
                      .getOrElse(java.math.BigDecimal.ZERO)).reduce(_.add(_)): Any
                  else rows.map(_.getLong(p)).sum: Any
                }
              org.apache.spark.sql.Row.fromSeq(k ++ sums)
            }.toArray
          }
        if (dirty.length > 1024) return None
        if (dirty.isEmpty) {
          // nothing changed in this view (phantom delete, netted
          // delete+reinsert): keep the carried tables current
          vs.restamp(v0, catalog.version)
          recordNamedDelta(name, v0, Nil, Nil)
          aggDecrementCount += 1
          return Some(cached)
        }
        if (dirty.exists(row =>
            (0 until kLen).exists(j => !SparkValues.literalKey(row.get(j)))))
          return None
        val vPos = aggSpecs.map(_._2).zipWithIndex.map { case (i, p) => i -> (kLen + p) }.toMap
        val dnPos = kLen + aggSpecs.length
        val nnPos = nnSpecs.zipWithIndex.map { case (i, p) => i -> (dnPos + 1 + p) }.toMap
        val dMap: Map[Seq[Any], org.apache.spark.sql.Row] =
          dirty.map(row => (0 until kLen).map(j => SparkValues.key(row.get(j))).toSeq -> row).toMap

        // COMBINED per-group state: the view row PLUS its support counts
        // in one materialized frame — the returned view is a projection of
        // it. One frame means one dirty collect and one update pass per
        // round instead of separate view/support maintenance: a
        // maintenance round here is job-count-bound, not data-bound, and
        // this halves the jobs. Carried at v0 (a stale table seeded above).
        val combined = vs.support.get._2
        // the support table's home ([[homeOf]]): under the cap its rows
        // sit on the driver, so the dirty read is a map lookup and the
        // commit a literal frame; past it the keyed carrier reads overlay
        // lookups plus one IN-pruned base scan, never a view-sized pass
        val supportHome = homeOf(name, Part.Support, combined, keyNames,
          65536L, combined)
        val dirtyCombined = homeDirty(supportHome, combined, keyNames,
          dMap.keys, 2048).getOrElse(return None)

        // ---- count_distinct: per-pair support math over the pairs
        // tables. Touched pairs = the signed bindings' (keys, value)
        // pairs with net binding-count deltas; a pair BORN (support
        // 0 → >0) bumps its group's distinct count, a pair DYING
        // (support → 0) decrements it. All driver-side over the bounded
        // touched set; the pairs table itself updates in one map-only
        // pass (literal pair predicate), like the combined frame.
        val cdBorn = mutable.HashMap.empty[(Seq[Any], Int), Long]
        val cdDied = mutable.HashMap.empty[(Seq[Any], Int), Long]
        // committed on success, after the support table: per cd column,
        // the pairs table's home, frame, touched pairs and alive rows
        val cdAuxNew = Seq.newBuilder[(Int, Home, DataFrame, Iterable[Seq[Any]],
          Seq[org.apache.spark.sql.Row])]
        if (cdSpecsS.nonEmpty) {
          // __c sits last in the fused pair-grain rows
          val cPos = kLen + 1 + aggSpecs.length + 1 + nnSpecs.length
          val ok = cdSpecsS.forall { case (arg, i) =>
            val touched: Array[(Seq[Any], Long)] =
              if (fused)
                // already collected by the fused pass: non-null cd values
                // with a net signed binding delta
                dirtyRaw.iterator
                  .filter(row => row.get(kLen) != null && row.getLong(cPos) != 0L)
                  .map(row => ((0 to kLen).map(j => row.get(j)).toSeq,
                    row.getLong(cPos))).toArray
              else {
                val frames = parts.indices.map { pi =>
                  val sgn = parts(pi)._2
                  val bf = boundOf(pi)
                  bf.select(keyIdx.map(j =>
                      RuleCompiler.term(r.head.args(j), bf).as(s"c$j")) :+
                    RuleCompiler.term(arg, bf).as("__v"): _*)
                    .where(col("__v").isNotNull)
                    .withColumn("__c", lit(sgn))
                }
                frames.reduce(_ unionByName _)
                  .groupBy((keyNames :+ "__v").map(col): _*)
                  .agg(sum(col("__c")).as("__dc"))
                  .where(col("__dc") =!= 0)
                  .limit(2050).collect()
                  .map(row => ((0 to kLen).map(j => row.get(j)).toSeq,
                    row.getLong(kLen + 1)))
              }
            if (touched.length > 2048 ||
                touched.exists { case (p, _) => !SparkValues.literalKey(p(kLen)) }) false
            else {
              val tMap = touched.map { case (p, dc) =>
                (p.map(SparkValues.key), dc)
              }.toMap
              val auxPRaw = vs.pairs(i)._2
              val auxP = auxPRaw.toDF((keyNames :+ "__v" :+ "__s"): _*)
              // the pairs table's home, like the support table's above
              val pairNames = keyNames :+ "__v"
              val pairsHome = homeOf(name, Part.Pairs(i), auxP, pairNames,
                65536L, auxPRaw)
              homeDirty(pairsHome, auxP, pairNames, tMap.keys, 2048) match {
                case None => false
                case Some(auxTouched) =>
                  val sMap: Map[Seq[Any], Long] = auxTouched.map { row =>
                    ((0 to kLen).map(j => SparkValues.key(row.get(j))): Seq[Any]) ->
                      row.getLong(kLen + 1)
                  }.toMap
                  val alive = Seq.newBuilder[org.apache.spark.sql.Row]
                  var sane = true
                  tMap.foreach { case (p, dc) =>
                    val s0 = sMap.getOrElse(p, 0L)
                    val s1 = s0 + dc
                    if (s1 < 0) sane = false // would need a phantom removal
                    val key = p.take(kLen)
                    if (s0 == 0L && s1 > 0L)
                      cdBorn((key, i)) = cdBorn.getOrElse((key, i), 0L) + 1
                    if (s0 > 0L && s1 <= 0L)
                      cdDied((key, i)) = cdDied.getOrElse((key, i), 0L) + 1
                    if (s1 > 0L)
                      alive += org.apache.spark.sql.Row.fromSeq(p :+ s1)
                  }
                  if (sane) cdAuxNew += ((i, pairsHome, auxP, tMap.keys, alive.result()))
                  sane
              }
            }
          }
          if (!ok) return None
        }
        val nPos = cols.length
        val nnPosC = nnSpecs.zipWithIndex.map { case (i, p) =>
          i -> (cols.length + 1 + p) }.toMap
        val sumPosC = decSpecs.zipWithIndex.map { case (i, p) =>
          i -> (cols.length + 1 + nnSpecs.length + p) }.toMap
        // position of __k1_i on the combined row (__b2 and __k2 follow)
        val mmPosC = mmSpecs.map(_._2).zipWithIndex.map { case (i, p) =>
          i -> (cols.length + 1 + nnSpecs.length + decSpecs.length + 3 * p) }.toMap
        val oldMap = mutable.HashMap.empty[Seq[Any], org.apache.spark.sql.Row]
        dirtyCombined.foreach { row =>
          oldMap(keyIdx.map(i => SparkValues.key(row.get(i))).toSeq) = row
        }

        // ---- min/max: top-2 carry update. Per column, ONE bounded
        // (keys, value) signed-net collect over the shared delta
        // bindings; then pure driver math per dirty group: decrement/
        // increment the carried counts of the extremum (view column)
        // and runner-up, admit inserted values that are PROVABLY new
        // (better than the runner-up — nothing can exist strictly
        // between the two best distinct values), and promote exactly.
        // Only a group whose best AND runner-up both die (or whose
        // runner-up was already unknown) refills, via a key-filtered
        // top-2 pass at the new state — bounded by the dirty set.
        val mmResolved = mutable.HashMap.empty[(Seq[Any], Int), (Any, Long, Any, Long)]
        if (mmSpecs.nonEmpty) {
          // one bounded nets collect per DISTINCT argument expression —
          // min<S> and max<S> share it
          val netsByTerm: Map[Term, Map[Seq[Any], Map[Any, Long]]] =
            mmSpecs.map(i => numArgOf(i._2)).distinct.map { term =>
              val frames = parts.indices.map { pi =>
                val sgn = parts(pi)._2
                val bf = boundOf(pi)
                bf.select(keyIdx.map(j =>
                    RuleCompiler.term(r.head.args(j), bf).as(s"c$j")) :+
                  RuleCompiler.term(term, bf).as("__v"): _*)
                  .where(col("__v").isNotNull)
                  .withColumn("__c", lit(sgn))
              }
              val touched = frames.reduce(_ unionByName _)
                .groupBy((keyNames :+ "__v").map(col): _*)
                .agg(sum(col("__c")).as("__net")).where(col("__net") =!= 0)
                .limit(2050).collect()
              if (touched.length > 2048) return None
              val byKey: Map[Seq[Any], Map[Any, Long]] = touched.groupBy { row =>
                  val kk: Seq[Any] = (0 until kLen).map(j => SparkValues.key(row.get(j)))
                  kk
                }.map { case (k, rws) => k -> rws.map(row =>
                  SparkValues.key(row.get(kLen)) -> row.getLong(kLen + 1)).toMap }
              term -> byKey
            }.toMap
          val mmNets: Map[Int, Map[Seq[Any], Map[Any, Long]]] =
            mmSpecs.map { case (_, i) => i -> netsByTerm(numArgOf(i)) }.toMap
          val needRefill = mutable.HashSet.empty[(Seq[Any], Int)]
          dMap.foreach { case (k, dRow) =>
            val old = oldMap.get(k)
            val n1 = old.map(_.getLong(nPos)).getOrElse(0L) + dRow.getLong(dnPos)
            if (n1 > 0) mmSpecs.foreach { case (f, i) =>
              def cmp(a: Any, b: Any): Int = {
                val c = SparkValues.compare(a, b)
                if (f == "min") c else -c
              }
              val nn1i = old.map(_.getLong(nnPosC(i))).getOrElse(0L) +
                dRow.getLong(nnPos(i))
              val net: Map[Any, Long] = mmNets(i).getOrElse(k, Map.empty)
              val (b1, k1, b2, k2): (Any, Long, Any, Long) = old match {
                case None => (null, 0L, null, 0L) // fresh group: no priors
                case Some(o) =>
                  (Option(o.get(i)).map(SparkValues.key).orNull,
                   if (o.isNullAt(mmPosC(i))) 0L else o.getLong(mmPosC(i)),
                   Option(o.get(mmPosC(i) + 1)).map(SparkValues.key).orNull,
                   if (o.isNullAt(mmPosC(i) + 2)) 0L else o.getLong(mmPosC(i) + 2))
              }
              if (nn1i == 0L) {
                mmResolved((k, i)) = (null, 0L, null, 0L) // only nulls remain
              } else {
                // complete knowledge: the group had at most one distinct
                // non-null value, so every positive net is exact
                val noUnknown = b2 == null && k2 == 0L
                val k1p = if (b1 == null) 0L else k1 + net.getOrElse(b1, 0L)
                val k2p = if (b2 != null) k2 + net.getOrElse(b2, 0L) else k2
                if (k1p < 0L || (b2 != null && k2p < 0L)) needRefill += ((k, i))
                else {
                  val cand = net.iterator.filter { case (v, n) =>
                    n > 0 && v != b1 && (b2 == null || v != b2) && (
                      if (b2 != null) cmp(v, b2) < 0
                      else if (noUnknown) true
                      else b1 != null && cmp(v, b1) < 0)
                  }.toSeq
                  val L = ((if (b1 != null && k1p > 0) Seq((b1, k1p)) else Seq.empty) ++
                    (if (b2 != null && k2p > 0) Seq((b2, k2p)) else Seq.empty) ++
                    cand).sortWith((a, b) => cmp(a._1, b._1) < 0)
                  if (L.size >= 2)
                    mmResolved((k, i)) = (L(0)._1, L(0)._2, L(1)._1, L(1)._2)
                  else if (L.size == 1)
                    mmResolved((k, i)) =
                      (L(0)._1, L(0)._2, null, if (noUnknown) 0L else -1L)
                  else if (noUnknown) needRefill += ((k, i)) // nn1>0 contradiction
                  else needRefill += ((k, i)) // best unknown: refill
                }
              }
            }
          }
          // refill: one key-filtered new-state top-2 pass per DISTINCT
          // argument (min<S>/max<S> fuse, like the seed; the catalog
          // already holds the post-change relations). The key filter is
          // the union of the group's needy keys; each column consumes
          // results only for its own refill set.
          if (needRefill.nonEmpty) {
            lazy val newBody = RuleCompiler.compileBody(r.body,
              (nm, ar) => resolve(nm, ar), hnswFrame, catalog.statRows)
            mmSpecs.groupBy { case (_, i) => numArgOf(i) }.values.foreach { specs =>
              val perCol: Map[Int, Seq[Seq[Any]]] = specs.map { case (_, i) =>
                i -> needRefill.iterator.collect { case (k, `i`) => k }.toSeq
              }.toMap
              val ksAll = perCol.valuesIterator.flatten.toSeq.distinct
              if (ksAll.nonEmpty) {
                val got: Map[Seq[Any], org.apache.spark.sql.Row] =
                  mmTop2Multi(newBody, specs,
                    onlyKeys = Some(keyLit(ksAll, combined, keyNames)))
                  .limit(2050).collect()
                  .map { row =>
                    val kk: Seq[Any] = (0 until kLen).map(j => SparkValues.key(row.get(j)))
                    kk -> row
                  }.toMap
                specs.zipWithIndex.foreach { case ((_, i), si) =>
                  val base = kLen + 4 * si
                  perCol(i).foreach { k =>
                    mmResolved((k, i)) = got.get(k) match {
                      case Some(row) => (row.get(base),
                        if (row.isNullAt(base + 1)) 0L else row.getLong(base + 1),
                        row.get(base + 2),
                        if (row.isNullAt(base + 3)) 0L else row.getLong(base + 3))
                      case None => (null, 0L, null, 0L) // only nulls remain
                    }
                  }
                }
              }
            }
          }
        }
        val mmIdxSet = mmSpecs.map(_._2).toSet
        val newRows = Seq.newBuilder[org.apache.spark.sql.Row]
        dMap.foreach { case (k, dRow) =>
          val old = oldMap.get(k)
          val n1 = old.map(_.getLong(nPos)).getOrElse(0L) + dRow.getLong(dnPos)
          if (n1 > 0) {
            val nn1 = nnSpecs.map(i => i ->
              (old.map(_.getLong(nnPosC(i))).getOrElse(0L) + dRow.getLong(nnPos(i)))).toMap
            // decimal-carried running sums: exact add/subtract, pinned
            // back to scale 12 (BigDecimal.add widens the scale)
            val sum1: Map[Int, java.math.BigDecimal] = decSpecs.map { i =>
              val base = old.flatMap(o =>
                Option(o.getAs[java.math.BigDecimal](sumPosC(i))))
                .getOrElse(java.math.BigDecimal.ZERO)
              val d = Option(dRow.getAs[java.math.BigDecimal](vPos(i)))
                .getOrElse(java.math.BigDecimal.ZERO)
              i -> base.add(d).setScale(12, java.math.RoundingMode.HALF_UP)
            }.toMap
            val cdIdxSet = cdSpecsS.map(_._2).toSet
            val vals = cols.indices.map { i =>
              val kp = keyIdx.indexOf(i)
              if (kp >= 0) k(kp)
              else if (cdIdxSet(i)) { // count_distinct: pair births − deaths
                val oldV = old.map(_.get(i)).orNull
                val base = if (oldV == null) 0L else oldV.asInstanceOf[Long]
                base + cdBorn.getOrElse((k, i), 0L) - cdDied.getOrElse((k, i), 0L)
              } else if (mmIdxSet(i)) { // min/max: top-2 carry (above)
                mmResolved((k, i))._1
              } else if (avgArgOf.contains(i)) { // avg = carried sum / nn
                if (nn1(i) == 0L) null else sum1(i).doubleValue / nn1(i)
              } else if (decSpecs.contains(i)) { // f64 sum from the carry
                if (nn1(i) == 0L) null else sum1(i).doubleValue
              } else { // i64 sum / count: view value is itself the carry
                val oldV = old.map(_.get(i)).orNull
                val base = if (oldV == null) 0L else oldV.asInstanceOf[Long]
                val dV = dRow.getLong(vPos(i))
                if (sumArgOf.contains(i) && nn1(i) == 0L) null else base + dV
              }
            } ++ Seq(n1) ++ nnSpecs.map(nn1) ++ decSpecs.map(sum1) ++
              mmSpecs.flatMap { case (_, i) =>
                val t = mmResolved((k, i)); Seq(t._2, t._3, t._4) }
            newRows += org.apache.spark.sql.Row.fromSeq(vals)
          }
          // n1 == 0: the group vanishes from view and support alike
        }
        val rows = newRows.result()
        // dirty groups become their survivors' rows or vanish; the
        // resident home commits no support-sized action, the carrier
        // home only its overlay ([[carrierCommit]] folds past its cap)
        val combinedOut = homeCommit(name, Part.Support, supportHome,
          combined, keyNames, dMap.keys, rows)
        supportHome match {
          case _: Home.Resident => aggLocalRounds += 1
          case _: Home.Carried => supportParquetRounds += 1
          case Home.FrameOnly => ()
        }
        // the superseded state retires with the update (combinedOut is
        // checkpoint-independent of `combined` once materialized). A
        // CARRIED table's projection was a SERVED view — results handed
        // out earlier (Engine.run frames, wire responses; the snapshot
        // runner collects a whole script's queries at the end) may still
        // hold lazy plans over it, so it ages through the
        // [[graft.plans.Graveyard]] grace window instead of being freed
        // under a live reader.
        graft.plans.Graveyard.buryAndDrain(Fixpoint.checkpointRddOf(combined))
        vs.support = Some((catalog.version, combinedOut))
        // commit the updated pairs tables the same way
        val vNow = catalog.version
        cdAuxNew.result().foreach { case (i, home, auxP, touched, alive) =>
          val out = homeCommit(name, Part.Pairs(i), home, auxP,
            keyNames :+ "__v", touched, alive)
          if (home.isInstanceOf[Home.Carried]) supportParquetRounds += 1
          vs.pairs.put(i, (vNow, out)).foreach { case (_, old) =>
            if (!(old eq out)) release(old)
          }
        }
        aggDecrementCount += 1
        // NAME the exact view-level delta for stacked-view consumers:
        // per dirty group, the old view row (projection of the old
        // combined row) vs the new one — pure driver math over the
        // bounded dirty set, no extra Spark action. A group whose view
        // row didn't change (e.g. deleted values summed to 0) is
        // excluded, matching what the anti-join diff would see.
        locally {
          val newByKey: Map[Seq[Any], org.apache.spark.sql.Row] =
            rows.iterator.map(row =>
              (keyIdx.map(i => SparkValues.key(row.get(i))): Seq[Any]) -> row).toMap
          def proj(row: org.apache.spark.sql.Row): org.apache.spark.sql.Row =
            org.apache.spark.sql.Row.fromSeq(cols.indices.map(row.get))
          val insB = Seq.newBuilder[org.apache.spark.sql.Row]
          val remB = Seq.newBuilder[org.apache.spark.sql.Row]
          dMap.keysIterator.foreach { kk =>
            val o = oldMap.get(kk).map(proj)
            val nw = newByKey.get(kk).map(proj)
            (o, nw) match {
              case (Some(a), Some(b))
                  if SparkValues.key(a.toSeq) == SparkValues.key(b.toSeq) => ()
              case _ => o.foreach(remB += _); nw.foreach(insB += _)
            }
          }
          recordNamedDelta(name, v0, insB.result(), remB.result())
        }
        Some(combinedOut.select(cols.map(col): _*))

      } finally bindingMats.foreach(release)
    }

    /** RANK-view (`top_k` / `top_k_threshold`) delete maintenance through
      * a carried PREFIX BUFFER on [[ViewState.support]] — the Spark
      * analogue of the reference's arranged per-group heaps (the DD
      * arrangement behind `src/code_generator/mod.rs:2462-2560` keeps
      * every group's multiset resident; a bounded prefix with refill is
      * the state-bounded equivalent). Buffer invariant, per group: the
      * first ≤ k+slack DISTINCT head rows in rank order, each carrying
      * its FULL binding multiplicity `__n`, plus the group's total
      * binding count `__tot` (denormalized). Every row of the group's
      * multiset sorting ≤ the buffer's last row is IN the buffer — a
      * true prefix — so the view's top-k expands from the buffer alone
      * whenever sum(__n) ≥ k or the buffer is exhaustive
      * (sum(__n) = __tot). Deletes DECREMENT multiplicities (a delete
      * past the prefix only moves `__tot`); inserts merge in when they
      * sort within the prefix (or the group is exhaustive); only a
      * group whose prefix shrinks below k with bindings still beyond it
      * refills, via ONE key-filtered pass — every stage is bounded by
      * the buffer and the delta, never the base relation. */
    private def maintainRankBuffered(name: String, r: Rule, rank: Rank,
        cols: Seq[String], groupIdx: Seq[Int], outIdx: Seq[Int],
        orderIdx: Int, changedOcc: Int, changedRel: String,
        deltaOf: Map[String, DataFrame], removedOf: Map[String, DataFrame],
        cached: DataFrame, v0: Long,
        tinyLiteralRound: Boolean): Option[DataFrame] = {
      import org.apache.spark.sql.types._
      if (rank.func != "top_k" && rank.func != "top_k_threshold") return None
      val k = rank.params(0).toLong
      if (k <= 0L || k > 100000L) return None
      // distinct-row capacity: k plus the slack deletes consume before a
      // group needs a refill pass
      val kdist = k + math.min(math.max(k, 16L), 1024L)
      val named = cached.toDF(cols: _*)
      // ordering contract: the buffer's lexicographic boundary compare
      // must agree with the window sort the view was built with —
      // numeric order column, atomically-comparable outs
      def cmpOk(dt: DataType): Boolean = dt match {
        case LongType | IntegerType | ShortType | ByteType | DoubleType |
             FloatType | StringType | BooleanType | DateType | TimestampType => true
        case _: DecimalType => true
        case _ => false
      }
      val ordT = named.schema(orderIdx).dataType
      if (ordT != LongType && ordT != DoubleType) return None
      if (!outIdx.forall(i => cmpOk(named.schema(i).dataType))) return None

      val vs = state(name)
      val carried0 = vs.support.filter(_._1 == v0).map(_._2)
      // 2-competitive seed deferral (same policy as the aggregate
      // support tables): a one-off tiny literal delete on a big base
      // doesn't amortize the full-body seed pass
      if (carried0.isEmpty && tinyLiteralRound && seedDeferredOnce.add(name))
        return None

      val spark = catalog.spark
      val W = org.apache.spark.sql.expressions.Window
      val ordCol = col(cols(orderIdx))
      val groupNames = groupIdx.map(cols)
      val groupCols = groupNames.map(col)
      val sortCols: Seq[Column] =
        (if (rank.desc) ordCol.desc else ordCol.asc) +:
          outIdx.map(i => col(cols(i)).asc)
      val sortIdx: Seq[Int] = orderIdx +: outIdx
      val nanIdx = sortIdx.filter { i =>
        val dt = named.schema(i).dataType
        dt == DoubleType || dt == FloatType
      }
      // a null or NaN sort-column value would corrupt the boundary
      // compare (Column comparisons go null/false where the window sort
      // has a defined order) — such rows bail the round to dirty-group
      def violRow: Column =
        sortIdx.map(i => col(cols(i)).isNull)
          .foldLeft(lit(false))(_ || _) ||
        nanIdx.map(i => isnan(col(cols(i)).cast(DoubleType)))
          .foldLeft(lit(false))(_ || _)

      def headRows(b0: DataFrame): DataFrame = {
        val b = rank.func match {
          case "top_k_threshold" =>
            b0.filter(if (rank.desc) col(rank.orderVar.name) >= lit(rank.params(1))
                      else col(rank.orderVar.name) <= lit(rank.params(1)))
          case _ => b0
        }
        val prj = Seq.newBuilder[Column]; var i = 0
        r.head.args.foreach {
          case _: Rank =>
            rank.outs.foreach { o => prj += col(o.name).as(s"c$i"); i += 1 }
            prj += col(rank.orderVar.name).as(s"c$i"); i += 1
          case t => prj += RuleCompiler.term(t, b).as(s"c$i"); i += 1
        }
        b.select(prj.result(): _*)
      }
      def bodyNow: DataFrame =
        RuleCompiler.compileBody(r.body, (nm, ar) => resolve(nm, ar),
          hnswFrame, catalog.statRows)

      /** Buffer rows for (a slice of) the view: first ≤ kdist distinct
        * head rows per group in rank order, full multiplicities,
        * per-group total. One grouped pass + a grouped window — or a
        * TakeOrdered for the ungrouped head (never a one-partition
        * window over the body). */
      def bufferFrom(hr: DataFrame): DataFrame = {
        val cnt = hr.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__n"))
        if (groupIdx.nonEmpty) {
          val wAll = W.partitionBy(groupCols: _*)
          val wOrd = wAll.orderBy(sortCols: _*)
          cnt.withColumn("__tot", sum(col("__n")).over(wAll))
            .withColumn("__rn", row_number().over(wOrd))
            .where(col("__rn") <= kdist).drop("__rn")
        } else {
          val tot1 = cnt.agg(coalesce(sum(col("__n")), lit(0L)).as("__tot"))
          cnt.crossJoin(tot1).orderBy(sortCols: _*).limit(kdist.toInt)
        }
      }
      /** Top-k expansion of a committed buffer — a buffer-sized window
        * (≤ kdist rows per group; for the ungrouped head the single
        * partition holds ≤ kdist rows, not the base). */
      def expand(buf: DataFrame): DataFrame = {
        val w = W.partitionBy(groupCols: _*).orderBy(sortCols: _*)
          .rowsBetween(W.unboundedPreceding, -1)
        buf.withColumn("__start", coalesce(sum(col("__n")).over(w), lit(0L)))
          .where(col("__start") < k)
          .withColumn("__copies", least(col("__n"), lit(k) - col("__start")))
          .withColumn("__dup", explode(sequence(lit(1L), col("__copies"))))
          .select(cols.map(col): _*)
      }
      def retireSuperseded(old: DataFrame): Unit =
        Fixpoint.checkpointRddOf(old).foreach { s =>
          if (!Fixpoint.checkpointRddOf(cached).exists(_ eq s))
            graft.plans.Graveyard.buryAndDrain(Some(s))
        }

      // ---------------- seed round: build the buffer at the NEW state;
      // the round's answer falls out of the same frame
      if (carried0.isEmpty) {
        val seedMat = Fixpoint.materialize(bufferFrom(headRows(bodyNow))).df
        if (!seedMat.where(violRow).isEmpty) {
          Fixpoint.checkpointRddOf(seedMat).foreach(_.unpersist(false))
          return None
        }
        // a STALE buffer left in place by an earlier fallback round is
        // displaced by this commit — grace-window retirement
        vs.support.foreach { case (_, old) => retireSuperseded(old) }
        vs.support = Some((catalog.version, seedMat))
        vs.local.remove(Part.Rank) // a reseed invalidates the driver copy
        vs.carriers.remove(Part.Rank) // ...and the parquet overlay state
          .foreach(_.dirs.foreach(Engine.retireDir))
        vs.big.remove(Part.Rank) // ...and may have shrunk it
        rankBufferSeeds += 1
        rankDecrementCount += 1
        return Some(expand(seedMat))
      }
      val buf0 = carried0.get

      // ---------------- update round riding the carried buffer
      def asLiteral(df: DataFrame): (DataFrame, Long) =
        Fixpoint.collectUpTo(df, 4096L) match {
          case Some(rows) =>
            (spark.createDataFrame(
              spark.sparkContext.parallelize(rows.toSeq,
                Fixpoint.parallelizeParts(rows.length.toLong)),
              StructType(df.schema.fields.map(_.copy(nullable = true)))),
             rows.length.toLong)
          case None => (df, -1L)
        }
      def bindingsOf(bound: DataFrame): DataFrame =
        RuleCompiler.compileBody(r.body,
          RuleCompiler.bindOccurrence(r, changedOcc, bound,
            (nm, ar) => resolve(nm, ar)),
          hnswFrame, catalog.statRows)
      val remLit = removedOf.get(changedRel).map(asLiteral)
      val insLit = deltaOf.get(changedRel).map(asLiteral)
      def restamp(): Unit = vs.restamp(v0, catalog.version)
      if (remLit.forall(_._2 == 0L) && insLit.forall(_._2 == 0L) &&
          (remLit.nonEmpty || insLit.nonEmpty)) {
        restamp(); recordNamedDelta(name, v0, Nil, Nil)
        return Some(cached)
      }

      /** DRIVER-LOCAL riding round (cap-gated): the distributed merge
        * algebra below runs ~7 Spark actions whose AQE stage-jobs cost
        * ~25 scheduler round-trips per round — the right shape when the
        * buffer or the delta is big, pure latency for the common round
        * (bounded buffer, literal delta, no refill). Here the SAME
        * merge runs on a driver-resident buffer copy, with one bounded
        * delta-count collect per change side as the only Spark work;
        * the committed buffer and the served view become literal
        * frames (no lineage, no checkpoint to retire). Falls through
        * to the distributed algebra unchanged on ANY complication:
        * caps exceeded, a group needing a refill, contract violations
        * (the distributed viol path decides those), or column types
        * that [[SparkValues.compare]] does not order. */
      def localRide(): Option[DataFrame] = {
        if (limits.tier == Tier.Distributed) return None
        if (!cols.indices.forall(i => named.schema(i).dataType match {
          case LongType | IntegerType | ShortType | ByteType | DoubleType |
               FloatType | BooleanType | StringType => true
          case _ => false
        })) return None
        if (remLit.exists(_._2 < 0L) || insLit.exists(_._2 < 0L)) return None
        val nc = cols.length
        // null or NaN sort values: the distributed viol path decides
        def anomalous(r: org.apache.spark.sql.Row): Boolean =
          sortIdx.exists(i => !SparkValues.literalKey(r.get(i)))
        def keyOf(r: org.apache.spark.sql.Row): Vector[Any] =
          Vector.tabulate(nc)(j => SparkValues.key(r.get(j)))
        def gkeyOf(key: Vector[Any]): Vector[Any] = groupIdx.map(key).toVector
        // one bounded grouped collect per change side — the only jobs
        def sideCounts(l: Option[(DataFrame, Long)]):
            Option[Map[Vector[Any], Long]] =
          l.filter(_._2 != 0L) match {
            case None => Some(Map.empty)
            case Some((f, _)) =>
              val plan = headRows(bindingsOf(f))
                .groupBy(cols.map(col): _*).agg(count(lit(1)).as("__c"))
              Fixpoint.collectUpTo(plan, 8192L).flatMap { rows =>
                if (rows.exists(anomalous)) None // distributed viol path decides
                else Some(rows.iterator.map(r => keyOf(r) -> r.getLong(nc)).toMap)
              }
          }
        val remM = sideCounts(remLit).getOrElse(return None)
        val insM = sideCounts(insLit).getOrElse(return None)
        if (remM.isEmpty && insM.isEmpty) {
          restamp(); recordNamedDelta(name, v0, Nil, Nil)
          return Some(cached)
        }
        // ---- the touched groups' buffer rows from the buffer's home
        // ([[homeOf]]): the driver-resident copy, or past the cap the
        // keyed carrier's overlay lookups plus one IN-pruned base scan.
        // The merge below runs on that slice only; every per-group
        // invariant it reads (boundary, cum, tot) lives in the group's
        // own rows, so the partial merge is exact. The ungrouped head
        // has no carrier form (one group; over the cap it is a genuinely
        // huge single buffer — the distributed algebra's shape).
        val home = homeOf(name, Part.Rank, buf0, groupNames,
          Engine.rankBufLocalCap, buf0)
        if (home == Home.FrameOnly) return None // distributed algebra
        val touched = (remM.keySet ++ insM.keySet).iterator
          .map(gkeyOf(_): Seq[Any]).toSeq.distinct
        val bufRows = homeDirty(home, buf0, groupNames, touched, 65536)
          .getOrElse(return None)
        if (bufRows.exists(r => anomalous(r) || r.isNullAt(nc) || r.isNullAt(nc + 1)))
          return None
        def rankCmp(a: Vector[Any], b: Vector[Any]): Int = {
          var c = SparkValues.compare(a(orderIdx), b(orderIdx))
          if (rank.desc) c = -c
          if (c != 0) return c
          outIdx.foreach { i =>
            val d = SparkValues.compare(a(i), b(i)); if (d != 0) return d
          }
          0
        }
        // carried per-row multiplicities and per-group cum/tot/boundary
        val mulOf = mutable.LinkedHashMap.empty[Vector[Any], Long]
        val gtot = mutable.HashMap.empty[Vector[Any], Long]
        val gcum = mutable.HashMap.empty[Vector[Any], Long]
        val gbnd = mutable.HashMap.empty[Vector[Any], Vector[Any]]
        bufRows.foreach { r =>
          val key = keyOf(r)
          mulOf(key) = r.getLong(nc)
          val g = gkeyOf(key)
          gcum(g) = gcum.getOrElse(g, 0L) + r.getLong(nc)
          gtot(g) = r.getLong(nc + 1)
          gbnd.get(g) match {
            case Some(b) if rankCmp(key, b) <= 0 => ()
            case _ => gbnd(g) = key
          }
        }
        if (mulOf.size != bufRows.length) return None // dup keys: breach
        val dtot = mutable.HashMap.empty[Vector[Any], Long]
        remM.foreach { case (key, c) =>
          val g = gkeyOf(key); dtot(g) = dtot.getOrElse(g, 0L) - c }
        insM.foreach { case (key, c) =>
          val g = gkeyOf(key); dtot(g) = dtot.getOrElse(g, 0L) + c }
        // row-level merge — same belongs/keep algebra as the frames below
        val kept = mutable.HashMap
          .empty[Vector[Any], mutable.ArrayBuffer[(Vector[Any], Long)]]
        val cum2 = mutable.HashMap.empty[Vector[Any], Long]
        val allKeys = mulOf.keysIterator ++
          (remM.keySet ++ insM.keySet).iterator.filterNot(mulOf.contains)
        allKeys.foreach { key =>
          val n = mulOf.get(key)
          val delta = insM.getOrElse(key, 0L) - remM.getOrElse(key, 0L)
          val g = gkeyOf(key)
          val isNew = !gtot.contains(g)
          val exhaustive = gtot.get(g).exists(t => gcum.getOrElse(g, 0L) == t)
          val leq = gbnd.get(g).exists(b => rankCmp(key, b) <= 0)
          val belongs = n.isDefined || isNew || exhaustive || leq
          val n1 = n.getOrElse(0L) + delta
          if (belongs && n1 < 0L) return None // breach: distributed path decides
          if (belongs && n1 > 0L) {
            kept.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((key, n1))
            cum2(g) = cum2.getOrElse(g, 0L) + n1
          }
        }
        val allG = mutable.LinkedHashSet.empty[Vector[Any]]
        gtot.keysIterator.foreach(allG += _)
        dtot.keysIterator.foreach(allG += _)
        val ntot = mutable.HashMap.empty[Vector[Any], Long]
        val refillG = mutable.LinkedHashSet.empty[Vector[Any]]
        allG.foreach { g =>
          val t = gtot.getOrElse(g, 0L) + dtot.getOrElse(g, 0L)
          if (t < 0L) return None
          ntot(g) = t
          val c2 = cum2.getOrElse(g, 0L)
          if (c2 < k && c2 < t && t > 0L) refillG += g
        }
        // groups whose prefix shrank below k with bindings still beyond
        // it REFILL: the same ONE key-filtered body pass the distributed
        // algebra runs, collected (the refilled groups' fresh buffer
        // slices are ≤ k+slack rows each) and merged here — the scan is
        // the only distributed work of the round. Non-literal keys fall
        // through (the distributed path bails those to dirty-group).
        if (refillG.exists(_.exists(v => !SparkValues.literalKey(v)))) return None
        val refillRows: Map[Vector[Any], Seq[(Vector[Any], Long, Long)]] =
          if (refillG.isEmpty) Map.empty
          else {
            val gNames = groupIdx.map(cols)
            val frame =
              if (groupIdx.isEmpty) bufferFrom(headRows(bodyNow))
              else {
                val keyPred = refillG.toSeq.map { kv =>
                  gNames.indices.map(j => col(gNames(j)) <=> lit(kv(j)))
                    .reduce(_ && _)
                }.reduce(_ || _)
                bufferFrom(headRows(bodyNow).where(keyPred))
              }
            val rows = Fixpoint.collectUpTo(frame, 8192L).getOrElse(return None)
            if (rows.exists(r =>
              anomalous(r) || r.isNullAt(nc) || r.isNullAt(nc + 1))) return None
            rows.toSeq.map(r => (keyOf(r), r.getLong(nc), r.getLong(nc + 1)))
              .groupBy(t3 => gkeyOf(t3._1))
          }
        // ---- commit: each touched group's fresh buffer slice in rank
        // order (its refilled rows, or its kept rows trimmed to the
        // prefix capacity; none = the group is gone) replaces its rows
        val keyOrd: Ordering[Vector[Any]] = (a, b) => rankCmp(a, b)
        val rowOrd = keyOrd.on[(Vector[Any], Long)](_._1)
        val touchedG = allG.toSeq
        val slices: Seq[Seq[(Vector[Any], Long, Long)]] = touchedG.map { g =>
          if (refillG(g)) refillRows.getOrElse(g, Seq.empty).sortBy(_._1)(keyOrd)
          else kept.get(g).map(_.sorted(rowOrd).iterator.take(kdist.toInt)
            .map { case (key, n1) => (key, n1, ntot(g)) }.toSeq)
            .getOrElse(Seq.empty)
        }
        // RESIDENT home: the served view is the literal top-k expansion of
        // the new buffer (untouched groups' rows plus the fresh slices),
        // duplicated per multiplicity — bounded (sum over groups of
        // min(k, tot)), or a high-k many-group view would materialize the
        // whole expansion as driver rows where the distributed expand()
        // runs as a lazy executor-side explode. The CARRIER home serves
        // the lazy expansion of base ANTI overlay-groups UNION overlay
        // rows (a query pays one window pass; the round itself runs no
        // buffer-sized work).
        val servedLit: Option[DataFrame] = home match {
          case Home.Resident(rows) =>
            val untouched = rows.iterator.map(r => (keyOf(r), r))
              .filterNot { case (key, _) => allG(gkeyOf(key)) }
              .map { case (key, r) => (key, r.getLong(nc), r.getLong(nc + 1)) }
              .toSeq.groupBy(t3 => gkeyOf(t3._1)).valuesIterator
              .map(_.sortBy(_._1)(keyOrd))
            val servedRows = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
            (untouched ++ slices.iterator).foreach { group =>
              var start = 0L
              group.foreach { case (key, n1, _) =>
                if (start < k) {
                  var j = math.min(n1, k - start)
                  if (servedRows.length + j > 262144L) return None // distributed
                  while (j > 0L) {
                    servedRows += org.apache.spark.sql.Row.fromSeq(key); j -= 1
                  }
                }
                start += n1
              }
            }
            Some(spark.createDataFrame(java.util.Arrays.asList(servedRows.toSeq: _*),
              StructType(named.schema.fields.map(_.copy(nullable = true)))))
          case _ => None
        }
        val outBuf = homeCommit(name, Part.Rank, home, buf0, groupNames,
          touchedG, slices.flatten.map { case (key, n1, t) =>
            org.apache.spark.sql.Row.fromSeq(key ++ Seq(n1, t)) })
        retireSuperseded(buf0)
        vs.support = Some((catalog.version, outBuf))
        rankDecrementCount += 1
        if (servedLit.isDefined) rankLocalRides += 1 else rankParquetRides += 1
        // NAME the exact view-level delta: only TOUCHED groups (a delta
        // binding or a refill) can change their served top-k prefix —
        // diff each group's old prefix expansion (from its old buffer
        // rows) against the new one (kept/refilled rows), at the
        // distinct-row level the stratum-diff consumer compares at.
        // Pure driver math over the touched slice.
        locally {
          val oldByG = mutable.HashMap
            .empty[Vector[Any], mutable.ArrayBuffer[(Vector[Any], Long)]]
          bufRows.foreach { r =>
            val key = keyOf(r)
            oldByG.getOrElseUpdate(gkeyOf(key), mutable.ArrayBuffer.empty) +=
              ((key, r.getLong(nc)))
          }
          def servedSet(rows: Seq[(Vector[Any], Long)]): Set[Vector[Any]] = {
            var start = 0L
            val b = Set.newBuilder[Vector[Any]]
            rows.sorted(rowOrd).foreach { case (key, n) =>
              if (start < k) b += key
              start += n
            }
            b.result()
          }
          val insB = Seq.newBuilder[org.apache.spark.sql.Row]
          val remB = Seq.newBuilder[org.apache.spark.sql.Row]
          touchedG.zip(slices).foreach { case (g, slice) =>
            val oldSet = servedSet(oldByG.getOrElse(g, mutable.ArrayBuffer.empty).toSeq)
            val newSet = servedSet(slice.map(t3 => (t3._1, t3._2)))
            (oldSet -- newSet).foreach(key =>
              remB += org.apache.spark.sql.Row.fromSeq(key))
            (newSet -- oldSet).foreach(key =>
              insB += org.apache.spark.sql.Row.fromSeq(key))
          }
          recordNamedDelta(name, v0, insB.result(), remB.result())
        }
        Some(servedLit.getOrElse(expand(outBuf)))
      }
      localRide() match {
        case Some(df) => return Some(df)
        case None => ()
      }

      def countsOf(l: Option[(DataFrame, Long)], cn: String): Option[DataFrame] =
        l.filter(_._2 != 0L).map { case (f, _) =>
          headRows(bindingsOf(f))
            .groupBy(cols.map(col): _*).agg(count(lit(1)).as(cn))
        }
      val remC = countsOf(remLit, "__rm")
      val insC = countsOf(insLit, "__in")
      val net: DataFrame = (remC, insC) match {
        case (Some(a), Some(b)) =>
          val cond = cols.map(n => a(n) <=> b(n)).reduce(_ && _)
          a.join(b, cond, "full_outer").select(
            cols.map(n => coalesce(a(n), b(n)).as(n)) ++ Seq(
              coalesce(a("__rm"), lit(0L)).as("__rm"),
              coalesce(b("__in"), lit(0L)).as("__in")): _*)
        case (Some(a), None) => a.withColumn("__in", lit(0L))
        case (None, Some(b)) =>
          b.withColumn("__rm", lit(0L))
            .select(cols.map(col) ++ Seq(col("__rm"), col("__in")): _*)
        case (None, None) =>
          restamp(); recordNamedDelta(name, v0, Nil, Nil)
          return Some(cached)
      }

      // a synthetic constant group key unifies the ungrouped head with
      // the grouped algebra (every per-group frame here is bounded by
      // the buffer + the delta, so the single group is not a skew risk)
      val gN: Seq[String] = if (groupIdx.nonEmpty) groupNames else Seq("__g")
      def withG(df: DataFrame): DataFrame =
        if (groupIdx.nonEmpty) df else df.withColumn("__g", lit(0L))
      val gCols = gN.map(col)
      val bufG = withG(buf0)
      val netG = withG(net)

      // per-group info: carried cum/tot, the net tot drift, and the
      // boundary (last buffer row in rank order — reverse-sort rn=1)
      val gBuf = bufG.groupBy(gCols: _*).agg(
        sum(col("__n")).as("__gcum"), max(col("__tot")).as("__gtot"))
      val gNet = netG.groupBy(gCols: _*).agg(
        sum(col("__in") - col("__rm")).as("__dtot"))
      val gAll = {
        val cond = gN.map(n => gBuf(n) <=> gNet(n)).reduce(_ && _)
        gBuf.join(gNet, cond, "full_outer").select(
          gN.map(n => coalesce(gBuf(n), gNet(n)).as(n)) ++ Seq(
            gBuf("__gcum").as("__gcum"), gBuf("__gtot").as("__gtot"),
            coalesce(gNet("__dtot"), lit(0L)).as("__dtot")): _*)
          .withColumn("__ntot",
            coalesce(col("__gtot"), lit(0L)) + col("__dtot"))
      }
      val revSort: Seq[Column] =
        (if (rank.desc) ordCol.asc else ordCol.desc) +:
          outIdx.map(i => col(cols(i)).desc)
      val bnd = bufG
        .withColumn("__rl", row_number().over(
          W.partitionBy(gCols: _*).orderBy(revSort: _*)))
        .where(col("__rl") === 1)
        .select(gCols ++ sortIdx.map(i => col(cols(i)).as(s"__b$i")): _*)
      val gInfo = {
        val cond = gN.map(n => gAll(n) <=> bnd(n)).reduce(_ && _)
        gAll.join(bnd, cond, "left_outer").select(
          gN.map(n => gAll(n).as(n)) ++ Seq(
            gAll("__gcum").as("__gcum"), gAll("__gtot").as("__gtot"),
            gAll("__ntot").as("__ntot")) ++
            sortIdx.map(i => bnd(s"__b$i").as(s"__b$i")): _*)
      }

      // row-level merge: carried buffer rows FULL OUTER the net deltas
      val rowCond = cols.map(n => bufG(n) <=> netG(n)).reduce(_ && _)
      val rowsAll = withG(bufG.join(netG, rowCond, "full_outer").select(
        cols.map(n => coalesce(bufG(n), netG(n)).as(n)) ++ Seq(
          bufG("__n").as("__n"),
          coalesce(netG("__rm"), lit(0L)).as("__rm"),
          coalesce(netG("__in"), lit(0L)).as("__in")): _*))
      val joined = {
        val cond = gN.map(n => rowsAll(n) <=> gInfo(n)).reduce(_ && _)
        rowsAll.join(gInfo, cond, "left_outer").select(
          (cols ++ (if (groupIdx.isEmpty) Seq("__g") else Nil))
            .map(n => rowsAll(n).as(n)) ++ Seq(
            rowsAll("__n").as("__n"), rowsAll("__rm").as("__rm"),
            rowsAll("__in").as("__in"),
            gInfo("__gcum").as("__gcum"), gInfo("__gtot").as("__gtot"),
            gInfo("__ntot").as("__ntot")) ++
            sortIdx.map(i => gInfo(s"__b$i").as(s"__b$i")): _*)
      }
      // belongs ⟺ the row sorts within the carried prefix: already in
      // the buffer, a brand-new group, an exhaustive group (the buffer
      // holds everything), or lexicographically ≤ the boundary row
      def lt(i: Int): Column = {
        val a = col(cols(i)); val b = col(s"__b$i")
        if (i == orderIdx && rank.desc) a > b else a < b
      }
      val lexLeq: Column = sortIdx.foldRight(lit(true): Column) { (i, rest) =>
        lt(i) || ((col(cols(i)) <=> col(s"__b$i")) && rest)
      }
      val isNewGroup = col("__gtot").isNull
      val exhaustive = col("__gtot").isNotNull && (col("__gcum") <=> col("__gtot"))
      val belongs = col("__n").isNotNull || isNewGroup || exhaustive || lexLeq
      val n1 = coalesce(col("__n"), lit(0L)) + col("__in") - col("__rm")
      val upd = joined
        .withColumn("__n1", n1)
        .withColumn("__belongs", belongs)
        .withColumn("__keep", belongs && n1 > 0L)
        // a belonging row driven negative means the removal bindings
        // exceeded the carried multiplicity — contract breach, bail
        .withColumn("__viol", violRow || (belongs && n1 < 0L))
      val updMat = Fixpoint.materialize(upd).df
      var committed = false
      try {
        val ntotOf = coalesce(col("__ntot"),
          col("__in") - col("__rm")) // gInfo row always joins; defensive
        val stats = updMat.groupBy(gCols: _*).agg(
          sum(when(col("__keep"), col("__n1")).otherwise(lit(0L))).as("__cum2"),
          max(ntotOf).as("__tot2"),
          max(when(col("__viol"), lit(1L)).otherwise(lit(0L))).as("__v"))
        val needs = stats.where(col("__v") === 1L ||
          (col("__cum2") < k && col("__cum2") < col("__tot2") &&
            col("__tot2") > 0L))
        val needRows = Fixpoint.collectUpTo(needs, 2050L).getOrElse(return None)
        if (needRows.exists(_.getLong(gN.length + 2) == 1L)) return None
        val refillKeys: Seq[Seq[Any]] =
          needRows.map(row => gN.indices.map(row.get)).toSeq
        // refill keys must be literal-representable (the same contract
        // as dirty-group's key predicate)
        if (refillKeys.exists(_.exists(v => !SparkValues.literalKey(v)))) return None

        val wOrd = W.partitionBy(gCols: _*).orderBy(sortCols: _*)
        val keptRows = updMat.where(col("__keep"))
          .withColumn("__rn2", row_number().over(wOrd))
          .where(col("__rn2") <= kdist)
          .select(cols.map(col) ++ Seq(col("__n1").as("__n"),
            col("__ntot").as("__tot")): _*)
        val finalBuf =
          if (refillKeys.isEmpty) keptRows
          else if (groupIdx.isEmpty) {
            // ungrouped refill = whole-view rebuild (there is only the
            // one group) — still delta-triggered, not per-round
            bufferFrom(headRows(bodyNow))
          } else {
            val keyPred: Column = refillKeys.map { kv =>
              gN.indices.map(j => col(gN(j)) <=> lit(kv(j))).reduce(_ && _)
            }.reduce(_ || _)
            // ONE key-filtered body pass serves every refill group; the
            // literal predicate pushes below the window into the scans
            val refill = bufferFrom(headRows(bodyNow).where(keyPred))
            keptRows.where(!keyPred).union(refill)
          }
        val outBuf = Fixpoint.materialize(
          finalBuf.select(cols.map(col) ++ Seq(col("__n"), col("__tot")): _*)).df
        // the superseded carried buffer backed the previously served
        // view — grace-window retirement, same as the agg support table
        retireSuperseded(buf0)
        vs.support = Some((catalog.version, outBuf))
        vs.local.remove(Part.Rank) // driver copy of the displaced buffer
        rankDecrementCount += 1
        committed = true
        Some(expand(outBuf))
      } finally {
        Fixpoint.checkpointRddOf(updMat).foreach(_.unpersist(false))
        if (!committed) () // carried buffer stays at v0; next round reseeds
      }
    }

    /** Incremental view maintenance (reference: DD keeps every
      * persistent rule's materialization up to date per update,
      * `src/incremental.rs`; its BENCHMARKS.md headline is
      * re-query-after-change ≪ recompute). Starts from the newest cached
      * materialization of `name` at some version v0 and the change log
      * since, and bails to full recomputation (`None`) when the log has
      * a gap, a change carries no delta (opaque replaces, schema
      * coercions), a derived relation was itself written, or a rule
      * change lands inside the view's rule closure (rule changes outside
      * it leave the view valid). A view whose closure the round does not
      * reach is re-stamped and served as is. Otherwise it handles:
      *  - inserts and deletes into base relations: delta rules bind one
      *    changed occurrence at a time; recursive views continue the
      *    semi-naive loop from the cached fixpoint, and deletes run DRed
      *    (driver-local when small) or the affected-source TC pass;
      *  - negation flips: an insert into a negated relation kills
      *    derivations and a removal creates them, for plain heads and,
      *    through dirty-group recomputation, for agg/rank heads;
      *  - derived dependencies, positive or negated, through stratum
      *    diffs: the lower view's named delta when its path recorded one,
      *    else a bounded old-vs-new diff of its materialization;
      *  - aggregate and rank heads through their carried state: per-group
      *    decrement on the support and pairs tables (a key-less head as
      *    one group), the rank prefix buffer, the within_radius carry, or
      *    dirty-group recomputation. */
    private def tryMaintain(name: String): Option[DataFrame] = {
      if (!byHead.contains(name)) return None
      val (v0, cached) = cacheLatest(name).getOrElse(return None)
      val allChanges = catalog.changesSince(v0)
      // contiguity: one log entry per bump, none trimmed away
      if (allChanges.map(_.version).toSet != (v0 + 1 to catalog.version).toSet) return None
      // rule-set changes name their head ("rule:<head>"): a view whose
      // rule closure never reaches that head keeps its materialization —
      // dependency invalidation, not displacement (the reference
      // invalidates only dependents, src/derived_relations.rs:30-37).
      // Views that DO reach it recompute below.
      val (ruleChanges, changes) = allChanges.partition(_.rel.startsWith("rule:"))
      // every fact change must carry a delta: inserts (delta) or
      // exact-tuple deletes (removed); opaque changes (conditional
      // deletes on unknown tuples, replaces, schema coercions) invalidate
      if (changes.exists(c => c.rel == "*" || (c.delta == null && c.removed == null)))
        return None
      val changedRels0 = changes.map(_.rel).toSet
      if (changedRels0.exists(byHead.contains)) return None // derived rel changed
      val deps = depsOf(name) + name
      // a rule change whose head lies inside this view's closure means
      // derivations appeared or vanished in ways the delta algebra
      // can't see — recompute; heads outside the closure are invisible
      if (ruleChanges.exists(rc => deps(rc.rel.stripPrefix("rule:")))) return None
      if ((deps & changedRels0).isEmpty) {
        // untouched: still valid. Re-stamp the carried maintenance state
        // alongside the view (cachePut moves it to the new version) —
        // stranded at v0 it would read stale on the next REAL round and
        // force a full-body reseed of the buffer/support tables. A
        // re-stamp is not a maintenance round: `maintainedCount` stays
        views.get(name).foreach(_.restamp(v0, catalog.version))
        return Some(cached)
      }
      val out = maintainReached(name, v0, cached, changes)
      if (out.isDefined) maintainedCount += 1
      out
    }

    /** Dependency closure of a relation through the rule graph. */
    private def depsOf(rel: String,
        seen: mutable.HashSet[String] = mutable.HashSet.empty): Set[String] = {
      if (!seen.add(rel)) return Set.empty
      val direct = byHead.getOrElse(rel, Seq.empty).flatMap(_.body.collect {
        case Pos(a) => a.rel
        case Neg(a) => a.rel
      })
      direct.toSet ++ direct.flatMap(d => depsOf(d, seen))
    }

    /** A [[tryMaintain]] round for a view the round's fact changes reach:
      * `changes` holds them, each with a delta, since the view's cached
      * version `v0`. */
    private def maintainReached(name: String, v0: Long, cached: DataFrame,
        changes: Seq[catalog.Change]): Option[DataFrame] = {
      // catalog-log view of the round; the downstream-visible
      // changedRels/hasRemovals (defined after the stratum-diff
      // injection below) may additionally carry positive DERIVED
      // dependencies whose own delta was obtained by diffing
      val hasRemovals0 = changes.exists(_.removed != null)
      val changedRels0 = changes.map(_.rel).toSet
      val scc = Stratifier.sccOf(rules).getOrElse(name, Set(name))
      // mutual recursion is maintained SCC-jointly, so every member's
      // cache must exist at the SAME version — mixed-version snapshots
      // are not a fixpoint of any one database state
      val sccCached: Map[String, DataFrame] =
        if (scc.size == 1) Map(name -> cached)
        else {
          val m = scc.iterator.map(r => r -> cacheLatest(r)).toMap
          if (m.values.exists(o => o.isEmpty || o.get._1 != v0)) return None
          m.map { case (r, o) => r -> o.get._2 }
        }
      val sccRules = if (scc.size == 1) byHead(name)
                     else rules.filter(r => scc(r.head.rel))
      val rankHead = sccRules.exists(_.head.args.exists(_.isInstanceOf[Rank]))
      val aggHead = sccRules.exists(_.head.args.exists(_.isInstanceOf[Agg]))
      // changed rels must be referenced DIRECTLY (not via a derived
      // lower stratum whose delta we don't have)
      val bodyRels = sccRules.flatMap(_.body.collect { case Pos(a) => a.rel })
      val negRels = sccRules.flatMap(_.body.collect { case Neg(a) => a.rel })
      // NEGATION-DEPENDENT changes flip sign: an insert into a negated
      // relation KILLS derivations (DRed delete phase, the negated
      // occurrence flipped positive and bound to the insert delta) and a
      // removal CREATES them (flip-bound seeds in the insert
      // continuation) — maintained below when every such relation
      // appears ONLY under Neg in this SCC's rules, the view is a plain
      // Var/Const-head DRed shape, and the relation is either a
      // directly-changed BASE relation or (round 12) a DERIVED relation
      // whose own delta we can obtain by diffing its cached old
      // materialization against its new state (the reference routes
      // these through its stratified DD arrangements,
      // `src/incremental.rs:77-80`). Outside that (agg/rank heads, a rel
      // changed on both sides of the sign, a derived negated dep with no
      // usable old snapshot) → recompute, as before.
      val negChanged = negRels.toSet
        .filter(n => ((depsOf(n) + n) & changedRels0).nonEmpty)
      val negDerived = negChanged.filter(byHead.contains)
      if (negChanged.nonEmpty) {
        val handleable = !rankHead && !aggHead &&
          sccRules.forall(_.head.args.forall(a =>
            a.isInstanceOf[Var] || a.isInstanceOf[Const])) &&
          scc.forall(m => baseOf(m).isEmpty) &&
          negChanged.forall(n => !bodyRels.contains(n) &&
            (if (byHead.contains(n))
               !scc(n) && cacheLatest(n).exists(_._1 == v0)
             else changedRels0(n)))
        // agg/rank heads: negation-driven binding changes maintain via
        // DIRTY-GROUP recompute instead — the dirty keys come from the
        // negated occurrence flipped positive and bound to the change
        // (round 12). Scope: single non-recursive rule, each changed
        // negated rel never appearing positively and either a
        // directly-changed BASE relation or a DERIVED one with a v0
        // snapshot (its delta injects through the same diff machinery
        // the plain-head path uses below).
        val groupedHandleable = (rankHead || aggHead) &&
          sccRules.size == 1 && scc.size == 1 && !bodyRels.contains(name) &&
          baseOf(name).isEmpty && // EDB facts in the head: dirty rows would drop them
          negChanged.forall(n => !bodyRels.contains(n) &&
            (if (byHead.contains(n))
               !scc(n) && cacheLatest(n).exists(_._1 == v0)
             else changedRels0(n)))
        if (!handleable && !groupedHandleable) return None
      }
      // POSITIVE derived dependencies (round 12): a change reaching the
      // body through a positive derived rel used to invalidate the view;
      // it now maintains by the SAME stratum-diff injection as negated
      // derived deps — the rel's old (v0) materialization diffs against
      // its new state (itself maintained recursively by resolve), and
      // the diff rides every downstream path as if the rel were a
      // changed base relation (the reference's stacked DD arrangements,
      // `src/incremental.rs:77-80`, re-expressed as stratum diffs). A
      // missing or stale v0 snapshot → recompute, as before.
      val posDerived: Set[String] = bodyRels.iterator.filter(b =>
        !scc(b) && !changedRels0(b) && byHead.contains(b) &&
        (depsOf(b) & changedRels0).nonEmpty).toSet
      if (posDerived.exists(b => !cacheLatest(b).exists(_._1 == v0)))
        return None
      if (sccRules.exists(_.body.exists { case Pos(a) =>
        a.rel == "hnsw_nearest"; case _ => false })) return None

      val arity = cached.columns.length
      val cols = (0 until arity).map(i => s"c$i")
      def colsOf(rel: String): Seq[String] =
        (0 until sccCached(rel).columns.length).map(i => s"c$i")
      // Insert deltas / removed tuples per relation, NETTED in version
      // order (rels with only removals are absent from deltaOf). Unioning
      // the raw per-version frames is wrong for a batch that inserts then
      // deletes the same tuple: the insert continuation would resurrect
      // rows a later change removed, and mid/old-state reconstruction
      // would describe database states that never existed. Fold the log:
      //  - a removal cancels same-batch inserts of the same tuple
      //    EXACTLY (an insert delta is disjoint from the state right
      //    before it — `Catalog.insert` anti-joins — so insert-then-
      //    delete is a no-op pair);
      //  - a removal of a tuple NOT inserted earlier in the batch is
      //    kept even when a later change re-inserts it. Removals may
      //    over-approximate anyway (`Catalog.delete` logs the requested
      //    tuples, present or not), and consumers tolerate rem/ins
      //    over-approximation in PAIRS: DRed over-deletes then
      //    re-derives at the new state, and the insert phase's extra
      //    derivations dedup into the view.
      // All plan-only (lazy) — a batch without mixing folds to the same
      // union-distinct as before, no extra jobs.
      // removedExactOf mirrors removedOf's fold over the EXACT removal
      // frames (`Change.removedExact`, falling back to `removed` when
      // the change is exact by construction) — consumed only by the
      // subtractable-aggregate decrement, which pays each change's
      // presence semi-join once per round instead of phantom-corrupting
      // the view; every over-delete-tolerant consumer stays on the free
      // raw literals.
      val (deltaOf0, removedOf0, removedExactOf0): (Map[String, DataFrame],
          Map[String, DataFrame], Map[String, DataFrame]) = {
        val ins = mutable.HashMap.empty[String, DataFrame]
        val rem = mutable.HashMap.empty[String, DataFrame]
        val remX = mutable.HashMap.empty[String, DataFrame]
        changes.sortBy(_.version).foreach { c =>
          if (c.removed != null) { // removals first: updates are -old,+new
            // literal-logged removals (removedLiteralRows >= 0: literal
            // and small-conditional deletes) are deduped at log time —
            // re-distincting a LocalRelation here costs a shuffle per
            // consumer evaluation for nothing
            def dedup(df: DataFrame): DataFrame =
              if (c.removedLiteralRows >= 0) df else df.distinct()
            val m = dedup(c.removed)
            val mx = dedup(if (c.removedExact != null) c.removedExact else c.removed)
            def netIn(acc: mutable.HashMap[String, DataFrame], v: DataFrame): Unit = {
              val fresh = ins.get(c.rel) match {
                case Some(i) => Fixpoint.antiNullSafe(v, i)
                case None => v
              }
              acc(c.rel) = acc.get(c.rel) match {
                case Some(r0) => r0.union(fresh.toDF(r0.columns.toSeq: _*)).distinct()
                case None => fresh
              }
            }
            netIn(rem, m)
            netIn(remX, mx)
            ins.get(c.rel).foreach(i => ins(c.rel) = Fixpoint.antiNullSafe(i, m))
          }
          if (c.delta != null) {
            val d = c.delta.distinct()
            ins(c.rel) = ins.get(c.rel) match {
              case Some(i) => i.union(d.toDF(i.columns.toSeq: _*)).distinct()
              case None => d
            }
          }
        }
        (ins.toMap, rem.toMap, remX.toMap)
      }
      // DERIVED negated dependencies (round 12): the flip machinery
      // needs the negated relation's OWN delta, which no change-log
      // entry carries — diff its cached old materialization (v0,
      // guaranteed by the handleable gate) against its new state
      // (resolved recursively, itself maintained when possible).
      // newN ∖ oldN are its inserts (kills downstream), oldN ∖ newN its
      // removals (creates downstream) — exact by construction, no
      // phantoms, so they inject into all three maps and the flip
      // routing below treats the derived rel like a changed base rel.
      // Bounded: diffs collect up to a cap (a bigger diff means the
      // delete cone is view-sized and recompute is the better plan).
      val derivedDiff = negDerived ++ posDerived
      val (deltaOf, removedOf, removedExactOf): (Map[String, DataFrame],
          Map[String, DataFrame], Map[String, DataFrame]) =
        if (derivedDiff.isEmpty) (deltaOf0, removedOf0, removedExactOf0)
        else {
          val ins = mutable.HashMap.empty[String, DataFrame]
          val rem = mutable.HashMap.empty[String, DataFrame]
          // snapshot EVERY old materialization before resolving ANY new
          // state: resolve(n2) can transitively maintain-and-cachePut n1,
          // displacing its v0 entry — a later cacheLatest(n1) would then
          // diff new-vs-new and inject an empty (wrong) delta. Displaced
          // frames stay readable through the Graveyard grace window.
          val oldOf: Map[String, DataFrame] =
            derivedDiff.iterator.map(n => n -> cacheLatest(n).get._2).toMap
          derivedDiff.foreach { n =>
            val oldN = oldOf(n)
            // flag the resolve so paths where naming costs extra bounded
            // jobs (dirty-group) surface their delta too; try/finally —
            // a thrown resolve must not leave the demand flag behind
            val newN = {
              namedDeltaWanted += n
              try resolve(n, oldN.columns.length)
              finally namedDeltaWanted -= n
            }
            def litFrame(rows: Array[org.apache.spark.sql.Row]): DataFrame =
              catalog.spark.createDataFrame(
                catalog.spark.sparkContext.parallelize(rows.toSeq,
                  Fixpoint.parallelizeParts(rows.length.toLong)),
                org.apache.spark.sql.types.StructType(
                  oldN.schema.fields.map(_.copy(nullable = true))))
            views.get(n).flatMap(_.namedDelta) match {
              case Some((f, t, insRows, remRows))
                  if f == v0 && t == catalog.version =>
                // the lower stratum's maintenance path NAMED its exact
                // view-level delta for this v0→current transition —
                // inject those rows directly, O(delta), instead of
                // re-deriving the delta with two view-sized anti-joins
                // (the reference's stacked DD arrangements propagate the
                // lower delta the same way, src/incremental.rs:77-80)
                namedDeltaInjects += 1
                if (insRows.nonEmpty) ins(n) = litFrame(insRows.toArray)
                if (remRows.nonEmpty) rem(n) = litFrame(remRows.toArray)
              case _ =>
                // fallback: materialization diff. A diff past the collect
                // cap means the delete cone is plausibly view-sized —
                // ABORT the round (the caller recomputes). Overflow must
                // NOT be conflated with an empty diff: a >cap insert-side
                // diff whose kills are silently dropped is under-deletion
                // (a stale view served as fresh).
                Seq(Fixpoint.antiNullSafe(newN, oldN) -> ins,
                    Fixpoint.antiNullSafe(oldN, newN) -> rem).foreach {
                  case (diff, sink) =>
                    Fixpoint.collectUpTo(diff, 4096L) match {
                      case None => return None // overflow → recompute
                      case Some(rs) if rs.isEmpty => ()
                      case Some(rs) => sink(n) = litFrame(rs)
                    }
                }
            }
          }
          (deltaOf0 ++ ins, removedOf0 ++ rem, removedExactOf0 ++ rem)
        }
      // downstream, an injected POSITIVE derived dep behaves exactly
      // like a changed base relation: its diff frames are exact (no
      // phantoms), so delta binding, decrement paths, and DRed old-state
      // reconstruction (cur ∖ delta ∪ removed) all hold. Rels whose
      // diff came up empty were not actually changed by this round.
      // Negated derived deps stay OUT of changedRels by design — the
      // flip routing below addresses them through negKills/negCreates.
      val posInjected = posDerived.filter(b =>
        deltaOf.contains(b) || removedOf.contains(b))
      val changedRels = changedRels0 ++ posInjected
      val hasRemovals = hasRemovals0 || posInjected.exists(removedOf.contains)
      val isRecursive = scc.size > 1 || sccRules.exists(_.body.exists {
        case Pos(a) => a.rel == name
        case _ => false
      })
      // sign-flipped change drivers for negated-only relations: inserts
      // kill (DRed phase), removals create (insert-phase seeds)
      val negKills = negChanged.filter(deltaOf.contains)
      val negCreates = negChanged.filter(removedOf.contains)

      /** Derivations with occurrence `dIdx` of `r`'s body bound to the
        * delta of its relation; SCC-member occurrences bound to
        * `recFrames(member)` (absent → normal resolve). */
      def deltaDerive(r: Rule, dIdx: Int,
                      recFrames: String => Option[DataFrame]): DataFrame = {
        val targetRel = r.body(dIdx) match { case Pos(a) => a.rel; case _ => "" }
        val deltaResolver = RuleCompiler.bindOccurrence(r, dIdx, deltaOf(targetRel),
          (nm, ar) => recFrames(nm).getOrElse(resolve(nm, ar)))
        deriveRule(r, deltaResolver).toDF(colsOf(r.head.rel): _*)
      }
      /** CREATE-side seeds for removals from negated-only relations:
        * each negated occurrence of such a rel, flipped positive, binds
        * to the tuples removed AND still absent (a delete-then-reinsert
        * within the batch must not create), with the rest of the body at
        * the NEW state — the sign-flipped twin of [[deltaDerive]]. */
      def negSeedsFor(rel: String,
                      recFrames: String => Option[DataFrame]): Seq[DataFrame] =
        if (negCreates.isEmpty) Seq.empty
        else byHead.getOrElse(rel, Seq.empty).flatMap { r =>
          r.body.zipWithIndex.collect {
            case (Neg(a), i) if negCreates(a.rel) =>
              val flipped = r.copy(body = r.body.updated(i, Pos(a)))
              val bound = Fixpoint.antiNullSafe(removedOf(a.rel),
                resolve(a.rel, removedOf(a.rel).columns.length))
              val resolver = RuleCompiler.bindOccurrence(flipped, i, bound,
                (nm, ar) => recFrames(nm).getOrElse(resolve(nm, ar)))
              deriveRule(flipped, resolver).toDF(colsOf(r.head.rel): _*)
          }
        }
      def insertPhase(viewsNow: Map[String, DataFrame]): Option[DataFrame] =
        insertPhaseOf(name, scc, sccRules, deltaOf, deltaDerive,
          isRecursive, viewsNow, negSeedsFor,
          // the continuation's frontier deltas name the exact view delta
          // only when the round starts from the v0 snapshot itself
          // (mixed batches pass the DRed mid views instead)
          exactFromV0 = if (viewsNow.get(name).exists(_ eq cached)) Some(v0)
                        else None)

      /** DIRTY-GROUP maintenance — the general grouped-head fallback
        * (avg / count_distinct, ranked views under deletes, removals,
        * several changed occurrences): every binding that appeared or
        * vanished involves a changed tuple at some body occurrence, so
        * only the group keys those bindings touch can change. Compute
        * that key set from the deltas (siblings bound at an
        * over-approximated old ∪ new state — a superset of dirty keys is
        * merely extra recompute), re-derive the rule for JUST those
        * groups (the literal key filter pushes below the aggregation /
        * rank window into the body scans), and keep every other cached
        * row verbatim. The reference maintains per-group state in its DD
        * arrangements (`src/derived_relations.rs:1-60`); Spark holds no
        * such state, so exact per-dirty-group recomputation is the
        * idiomatic equivalent. `keyIdx` = output positions of the group
        * keys (non-aggregate / non-rank head terms). */
      def dirtyGroupMaintain(r: Rule, keyIdx: Seq[Int]): Option[DataFrame] = {
        if (keyIdx.isEmpty) return None // global head: every row is "dirty"
        // occurrences the change reaches: positives bound directly, and
        // (round 12) NEGATED occurrences of changed base rels — flipped
        // positive and bound to the change, a binding killed by an
        // insert into (or created by a removal from) the negated rel
        // surfaces its group key exactly like a positive-side change
        val occs = r.body.zipWithIndex.collect {
          case (Pos(a), i) if deltaOf.contains(a.rel) || removedOf.contains(a.rel) =>
            (a, i, false)
          case (Neg(a), i) if deltaOf.contains(a.rel) || removedOf.contains(a.rel) =>
            (a, i, true)
        }
        if (occs.isEmpty) { // body never sees the change
          recordNamedDelta(name, v0, Nil, Nil)
          return Some(cached)
        }
        val negChangedHere: Set[String] =
          occs.collect { case (a, _, true) => a.rel }.toSet
        // sibling-state frames. Positive siblings: old ∪ new (a vanished
        // binding through TWO removed tuples still surfaces its key when
        // either occurrence is bound to its removal and the sibling
        // covers the old state). CHANGED NEGATED siblings anti-join, so
        // they must resolve to old ∩ new = current ∖ delta (a union
        // there would SHRINK the key superset — a binding killed by two
        // simultaneous negated-side inserts has to surface through each
        // flip while the other negation still passes it).
        val oldNew: RuleCompiler.Resolver = (nm, ar) => {
          val cur = resolve(nm, ar)
          if (negChangedHere(nm)) deltaOf.get(nm) match {
            case Some(d) => Fixpoint.antiNullSafe(cur, d.toDF(cur.columns.toSeq: _*))
            case None => cur
          } else removedOf.get(nm) match {
            case Some(rm) => cur.union(rm.toDF(cur.columns.toSeq: _*)).distinct()
            case None => cur
          }
        }
        val keyCols = keyIdx.map(i => col(cols(i)))
        val keyFrames = occs.flatMap { case (a, i, neg) =>
          val rBound = if (neg) r.copy(body = r.body.updated(i, Pos(a))) else r
          (deltaOf.get(a.rel).toSeq ++ removedOf.get(a.rel).toSeq).map { changeDf =>
            val resolver = RuleCompiler.bindOccurrence(rBound, i, changeDf, oldNew)
            deriveRule(rBound, resolver).toDF(cols: _*).select(keyCols: _*)
          }
        }
        val dirty = Fixpoint.collectUpTo(
          keyFrames.reduce(_ union _).distinct(), 64L).getOrElse(return None)
        if (dirty.isEmpty) {
          recordNamedDelta(name, v0, Nil, Nil)
          return Some(cached)
        }
        // null/NaN/non-primitive keys: a literal <=> predicate can't
        // reproduce the grouping semantics — recompute
        if (dirty.exists(_.toSeq.exists(v => !SparkValues.literalKey(v)))) return None
        def dirtyPred: Column = dirty.map { row =>
          keyIdx.indices.map { j =>
            col(cols(keyIdx(j))) <=> lit(row.get(j))
          }.reduce(_ && _)
        }.reduce(_ || _)
        val clean = cached.toDF(cols: _*).where(!dirtyPred)
        val dirtyNew = deriveRule(r).toDF(cols: _*).where(dirtyPred)
        dirtyGroupMaintains += 1
        // materialize: the clean side filters the PREVIOUS cached frame —
        // left lazy, repeated maintenance rounds would nest filters
        // without bound
        val out = Fixpoint.materialize(clean.union(dirtyNew)).df
        // rows can only change inside the dirty groups
        recordDirtySliceDelta(name, v0, cached.toDF(cols: _*), out, _.where(dirtyPred))
        Some(out)
      }

      // 2-competitive seed-deferral signal, shared by the rank-buffer
      // and aggregate-support paths: a round driven solely by tiny
      // LITERAL deletes (catalog-log removals only — an injected
      // derived-rel removal binds a body over a cached view frame,
      // where seeding is cheap) over big/unknown-size bases doesn't
      // amortize a first-round seed pass
      lazy val tinyLiteralRound = hasRemovals0 && changes.forall(c =>
        c.removed == null ||
          (c.removedLiteralRows >= 0 && c.removedLiteralRows <= 64)) &&
        changes.iterator.filter(_.removed != null).map(_.rel).toSet
          .forall(rel => !catalog.sizeSignal(rel).exists(_ <= 20000))

      if (rankHead) {
        // RANKING-view maintenance: under pure inserts a top-k window
        // only ADMITS rows — an evicted row can never re-enter — so the
        // exact new result is the rank re-applied over cached ∪ (rank
        // over the delta bindings alone): every true top-k row is the
        // k-best of one of the two sides. within_radius is a plain
        // filter: the union is exact for inserts and deletes subtract
        // the vanished bindings bag-exactly ([[exceptAll]]). top_k
        // DELETES ride the carried prefix buffer
        // ([[maintainRankBuffered]]); multiple changed occurrences
        // (delta×delta double-counting — rank heads keep duplicates, no
        // distinct to fold them) and bail shapes go through per-group
        // dirty recomputation; recursion recomputes.
        if (isRecursive || sccRules.size != 1 || changedRels(name))
          return None
        // EDB facts unioned into the head: the buffer/delta algebra
        // re-derives from the rule body alone and would drop them
        if (baseOf(name).isDefined) return None
        val r = sccRules.head
        val rank = r.head.args.collectFirst { case rk: Rank => rk }.get
        val changedOccs = r.body.zipWithIndex.collect {
          case (Pos(a), i) if changedRels(a.rel) => i
        }
        if (changedOccs.isEmpty && negChanged.isEmpty) return Some(cached)
        // output positions: head args expand Rank to outs ++ order
        var idx = 0
        var orderIdx = -1
        val groupIdxB = Seq.newBuilder[Int]
        val outIdxB = Seq.newBuilder[Int]
        r.head.args.foreach {
          case rk: Rank =>
            rk.outs.foreach { _ => outIdxB += idx; idx += 1 }
            orderIdx = idx; idx += 1
          case _ => groupIdxB += idx; idx += 1
        }
        val groupIdx = groupIdxB.result()
        val outIdx = outIdxB.result()
        // negation-driven binding changes: the carried buffer can't see
        // them (it binds the positive occurrence) — dirty-group keys
        // from the flipped negated occurrence instead
        if (negChanged.nonEmpty) return dirtyGroupMaintain(r, groupIdx)
        val changedRel = r.body(changedOccs.head) match {
          case Pos(a) => a.rel; case _ => ""
        }
        val relRemoved = removedExactOf.get(changedRel)
        val relDelta = deltaOf.get(changedRel)
        val vs = state(name)
        val bufferLive = vs.support.exists(_._1 == v0)
        // INSERT-ONLY rounds on a view already riding the carry keep
        // riding it (an empty rem side appends to the ins bag): the
        // merged-union path below would materialize a NEW cached frame,
        // breaking the carry's served identity, and the next delete
        // round would re-write the ENTIRE view to a fresh base — on
        // alternating insert/delete workloads the carry degenerated to
        // one view-sized write per delete round.
        val radiusCarried = rank.func == "within_radius" &&
          vs.carriers.get(Part.Radius).exists(_.served eq cached)
        if (changedOccs.size == 1 && rank.func == "within_radius" &&
            (relRemoved.nonEmpty || radiusCarried)) {
          val remRanked = relRemoved match {
            case Some(rem) => deriveRule(r,
              RuleCompiler.bindOccurrence(r, changedOccs.head, rem,
                (nm, ar) => resolve(nm, ar))).toDF(cols: _*)
            case None => cached.toDF(cols: _*).limit(0)
          }
          val insRanked = relDelta match {
            case Some(_) => deltaDerive(r, changedOccs.head,
              m => if (m == name) Some(cached) else None).toDF(cols: _*)
            case None => cached.toDF(cols: _*).limit(0)
          }
          if (relRemoved.nonEmpty) rankDecrementCount += 1
          // BIG views ride the parquet-base + driver-bag carry (see
          // [[radiusCarryRound]]): the round is two delta-bound collects
          // and pure driver bag math — never a view-sized
          // shuffle/checkpoint
          radiusCarryRound(name, cached, cols, remRanked, insRanked)
            .foreach(df => return Some(df))
          if (relRemoved.nonEmpty)
            return Some(Fixpoint.materialize(
              cached.toDF(cols: _*).exceptAll(remRanked).union(insRanked)).df)
          // carry fell away mid-round (over-cap delta / IO): fall
          // through to the insert-only merged path below
        }
        if (changedOccs.size == 1 && rank.func != "within_radius" &&
            (relRemoved.nonEmpty || bufferLive)) {
          maintainRankBuffered(name, r, rank, cols, groupIdx, outIdx,
            orderIdx, changedOccs.head, changedRel, deltaOf, removedExactOf,
            cached, v0, tinyLiteralRound = tinyLiteralRound) match {
            case Some(df) => return Some(df)
            case None => ()
          }
        }
        if (relRemoved.nonEmpty || changedOccs.size > 1)
          return dirtyGroupMaintain(r, groupIdx)
        val deltaRanked = deltaDerive(r, changedOccs.head,
          m => if (m == name) Some(cached) else None)
        val merged = cached.union(deltaRanked)
        val ord0 = col(cols(orderIdx))
        val ord = if (rank.desc) ord0.desc else ord0.asc
        val tiebreak = outIdx.map(i => col(cols(i)).asc)
        val groups = groupIdx.map(i => col(cols(i)))
        val reRanked = rank.func match {
          case "top_k" | "top_k_threshold" =>
            // both sides already satisfy any threshold — only the k-bound
            // needs re-establishing over the merged candidates
            topKRows(merged, groups, ord +: tiebreak, rank.params(0).toLong)
          case _ => merged // within_radius: filter semantics, union is exact
        }
        return Some(Fixpoint.materialize(reRanked).df)
      }

      if (aggHead) {
        // RECURSIVE min/max views (shortest-path style): inserts are
        // monotone in the min/max semiring — every cached label is still
        // achievable after adding facts and bounded by the new optimum,
        // so value iteration converges continuing from cached merged
        // with the delta-seeded improvements. Deletes can strictly
        // worsen labels → recompute.
        if (isRecursive) {
          if (scc.size > 1 || changedRels(name)) return None
          val specs = sccRules.map { r =>
            val idxs = r.head.args.zipWithIndex.collect { case (Agg(f, _), i) => (f, i) }
            if (idxs.size != 1) return None
            idxs.head
          }
          if (specs.distinct.size != 1) return None
          val (func, aggIdx) = specs.head
          if (func != "min" && func != "max") return None
          val stripped = sccRules.map(r => r.copy(head = r.head.copy(args = r.head.args.map {
            case Agg(_, t) => t
            case t => t
          })))
          val recRules2 = stripped.filter(_.body.exists {
            case Pos(a) => a.rel == name
            case _ => false
          })
          val keys2 = cols.indices.filterNot(_ == aggIdx).map(cols)
          def reduce2(df: DataFrame): DataFrame = {
            val f = if (func == "min") min(col(cols(aggIdx))) else max(col(cols(aggIdx)))
            val g = if (keys2.isEmpty) df.groupBy() else df.groupBy(keys2.map(col): _*)
            g.agg(f.as(cols(aggIdx))).select(cols.map(col): _*)
          }

          // DELETE (and mixed) maintenance — decremental shortest/
          // longest path, Ramalingam/Reps-style affected-region restart:
          // labels whose tight derivation may run through a removed
          // tuple are SUSPECTS; the rest provably keep their exact
          // value, and value iteration restarted from kept ∪ re-derived
          // base labels over the NEW state converges to the new
          // fixpoint exploring only the affected region. Inserts ride
          // along for free: the restart relaxes over the post-batch
          // state, and kept labels are achievable there (an upper
          // bound), which with strictly positive steps pins the unique
          // fixpoint. Soundness of "kept" needs tight-derivation chains
          // to be acyclic, which holds when every recursive step
          // STRICTLY moves the label away from the base (`label + step`
          // with step > 0). Gated shapes bail to recompute.
          if (hasRemovals) {
            val baseRules2 = stripped.filterNot(recRules2.contains)
            // base-rule support through a removed tuple would need its
            // own seed pass — rare (base = source facts), recompute
            // instead. Insert-only changes are fine: the restart
            // re-derives base labels over the new state.
            if (baseRules2.exists(_.body.exists {
              case Pos(a) => removedOf.contains(a.rel)
              case Neg(a) => changedRels(a.rel)
              case _ => false
            })) return None
            def toDbl(v: Any): Option[Double] = v match {
              case i: Int => Some(i.toDouble)
              case l: Long => Some(l.toDouble)
              case f: Float => Some(f.toDouble)
              case d: Double => Some(d)
              case _ => None
            }
            // strict-progress gate per recursive rule: 2-atom body,
            // agg term = labelVar + step, step a positive const or an
            // other-atom column whose MINIMUM over the new state is > 0
            // (one small aggregate — cheap next to a full recompute)
            recRules2.foreach { r =>
              val poss = r.body.collect { case Pos(a) => a }
              if (r.body.length != poss.length || poss.length != 2) return None
              val (recA, othA) =
                if (poss(0).rel == name && poss(1).rel != name) (poss(0), poss(1))
                else if (poss(1).rel == name && poss(0).rel != name) (poss(1), poss(0))
                else return None
              val dVar = recA.args(aggIdx) match {
                case v: Var => v
                case _ => return None
              }
              val step = r.head.args(aggIdx) match {
                case Arith("+", Var(d), s) if d == dVar.name => s
                case Arith("+", s, Var(d)) if d == dVar.name => s
                case _ => return None
              }
              val stepPositive = step match {
                case Const(c) => toDbl(c).exists(_ > 0)
                case Var(w) =>
                  othA.args.indexWhere {
                    case Var(n) => n == w
                    case _ => false
                  } match {
                    case -1 => false
                    case j =>
                      val e = resolve(othA.rel, othA.args.length)
                      val mn = e.agg(min(col(e.columns(j)))).head.get(0)
                      mn != null && toDbl(mn).exists(_ > 0)
                  }
                case _ => false
              }
              if (!stepPositive) return None
            }
            // Driver-local cascade: when the cached view, every rule's
            // other-side relation, the removed tuples, and the base
            // labels all fit on the driver, the suspect cascade AND the
            // restarted value iteration run in one in-process pass —
            // the distributed cascade below pays several Spark jobs per
            // iteration for the same answer (the reference serves these
            // deletes in milliseconds).
            def localDecremental(): Option[DataFrame] = {
              val shapes = aggShapes(name, recRules2, aggIdx).getOrElse(return None)
              val arity = cols.length
              val keyIdxs = (0 until arity).filterNot(_ == aggIdx)
              def collectNorm(df: DataFrame): Option[Array[Seq[Any]]] =
                Fixpoint.collectUpTo(df, Fixpoint.LocalEdgeRows)
                  .map(_.map(_.toSeq.map(aggNorm)))
              val cachedRows = collectNorm(cached.toDF(cols: _*)).getOrElse(return None)
              // only literal labels keep in-memory structural equality
              // equal to the distributed tight-join's <=> — let it run
              if (cachedRows.exists(_.exists(v => !SparkValues.literalKey(v)))) return None
              val othRows: Seq[Array[Seq[Any]]] = shapes.map { case (_, _, oth) =>
                collectNorm(resolve(oth.rel, oth.args.length)).getOrElse(return None)
              }
              val removedRows: Map[String, Array[Seq[Any]]] = removedOf.map {
                case (rl, df) => rl -> collectNorm(df).getOrElse(return None)
              }
              val cachedSet = cachedRows.to(mutable.HashSet)
              // suspect seeds: tight support THROUGH a removed tuple
              val suspects = mutable.HashSet.empty[Seq[Any]]
              shapes.foreach { case sh @ (_, _, othA) =>
                removedRows.get(othA.rel).foreach { rm =>
                  aggDerive(sh, rm, cachedRows, aggIdx).foreach { t =>
                    if (cachedSet.contains(t)) suspects += t
                  }
                }
              }
              // no tight support lost and nothing inserted → unchanged;
              // with inserts the restart below still has to relax them in
              if (suspects.isEmpty && deltaOf.isEmpty) return Some(cached)
              // cascade: tight support FROM a suspect over current tuples
              var frontier: Iterable[Seq[Any]] = suspects.toSeq
              while (frontier.nonEmpty) {
                graft.QueryGuard.checkCancelled()
                val next = mutable.HashSet.empty[Seq[Any]]
                shapes.zip(othRows).foreach { case (sh, rows) =>
                  aggDerive(sh, rows, frontier, aggIdx).foreach { t =>
                    if (cachedSet.contains(t) && !suspects.contains(t)) {
                      suspects += t; next += t
                    }
                  }
                }
                frontier = next
              }
              // kept labels are provably exact; restart value iteration
              // from kept ∪ re-derived base labels
              val baseParts = baseRules2.map(deriveRule(_).toDF(cols: _*)) ++
                baseOf(name).map(_.toDF(cols: _*)).toSeq
              val baseRows = baseParts.flatMap(df => collectNorm(df).getOrElse(return None))
              val betterV = aggBetter(func)
              val dist = mutable.HashMap.empty[Seq[Any], Any]
              val startFrontier = mutable.HashSet.empty[Seq[Any]]
              (cachedRows.iterator.filterNot(suspects.contains) ++ baseRows.iterator)
                .foreach { t =>
                  val k = keyIdxs.map(t)
                  val v = t(aggIdx)
                  if (v == null || k.contains(null)) ()
                  else if (!v.isInstanceOf[Long] && !v.isInstanceOf[Double]) return None
                  else if (!dist.contains(k) || betterV(v, dist(k))) {
                    dist(k) = v; startFrontier += k
                  }
                }
              if (!aggRelax(shapes, othRows, aggIdx, arity, betterV, dist, startFrontier))
                return None
              Some(aggResultDf(dist, cached.toDF(cols: _*).schema, aggIdx))
            }
            localDecremental() match {
              case Some(df) => return Some(df)
              case None => ()
            }
            // cached rows structurally equal to a derived candidate =
            // labels with that tight support
            def tight(derived: DataFrame): DataFrame =
              cached.alias("__c").join(derived.alias("__d"),
                cols.map(c => col(s"__c.$c") <=> col(s"__d.$c")).reduce(_ && _),
                "left_semi")
            // seeds: tight support THROUGH a removed tuple (sp at cached)
            val seedParts = recRules2.flatMap { r =>
              r.body.collect { case Pos(a) if removedOf.contains(a.rel) => a.rel }
                .map { rmRel =>
                  val resolver: RuleCompiler.Resolver = (nm, ar) =>
                    if (nm == name) cached
                    else if (nm == rmRel) removedOf(nm)
                    else resolve(nm, ar)
                  deriveRule(r, resolver).toDF(cols: _*)
                }
            }
            if (seedParts.isEmpty && deltaOf.isEmpty)
              return Some(cached) // no rule sees a removal, no inserts
            var suspects = Fixpoint.materialize(
              if (seedParts.isEmpty) cached.limit(0)
              else tight(seedParts.reduce(_ union _).distinct()))
            if (suspects.count == 0 && deltaOf.isEmpty)
              return Some(cached) // nothing was tight
            // cascade: tight support FROM a suspect over remaining tuples
            var frontier = suspects
            Fixpoint.withLoopConf(catalog.spark) {
              var iter = 0
              while (frontier.count > 0 && iter < 10000) {
                graft.QueryGuard.checkCancelled()
                iter += 1
                Fixpoint.sizeShuffle(catalog.spark, frontier.count)
                val parts = recRules2.map { r =>
                  val resolver: RuleCompiler.Resolver = (nm, ar) =>
                    if (nm == name) frontier.df else resolve(nm, ar)
                  deriveRule(r, resolver).toDF(cols: _*)
                }
                val next = Fixpoint.materialize(Fixpoint.antiNullSafe(
                  tight(parts.reduce(_ union _).distinct()), suspects.df))
                if (next.count > 0) {
                  val old = suspects
                  suspects = Fixpoint.materialize(suspects.df.union(next.df))
                  if (old ne frontier) old.unpersist() // folded into the union
                }
                if ((frontier ne suspects) && (frontier ne next))
                  frontier.unpersist() // consumed by this step's derivations
                frontier = next
              }
              // empty terminal frontier (never merged into suspects)
              if (frontier ne suspects) frontier.unpersist()
            }
            val kept = Fixpoint.antiNullSafe(cached, suspects.df)
            val baseParts = baseRules2.map(deriveRule(_).toDF(cols: _*)) ++
              baseOf(name).map(_.toDF(cols: _*)).toSeq
            val start = Fixpoint.materialize(reduce2(
              (baseParts :+ kept).reduce(_ union _)))
            suspects.unpersist() // `kept` is folded into `start`
            localAggFastPath(name, recRules2, start, func, aggIdx) match {
              case Some(df) => return Some(df)
              case None =>
                return Some(runAggLoop(name, recRules2, cols, func, aggIdx, start, start))
            }
          }

          val contribs = stripped.flatMap { r =>
            r.body.zipWithIndex.collect {
              case (Pos(a), i) if changedRels(a.rel) =>
                deltaDerive(r, i, m => if (m == name) Some(cached) else None)
            }
          }
          if (contribs.isEmpty) return Some(cached)
          val better: (Column, Column) => Column =
            if (func == "min") (n, o) => n < o else (n, o) => n > o
          val cand = Fixpoint.materialize(reduce2(contribs.reduce(_ union _)))
          val keyCond = keys2.map(k => col(s"__n.$k") <=> col(s"__o.$k"))
            .reduceOption(_ && _).getOrElse(lit(true))
          val vN = col(s"__n.${cols(aggIdx)}")
          val vO = col(s"__o.${cols(aggIdx)}")
          val improved = Fixpoint.materialize(cand.df.alias("__n")
            .join(cached.alias("__o"), keyCond, "left_outer")
            .where((vO.isNull && vN.isNotNull) || better(vN, vO))
            .select(cols.map(c => col(s"__n.$c")): _*))
          if (improved.count == 0) return Some(cached) // no label moved
          val merged = Fixpoint.materialize(reduce2(cached.union(improved.df)))
          localAggFastPath(name, recRules2, merged, func, aggIdx) match {
            case Some(df) => return Some(df)
            case None =>
              return Some(runAggLoop(name, recRules2, cols, func, aggIdx, merged, improved))
          }
        }
        // MERGEABLE-AGGREGATE maintenance (reference BENCHMARKS.md:91-93
        // — "re-query dept sums after +N rows" in single-digit ms): for a
        // single non-recursive rule whose aggregates are all decomposable
        // (sum/count/min/max), aggregate ONLY the new body bindings and
        // merge per group with the cached result. count_distinct merges
        // too, against the auxiliary distinct-pairs table (below). avg is
        // not insert-mergeable (avg·count re-multiplication is float-
        // lossy vs recompute); multiple changed atoms in one rule would
        // double-count delta×delta bindings — both fall through to
        // DIRTY-GROUP maintenance instead of full recompute.
        if (sccRules.length != 1 || isRecursive || changedRels(name))
          return None
        // EDB facts unioned into the head: the merge/decrement algebra
        // treats cached rows as pure rule aggregates — recompute instead
        if (baseOf(name).isDefined) return None
        val r = sccRules.head
        val aggSpecs = r.head.args.zipWithIndex.collect { case (Agg(f, _), i) => (f, i) }
        val changedOccs = r.body.zipWithIndex.collect {
          case (Pos(a), i) if changedRels(a.rel) => i
        }
        val aggIdxSet = aggSpecs.map(_._2).toSet
        val keyIdxAll = cols.indices.filterNot(aggIdxSet)
        val cdSpecs = r.head.args.zipWithIndex.collect {
          case (Agg("count_distinct", arg), i) => (arg, i)
        }
        // negation-driven binding changes: the merge/subtractable paths
        // bind the positive occurrence and can't see them — dirty-group
        // keys from the flipped negated occurrence instead (the carried
        // support/pairs tables strand at v0 and reseed when next used)
        if (negChanged.nonEmpty) return dirtyGroupMaintain(r, keyIdxAll)

        // SUBTRACTABLE-AGGREGATE rounds: sum/count are group-wise
        // subtractable, so deletes maintain by per-group DECREMENT
        // (reference BENCHMARKS.md:91-93 shape) riding the carried
        // [[ViewState.support]] table instead of dirty-group
        // recomputation. Insert rounds that find a live support table
        // route through the same path so the table stays current.
        if (hasRemovals || views.get(name).exists(_.support.exists(_._1 == v0))) {
          // tiny-literal-delete rounds over big/unknown-size bases don't
          // amortize a first-round seed (see the gate in
          // maintainAggSubtractable); literal-built small bases and any
          // round with a carried table are unaffected
          maintainAggSubtractable(name, r, cols, aggSpecs, keyIdxAll,
            changedOccs, changedRels, deltaOf, removedExactOf, cached, v0,
            tinyLiteralRound = tinyLiteralRound) match {
            case Some(df) => return Some(df)
            case None =>
              // outside the subtractable contract: fall back. The
              // now-stale support table STAYS in the cache untouched —
              // its checkpoint typically BACKS the served view (`cached`
              // is a projection of it), so an eager unpersist here would
              // free lineage-truncated blocks the dirty-group pass (or
              // the insert-merge path below) is about to read. The next
              // subtractable round finds its version stale, seeds fresh,
              // and releases it then (view-aliasing checked at that
              // point, where the superseded view is provably dead).
              if (hasRemovals) return dirtyGroupMaintain(r, keyIdxAll)
          }
        }
        if (changedOccs.length != 1 ||
            !aggSpecs.forall { case (f, _) =>
              Set("sum", "count", "min", "max")(f) || f == "count_distinct" } ||
            (cdSpecs.nonEmpty && keyIdxAll.isEmpty))
          return dirtyGroupMaintain(r, keyIdxAll)

        val deltaAggDf: DataFrame = if (cdSpecs.isEmpty) {
          // the delta aggregation stays LAZY: the local-merge collect
          // below is its only execution in the common path (its emptiness
          // check rides along) — materializing first would add a
          // checkpoint + count job per re-query. Only the distributed
          // fallback materializes it (the full_outer join reads it twice).
          deltaDerive(r, changedOccs.head,
            m => if (m == name) Some(cached) else None)
        } else {
          // COUNT_DISTINCT delta-merge: cd(key) can only GROW under
          // inserts, by the number of genuinely-new distinct values —
          // new pairs = the delta bindings' distinct (keys, value) pairs
          // anti-joined against the auxiliary pairs table at v0. The
          // per-key increments then merge by ADDITION (count semantics),
          // riding the same column-wise merge as sum/count below. The
          // aux table seeds from the pre-change body state on first use
          // (the one changed rel resolves to current ∖ delta; every
          // other rel is unchanged) and carries forward O(delta)-updated
          // afterwards — the reference's arranged per-group multisets,
          // as a maintained side table.
          val changedRel = r.body(changedOccs.head) match {
            case Pos(a) => a.rel
            case _ => return dirtyGroupMaintain(r, keyIdxAll)
          }
          val groupTermIdx = r.head.args.zipWithIndex.collect {
            case (t, i) if !t.isInstanceOf[Agg] => i
          }
          def bindingsOf(resolver: RuleCompiler.Resolver): DataFrame =
            RuleCompiler.compileBody(r.body, resolver, hnswFrame, catalog.statRows)
          // (keys, __v, __s): per-pair binding SUPPORT counts — what
          // makes the pairs table decrementable under deletes (a pair
          // leaves the distinct set only when its LAST binding goes)
          def pairsOf(b: DataFrame, arg: Term): DataFrame =
            b.select(groupTermIdx.map(i =>
                RuleCompiler.term(r.head.args(i), b).as(s"c$i")) :+
              RuleCompiler.term(arg, b).as("__v"): _*)
              .where(col("__v").isNotNull) // count_distinct skips nulls
              .groupBy((groupTermIdx.map(i => s"c$i") :+ "__v").map(col): _*)
              .agg(count(lit(1)).as("__s"))
          lazy val oldBindings = bindingsOf { (nm, ar) =>
            val cur = resolve(nm, ar)
            if (nm == changedRel)
              Fixpoint.antiNullSafe(cur, deltaOf(changedRel).toDF(cur.columns.toSeq: _*))
            else cur
          }
          val deltaB = Fixpoint.materialize(bindingsOf(
            RuleCompiler.bindOccurrence(r, changedOccs.head, deltaOf(changedRel),
              (nm, ar) => resolve(nm, ar)))).df
          val keyCols = groupTermIdx.map(i => s"c$i")
          var acc: DataFrame = {
            val groups = groupTermIdx.map(i =>
              RuleCompiler.term(r.head.args(i), deltaB).as(s"c$i"))
            val nonCd = r.head.args.zipWithIndex.collect {
              case (Agg(f, arg), i) if f != "count_distinct" =>
                aggFunc(f, arg, deltaB).as(s"c$i")
            }
            val aggsAll = nonCd :+ count(lit(1)).as("__nb")
            deltaB.groupBy(groups: _*)
              .agg(aggsAll.head, aggsAll.tail: _*).drop("__nb")
          }
          val auxUpdates = Seq.newBuilder[(Int, DataFrame)]
          val pairCols = keyCols :+ "__v"
          cdSpecs.foreach { case (arg, i) =>
            val aux = state(name).pairs.get(i) match {
              case Some((v, df)) if v == v0 => df
              case _ =>
                cdPairsSeeds += 1
                Fixpoint.materialize(pairsOf(oldBindings, arg)).df
            }
            val auxN = aux.toDF((pairCols :+ "__s"): _*)
            val dpc = pairsOf(deltaB, arg).toDF((pairCols :+ "__c"): _*)
            // pairs with NO aux row are genuinely new distinct values
            // (cd increments); pairs with one bump its support
            def pairCond(l: String, rr: String) =
              pairCols.map(c => col(s"$l.$c") <=> col(s"$rr.$c")).reduce(_ && _)
            // support upkeep: existing pairs add the delta's binding
            // count, new pairs enter with theirs — one pass over the
            // pairs table (the same cost class as the old append-union,
            // which could not keep supports and so could not serve
            // deletes). r15: the updated table and the new-pairs slice
            // materialize in ONE tagged checkpoint (a __new flag on the
            // union) instead of two — the new-pairs anti-join result was
            // checkpointed separately only to be counted and unioned.
            val newPairsRaw = dpc.alias("__d").join(auxN.alias("__a"),
              pairCond("__d", "__a"), "left_anti")
            val bumped = auxN.alias("__a").join(dpc.alias("__d"),
                pairCond("__a", "__d"), "left")
              .select(pairCols.map(c => col(s"__a.$c").as(c)) :+
                (col("__a.__s") + coalesce(col("__d.__c"), lit(0L))).as("__s"): _*)
            val tagged = Fixpoint.materialize(
              bumped.withColumn("__new", lit(false))
                .union(newPairsRaw.toDF((pairCols :+ "__s"): _*)
                  .withColumn("__new", lit(true)))).df
            val cnts = tagged.where(col("__new"))
              .groupBy(keyCols.map(col): _*)
              .agg(count(lit(1)).as(s"c$i"))
            // null-safe left join: null group keys must still pick up
            // their increment, exactly as the <=> merge below groups them
            val dj = acc.alias("__l").join(cnts.alias("__r"),
              keyCols.map(c => col(s"__l.$c") <=> col(s"__r.$c")).reduce(_ && _),
              "left")
            acc = dj.select(col("__l.*"),
              coalesce(col(s"__r.c$i"), lit(0L)).as(s"c$i"))
            auxUpdates += ((i, tagged.select((pairCols :+ "__s").map(col): _*)))
          }
          val vNow = catalog.version
          auxUpdates.result().foreach { case (i, df) =>
            // release the superseded pairs table's checkpoint blocks —
            // the updated table is materialized independent of it, and
            // leaving them persisted accumulates for the session under
            // repeated maintenance (the TextAnalysis scratch leak class)
            state(name).pairs.put(i, (vNow, df)).foreach { case (_, old) =>
              if (!(old eq df))
                Fixpoint.checkpointRddOf(old).foreach(_.unpersist(false))
            }
          }
          cdMergedCount += 1
          acc.select(cols.map(col): _*)
        }
        // merge functions per column: count_distinct increments add,
        // exactly like count
        val mergeSpecs = aggSpecs.map {
          case ("count_distinct", i) => ("count", i)
          case x => x
        }
        // driver-local merge when both sides fit: one collect each, a
        // hash merge, and a parallelize — instead of a full_outer join +
        // checkpoint (the reference merges cached group states in-process,
        // BENCHMARKS.md:91-93; this is its Spark analogue for the
        // overwhelmingly common small-group-count case)
        object MergeBail extends scala.util.control.ControlThrowable
        // Spark's min/max order (NaN largest, so a cached NaN min cannot
        // survive forever; strings by UTF-8 bytes)
        def lt(a: Any, b: Any): Boolean = SparkValues.compare(a, b) < 0
        val localMerged = try for {
          newRows <- Fixpoint.collectUpTo(deltaAggDf, Fixpoint.LocalEdgeRows)
          oldRows <-
            if (newRows.isEmpty) Some(Array.empty[org.apache.spark.sql.Row])
            else Fixpoint.collectUpTo(cached.toDF(cols: _*), Fixpoint.LocalEdgeRows)
        } yield if (newRows.isEmpty) {
          recordNamedDelta(name, v0, Nil, Nil)
          cached
        } else {
          val keyIdx = cols.indices.filterNot(aggIdxSet)
          // keys as the distributed full_outer <=> join matches them
          def key(row: org.apache.spark.sql.Row): Seq[Any] = keyIdx.map { i =>
            row.get(i) match {
              case _: Array[_] => throw MergeBail // binary: reference
              // equality here but value equality under <=>
              case v => SparkValues.key(v)
            }
          }
          val m = mutable.LinkedHashMap.empty[Seq[Any], Array[Any]]
          oldRows.foreach(r => m(key(r)) = Array.tabulate(cols.length)(r.get))
          def addNum(a: Any, b: Any): Any = (a, b) match {
            case (x: Long, y: Long) => x + y
            case (x: Int, y: Int) => x + y
            case (x: Double, y: Double) => x + y
            case _ => throw MergeBail
          }
          newRows.foreach { r =>
            m.get(key(r)) match {
              case None => m(key(r)) = Array.tabulate(cols.length)(r.get)
              case Some(acc) => mergeSpecs.foreach { case (f, i) =>
                val (ov, nv) = (acc(i), r.get(i))
                acc(i) = f match {
                  case "count" => addNum(if (ov == null) 0L else ov, if (nv == null) 0L else nv)
                  case "sum" =>
                    if (ov == null && nv == null) null
                    else if (ov == null) nv else if (nv == null) ov else addNum(ov, nv)
                  case "min" => // least/greatest skip nulls
                    if (ov == null) nv else if (nv == null) ov
                    else if (lt(nv, ov)) nv else ov
                  case _ =>
                    if (ov == null) nv else if (nv == null) ov
                    else if (lt(ov, nv)) nv else ov
                }
              }
            }
          }
          val schema = org.apache.spark.sql.types.StructType(
            cached.toDF(cols: _*).schema.fields.map(_.copy(nullable = true)))
          val out = m.valuesIterator
            .map(a => org.apache.spark.sql.Row.fromSeq(a.toSeq)).toSeq
          // NAME the exact view-level delta: only groups the delta
          // aggregation touched can differ — per touched key, old row vs
          // merged row, all driver-resident already
          locally {
            val oldByKey = oldRows.iterator.map(r => key(r) -> r).toMap
            val insB = Seq.newBuilder[org.apache.spark.sql.Row]
            val remB = Seq.newBuilder[org.apache.spark.sql.Row]
            newRows.iterator.map(key).toSet[Seq[Any]].foreach { kk =>
              val o = oldByKey.get(kk)
              val nw = m.get(kk)
                .map(a => org.apache.spark.sql.Row.fromSeq(a.toSeq))
              (o, nw) match {
                case (Some(a), Some(b))
                    if SparkValues.key(a.toSeq) == SparkValues.key(b.toSeq) => ()
                case _ => o.foreach(remB += _); nw.foreach(insB += _)
              }
            }
            recordNamedDelta(name, v0, insB.result(), remB.result())
          }
          catalog.spark.createDataFrame(
            catalog.spark.sparkContext.parallelize(out,
              Fixpoint.parallelizeParts(out.size.toLong)), schema)
        } catch {
          // a min/max type SparkValues.compare does not order
          case MergeBail | _: IllegalArgumentException => None
        }
        localMerged.foreach(df => return Some(df))
        val deltaAgg = Fixpoint.materialize(deltaAggDf)
        if (deltaAgg.count == 0) {
          recordNamedDelta(name, v0, Nil, Nil)
          return Some(cached)
        }
        val o = cached.toDF(cols: _*).withColumn("__op", lit(1)).alias("__o")
        val n = deltaAgg.df.withColumn("__np", lit(1)).alias("__n")
        val keyCond = cols.indices.filterNot(aggIdxSet).map(i =>
          col(s"__o.c$i") <=> col(s"__n.c$i")).reduceOption(_ && _).getOrElse(lit(true))
        val merged = o.join(n, keyCond, "full_outer").select(cols.indices.map { i =>
          val oc = col(s"__o.c$i"); val nc = col(s"__n.c$i")
          val oPresent = col("__op").isNotNull
          val nPresent = col("__np").isNotNull
          (if (!aggIdxSet(i)) coalesce(oc, nc)
           else mergeSpecs.find(_._2 == i).get._1 match {
             case "count" => coalesce(oc, lit(0L)) + coalesce(nc, lit(0L))
             case "sum" => when(!oPresent, nc).when(!nPresent, oc)
               .when(oc.isNull && nc.isNull, lit(null))
               .otherwise(coalesce(oc, lit(0)) + coalesce(nc, lit(0)))
             case "min" => when(!oPresent, nc).when(!nPresent, oc).otherwise(least(oc, nc))
             case _ => when(!oPresent, nc).when(!nPresent, oc).otherwise(greatest(oc, nc))
           }).as(s"c$i")
        }: _*)
        return Some(Fixpoint.materialize(merged).df)
      }

      // Driver-local maintenance for the linear-TC shape, run in-process
      // when the cached closure, the edge relation, and the change deltas
      // all fit on the driver. Inserts use delta-seeded semi-naive
      // propagation (same continuation as the distributed loop below);
      // deletes use affected-source recomputation (DRed without the
      // over-delete/re-derive round trips: a pair (x,y) can only change
      // if x reached some changed edge's tail u in the OLD closure —
      // (x,u) ∈ C or x = u — so unaffected sources keep their pairs and
      // affected sources re-BFS over the post-change edges). Reference:
      // incremental retraction through recursive views,
      // `src/derived_relations.rs:1-60`, BENCHMARKS.md:69-71.
      if (isRecursive && scc.size == 1) tcEdgeRel(name, sccRules) match {
        case Some(e1) if changedRels == Set(e1) && baseOf(name).isEmpty =>
          val edgeDf = resolve(e1, 2)
          // prefer the raw literal batch over the exact anti-joined delta:
          // already-present tuples only re-derive pairs the closure set
          // filters, and the raw frame collects driver-side (no job)
          val insFrames = changes.filter(c => c.rel == e1 && c.delta != null)
            .map(c => if (c.rawDelta != null) c.rawDelta else c.delta)
          val remFrames = changes.filter(c => c.rel == e1 && c.removed != null).map(_.removed)
          def collectAll(fs: Seq[DataFrame]): Option[Array[org.apache.spark.sql.Row]] =
            fs.foldLeft(Option(Array.empty[org.apache.spark.sql.Row])) { (acc, f) =>
              acc.flatMap(a => Fixpoint.collectUpTo(f, Fixpoint.LocalEdgeRows).map(a ++ _))
            }
          val local = for {
            cachedRows <- Fixpoint.collectUpTo(cached,
              if (limits.tier == Tier.Distributed) 1L else Engine.tcLocalClosureCap)
            insRows <- collectAll(insFrames)
            remRows <- collectAll(remFrames)
            // the post-change EDGE relation is only needed for deletes
            // (affected sources re-BFS over real edges). Insert-only
            // maintenance works from the closure alone: the old closure
            // is transitively closed, so BFS over (old-closure
            // successors ∪ new edges) reaches exactly the new
            // reachability — skipping the edge collect skips executing
            // the post-insert union+distinct plan (its AQE stages were
            // most of the re-query's jobs)
            edgeRows <- if (remRows.isEmpty) Some(Array.empty[org.apache.spark.sql.Row])
                        else Fixpoint.collectUpTo(edgeDf, Fixpoint.LocalEdgeRows)
          } yield {
            // pair types come from the EDGE relation: a cached EMPTY
            // closure has NullType columns, which would null out the
            // parallelized values (corpus 09_recursion/13)
            val schema = org.apache.spark.sql.types.StructType(Seq(
              edgeDf.schema.fields(0).copy(name = cached.columns(0), nullable = true),
              edgeDf.schema.fields(1).copy(name = cached.columns(1), nullable = true)))
            def pairsDf(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
              catalog.spark.createDataFrame(
                catalog.spark.sparkContext.parallelize(rows,
                  Fixpoint.parallelizeParts(rows.size.toLong)), schema)
            // raw driver-side literals (rawDelta) and Spark-normalized
            // cached values must agree in the hash sets below
            import SparkValues.{key => nv}
            if (remRows.isEmpty) {
              // INSERT-ONLY: seed with paths through the new edges, then
              // propagate forward over old-closure successors (one hop
              // covers any all-old-edge segment — the closure is
              // transitively closed) plus the new edges themselves
              val closure = mutable.HashSet.empty[(Any, Any)]
              val pred = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
              val succ = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
              cachedRows.foreach { r =>
                val (a, b) = (nv(r.get(0)), nv(r.get(1)))
                closure += ((a, b))
                pred.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
                succ.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
              }
              val insAdj = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
              insRows.foreach { r =>
                insAdj.getOrElseUpdate(nv(r.get(0)), mutable.ArrayBuffer.empty) += nv(r.get(1))
              }
              val fresh = mutable.ArrayBuffer.empty[(Any, Any)]
              val queue = mutable.ArrayDeque.empty[(Any, Any)]
              def add(p: (Any, Any)): Unit =
                if (closure.add(p)) { fresh += p; queue.append(p) }
              insRows.foreach { r =>
                val (u, v) = (nv(r.get(0)), nv(r.get(1)))
                add((u, v))
                pred.getOrElse(u, mutable.ArrayBuffer.empty).foreach(x => add((x, v)))
              }
              while (queue.nonEmpty) {
                val (x, y) = queue.removeHead()
                succ.getOrElse(y, mutable.ArrayBuffer.empty).foreach(z => add((x, z)))
                insAdj.getOrElse(y, mutable.ArrayBuffer.empty).foreach(z => add((x, z)))
              }
              if (fresh.isEmpty) cached
              else cached.union(pairsDf(fresh.iterator
                .map(p => org.apache.spark.sql.Row(p._1, p._2)).toSeq))
            } else {
              val adj = edgeRows.map(r => (nv(r.get(0)), nv(r.get(1))))
                .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
              // DELETES (possibly mixed with inserts): recompute the
              // reach sets of affected sources only
              val changedTails = (insRows.iterator ++ remRows.iterator)
                .map(r => nv(r.get(0))).toSet
              val affected = mutable.HashSet.empty[Any] ++= changedTails
              cachedRows.foreach { r =>
                if (changedTails(nv(r.get(1)))) affected += nv(r.get(0))
              }
              val out = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
              cachedRows.foreach(r => if (!affected(nv(r.get(0)))) out += r)
              affected.foreach { src =>
                val seen = mutable.HashSet.empty[Any]
                val queue = mutable.ArrayDeque[Any](src)
                while (queue.nonEmpty) {
                  val n = queue.removeHead()
                  adj.getOrElse(n, Array.empty[Any]).foreach { m =>
                    if (seen.add(m)) queue.append(m)
                  }
                }
                seen.foreach(m => out += org.apache.spark.sql.Row(src, m))
              }
              pairsDf(out.toSeq)
            }
          }
          local match { case Some(df) => tcLocalRounds += 1; return Some(df); case None => () }
          // DISTRIBUTED affected-source maintenance — the same algorithm
          // past the driver caps: a pair (x, y) can only change if x
          // reached some changed edge's TAIL in the OLD closure (the
          // first changed edge on any appearing/disappearing path is
          // reached from x by old edges alone), so unaffected sources
          // keep their pairs VERBATIM (one anti-join on src) and
          // affected sources re-derive by bound reachability over the
          // post-change edges (the frontier-restricted semi-naive loop —
          // iterations touch only affected-source rows). Cost scales
          // with the DELETE CONE, not the closure: the generic DRed
          // cascade below would instead run closure-sized over-delete
          // joins per iteration. Dense graphs where the cone IS the
          // database degrade to ~one bounded re-derivation, never worse.
          if (hasRemovals) {
            val changed = (insFrames ++ remFrames)
              .map(_.toDF("__s", "__d")).reduce(_ union _)
            val tails = Fixpoint.materialize(changed.select(col("__s")).distinct())
            val cachedN = cached.toDF("c0", "c1")
            val aff = Fixpoint.materialize(
              cachedN.join(broadcast(tails.df),
                  cachedN("c1") <=> tails.df("__s"), "left_semi")
                .select(col("c0"))
                .union(tails.df.select(col("__s").as("c0"))).distinct())
            val affR = aff.df.toDF("__a")
            val affDf = if (aff.count <= 2000000L) broadcast(affR) else affR
            val kept = cachedN.join(affDf,
              cachedN("c0") <=> col("__a"), "left_anti")
            val reach = Fixpoint.boundReachability(
              edgeDf.toDF("src", "dst"), aff.df.toDF("src"))
            val out = Fixpoint.materialize(
              kept.union(reach.toDF("c0", "c1")).toDF(cached.columns.toSeq: _*))
            tails.unpersist(); aff.unpersist()
            return Some(out.df)
          }
        case _ => ()
      }
      // DRed-style delete propagation (the classic over-delete/re-derive
      // algorithm for view maintenance under deletions; reference
      // retracts through derived relations incrementally,
      // `src/derived_relations.rs:1-60`): over-delete = every derivation
      // that ran through a removed tuple (one occurrence bound to the
      // removed rows, other changed rels at their PRE-delete state =
      // current ∪ removed, since deletes are exact-tuple). For RECURSIVE
      // views the over-deletion then propagates through the view's own
      // body occurrences to fixpoint — a deleted pair invalidates pairs
      // derived from it. Re-derivation runs at the NEW state with the
      // head unification pushed INTO the rule body as a guard atom, so
      // it only explores bindings for the (small) over-deleted set,
      // never the full base; recursive views iterate with the view bound
      // to kept ∪ survivors until no new survivor appears (alternative
      // derivations may themselves run through survivors). Cost ~
      // |delete-cone|-bound joins, vs a full recomputation's scan of
      // every base relation. MIXED insert+delete batches sequence the
      // two maintained phases: the delete phase (below) runs against
      // the MID state — the current database with this batch's inserts
      // backed out, exact because insert deltas are logged disjoint
      // from the pre-state (`Catalog.appendDf` anti-joins) — and the
      // insert continuation then replays the deltas from the mid views.
      // This is what makes atomic updates (`-old,+new <- body`)
      // maintainable instead of a recompute. Non-Var heads and views
      // with own EDB facts still fall back to recompute.
      if ((hasRemovals || negKills.nonEmpty) &&
          sccRules.forall(_.head.args.forall(a =>
            a.isInstanceOf[Var] || a.isInstanceOf[Const])) &&
          scc.forall(m => baseOf(m).isEmpty)) {
        if (removedOf.nonEmpty || negKills.nonEmpty) {
          def midFrame(nm: String, ar: Int): DataFrame = {
            val cur = resolve(nm, ar)
            deltaOf.get(nm) match {
              case Some(d) => Fixpoint.antiNullSafe(cur, d.toDF(cur.columns.toSeq: _*))
              case None => cur
            }
          }
          def oldFrame(nm: String, ar: Int): DataFrame = {
            val cur = midFrame(nm, ar)
            removedOf.get(nm) match {
              case Some(rm) => cur.union(rm.toDF(cur.columns.toSeq: _*)).distinct()
              case None => cur
            }
          }
          // the KILL-phase database state: every kill-change applied
          // (removals from positive rels → midFrame; inserts into
          // negated-only rels → already in `current`), every
          // create-change not yet (positive inserts excluded by
          // midFrame; negated-rel removals still present). For a
          // negated-only rel that is current ∪ its removals.
          def killFrame(nm: String, ar: Int): DataFrame = {
            val cur = resolve(nm, ar)
            removedOf.get(nm) match {
              case Some(rm) => cur.union(rm.toDF(cur.columns.toSeq: _*)).distinct()
              case None => cur
            }
          }
          // Mixed batches on small recursive SCCs: the fresh in-process
          // fixpoint at the new state is cheaper than the DRed phases
          // plus the insert continuation — try it before either.
          if (deltaOf.nonEmpty && isRecursive) localSccFastPath(scc, sccRules) match {
            case Some(out) =>
              def of(rel: String): DataFrame =
                out.getOrElse(rel, emptyFrame(byHead(rel).head.head.args.length))
              scc.filter(_ != name).foreach { rel =>
                memo(rel) = of(rel); cachePut(rel, of(rel))
              }
              return Some(of(name))
            case None => ()
          }
          // After the delete phase lands the per-member mid views:
          // pure-delete batches cache and return them; mixed batches
          // continue into the insert phase seeded from them.
          def afterDelete(vs: Map[String, DataFrame]): Option[DataFrame] = {
            if (deltaOf.isEmpty && negCreates.isEmpty) {
              scc.filter(_ != name).foreach { r => memo(r) = vs(r); cachePut(r, vs(r)) }
              Some(vs(name))
            } else insertPhase(vs)
          }
          // Driver-local DRed: both phases expressed as synthetic
          // programs over collected inputs and run in-process by
          // LocalEval — a handful of bounded collects and one
          // parallelize instead of 10-20 fixpoint jobs. Covers mutual
          // recursion too (LocalEval solves multi-member SCCs) and
          // (round 12) sign-flipped negation-driven kills: the flipped
          // seed binds the negated rel's insert delta with siblings at
          // the old state, mirroring overDeriveNegFlip. Bails (→
          // distributed DRed below, or recompute) when inputs exceed
          // the collect caps or a rule shape is outside LocalEval's
          // contract.
          // RESTRICTED RECOMPUTE BY HEAD-LINK KEYS: for a NONRECURSIVE
          // single-member view whose every changed body occurrence —
          // positive rel with delta/removals, negated rel with an
          // injected derived diff — shares at least one variable with
          // the head, the affected rows are exactly the head rows
          // matching some changed tuple's projection onto those shared
          // ("link") variables: a derivation that consumed a changed
          // tuple, or whose negation gate flipped on a diff tuple,
          // necessarily carries that tuple's link values into its head.
          // So new = cached ∖ dirty ∪ derive(body ∧ dirty), ONE pass at
          // the new state subsuming both DRed phases and the insert
          // continuation, with the dirty predicate pushed below the
          // body joins into pruned scans by Catalyst — the stratified-
          // arrangement cost shape of the reference
          // (`src/incremental.rs:77-80`) without the 10-20 fixpoint
          // jobs. Phantom removals only over-approximate dirty (safe);
          // a rel changed but absent from every body is reachable only
          // through an injected-diff rel (positive derived deps bailed
          // to recompute above) and needs no keys of its own. The DRed
          // machinery below remains for recursive SCCs and for changed
          // occurrences sharing nothing with the head.
          def linkMaintain(): Option[DataFrame] = {
            val changedTupleRels = deltaOf.keySet ++ removedOf.keySet
            val occs: Seq[(Rule, Atom)] = sccRules.flatMap { r =>
              r.body.collect {
                case Pos(a) if changedTupleRels(a.rel) => (r, a)
                case Neg(a) if changedTupleRels(a.rel) => (r, a)
              }
            }
            if (occs.isEmpty) { // body never sees the change
              recordNamedDelta(name, v0, Nil, Nil)
              return Some(cached)
            }
            // per occurrence: head positions sharing a Var with the
            // atom, paired with the atom arg index carrying the value
            val perOcc: Seq[(Atom, Seq[(Int, Int)])] = occs.map { case (r, a) =>
              val links = r.head.args.zipWithIndex.flatMap {
                case (Var(v), p) =>
                  val q = a.args.indexWhere {
                    case Var(w) => w == v
                    case _ => false
                  }
                  if (q >= 0) Some((p, q)) else None
                case _ => None
              }
              (a, links)
            }
            if (perOcc.exists(_._2.isEmpty)) return None // unrestrictable
            val tuplesOf = mutable.HashMap.empty[String, Array[org.apache.spark.sql.Row]]
            perOcc.map(_._1.rel).distinct.foreach { rel =>
              val rows = Array.newBuilder[org.apache.spark.sql.Row]
              (deltaOf.get(rel).toSeq ++ removedOf.get(rel).toSeq).foreach { df =>
                rows ++= Fixpoint.collectUpTo(df, 1024L).getOrElse(return None)
              }
              tuplesOf(rel) = rows.result()
            }
            val disjuncts = Seq.newBuilder[Column]
            var nDis = 0
            perOcc.foreach { case (a, links) =>
              val vals = tuplesOf(a.rel).iterator
                .map(row => links.map { case (p, q) => (p, row.get(q)) })
                .toSeq.distinct
              // literal-expressible link values only: <=> literals are
              // null- and NaN-safe (so this admits more than
              // SparkValues.literalKey, which also guards driver hash
              // keys), but array/struct/any-typed values have no
              // faithful literal — those rounds take DRed
              vals.foreach(_.foreach { case (_, v) => v match {
                case null | _: java.lang.Number | _: String |
                     _: java.lang.Boolean | _: java.sql.Timestamp |
                     _: java.sql.Date => ()
                case _ => return None
              } })
              nDis += vals.size
              vals.foreach { tv =>
                disjuncts += tv.map { case (p, v) =>
                  col(cols(p)) <=> lit(v) }.reduce(_ && _)
              }
            }
            if (nDis > 512) return None // predicate would bloat the plan
            val ds = disjuncts.result()
            if (ds.isEmpty) { // no tuple reaches the body
              recordNamedDelta(name, v0, Nil, Nil)
              return Some(cached)
            }
            val dirtyPred = ds.reduce(_ || _)
            linkMaintains += 1
            val fresh = sccRules.map(r => deriveRule(r).toDF(cols: _*))
              .reduce(_ union _).where(dirtyPred).distinct()
            val out = Fixpoint.materialize(
              cached.toDF(cols: _*).where(!dirtyPred).union(fresh)).df
            // rows can only change where the link predicate matches
            recordDirtySliceDelta(name, v0, cached.toDF(cols: _*), out, _.where(dirtyPred))
            Some(out)
          }
          // Path order: on PROVABLY-SMALL inputs (every base relation in
          // the SCC bodies has a driver-known size within the local
          // collect cap — literal-built scenarios) the driver-local DRed
          // wins: everything collects once and both phases run
          // in-process. Anywhere else linkMaintain goes first — its cost
          // is a few delta-bound pruned jobs at ANY base size, while a
          // localDRed attempt on a big or unknown-size base pays capped
          // 200k-row collect probes before bailing (measured: those
          // probes dominated the negated-derived round at 600k rows).
          // localDRed also keeps recursive SCCs and link-less shapes,
          // where it replaces 10-20 fixpoint jobs.
          // [[collectMemoized]] extends the literal-size signal to
          // REGISTERED frames: a ≤4096-row base probes small with one
          // early-stopping collect whose ROWS the in-process DRed then
          // reuses by frame identity (zero extra jobs), so a 25-row
          // registered base takes the driver-local path instead of
          // paying the distributed round's broadcasts + checkpoint
          // every delete (the q68 r12 regression). Big bases stop the
          // probe at 4097 rows (memoized negative while the frame is
          // unchanged) and keep the linkMaintain-first order.
          val provablySmall = sccRules.flatMap(_.body.collect {
            case Pos(a) => (a.rel, a.args.length)
            case Neg(a) => (a.rel, a.args.length)
          }).distinct.forall { case (rel, ar) =>
            scc(rel) || byHead.contains(rel) ||
            catalog.sizeSignal(rel).exists(_ <= Fixpoint.LocalEdgeRows) ||
            collectMemoized(resolve(rel, ar), 4096L).isDefined
          }
          def tryLink(): Option[DataFrame] =
            if (!isRecursive && scc.size == 1) linkMaintain() else None
          if (!provablySmall) tryLink() match {
            case Some(df) => return Some(df)
            case None => ()
          }
          localDRed(scc, sccRules, sccCached, changedRels,
              removedOf, deltaOf, negChanged, midFrame) match {
            case Some(vs) => return afterDelete(vs)
            case None => ()
          }
          if (provablySmall) tryLink() match {
            case Some(df) => return Some(df)
            case None => ()
          }
          // derivations of `r` with body occurrence `dIdx` (of relation
          // `targetRel`) bound to `bound`; every other frame at the OLD
          // state: SCC members = their cached views, changed rels =
          // current ∪ removed (over-deletion runs entirely in the old DB)
          def overDerive(r: Rule, dIdx: Int, bound: DataFrame): DataFrame = {
            val targetRel = r.body(dIdx) match { case Pos(a) => a.rel; case _ => "" }
            // non-bound occurrences of targetRel take the oldFrame branch
            // whether or not changedRels flags it (it always does in
            // practice — overDerive only runs for changed relations).
            // DERIVED negated deps are not in changedRels but carry
            // INJECTED diffs — a sibling occurrence of one must also
            // evaluate at the OLD state (resolve would give the new
            // state, and a kill blocked by a sibling's post-change
            // contents would be silently missed: under-deletion)
            val resolver = RuleCompiler.bindOccurrence(r, dIdx, bound,
              (nm, ar) =>
                if (scc(nm)) sccCached(nm)
                else if (nm == targetRel || changedRels(nm) ||
                         deltaOf.contains(nm) || removedOf.contains(nm))
                  oldFrame(nm, ar)
                else resolve(nm, ar))
            deriveRule(r, resolver).toDF(colsOf(r.head.rel): _*)
          }
          def matByMember(parts: mutable.HashMap[String, List[DataFrame]],
                          anti: String => Option[DataFrame]): mutable.HashMap[String, Fixpoint.Mat] = {
            val out = mutable.HashMap.empty[String, Fixpoint.Mat]
            parts.foreach { case (m, ps) =>
              val step = ps.reduce(_ union _).distinct()
              val mat = Fixpoint.materialize(anti(m) match {
                case Some(acc) => Fixpoint.antiNullSafe(step, acc)
                case None => step
              })
              if (mat.count > 0) out(m) = mat
            }
            out
          }
          // sign-flipped kill driver: derivations that relied on
          // ¬n(t) for a tuple t INSERTED into the negated-only rel n —
          // bind the occurrence FLIPPED POSITIVE to the insert delta,
          // everything else at the old state (over-deletion runs
          // entirely in the old DB, exactly as for positive removals)
          def overDeriveNegFlip(r: Rule, dIdx: Int, bound: DataFrame): DataFrame = {
            val a = r.body(dIdx) match {
              case Neg(at) => at
              case Pos(at) => at // unreachable: callers pass Neg indices
            }
            overDerive(r.copy(body = r.body.updated(dIdx, Pos(a))), dIdx, bound)
          }
          val over0 = mutable.HashMap.empty[String, List[DataFrame]]
          sccRules.foreach { r =>
            r.body.zipWithIndex.foreach {
              case (Pos(a), i) if removedOf.contains(a.rel) =>
                over0(r.head.rel) =
                  overDerive(r, i, removedOf(a.rel)) :: over0.getOrElse(r.head.rel, Nil)
              case (Neg(a), i) if negKills(a.rel) =>
                over0(r.head.rel) =
                  overDeriveNegFlip(r, i, deltaOf(a.rel)) :: over0.getOrElse(r.head.rel, Nil)
              case _ => ()
            }
          }
          if (over0.isEmpty) return afterDelete(sccCached) // no rule sees a kill
          // per-member over-delete sets; frontier drives the cascade
          val overDelete = matByMember(over0, _ => None)
          if (overDelete.isEmpty) return afterDelete(sccCached)
          // over-delete cascade: derivations through already-over-deleted
          // view tuples (semi-naive — one SCC-member occurrence bound to
          // that member's frontier, others at the old views). Bounded by
          // the cached sizes.
          if (isRecursive) {
            val viewOccs = sccRules.map(r => r -> r.body.zipWithIndex.collect {
              case (Pos(a), i) if scc(a.rel) => i
            }).filter(_._2.nonEmpty)
            Fixpoint.withLoopConf(catalog.spark) {
              var frontier = overDelete.clone()
              var iter = 0
              while (frontier.nonEmpty && iter < 10000) {
                graft.QueryGuard.checkCancelled()
                iter += 1
                Fixpoint.sizeShuffle(catalog.spark,
                  frontier.valuesIterator.map(_.count).sum)
                val stepParts = mutable.HashMap.empty[String, List[DataFrame]]
                viewOccs.foreach { case (r, occs) =>
                  occs.foreach { i =>
                    val orel = r.body(i) match { case Pos(a) => a.rel; case _ => "" }
                    frontier.get(orel).foreach { f =>
                      stepParts(r.head.rel) =
                        overDerive(r, i, f.df) :: stepParts.getOrElse(r.head.rel, Nil)
                    }
                  }
                }
                val next = matByMember(stepParts, m => overDelete.get(m).map(_.df))
                next.foreach { case (m, fresh) =>
                  overDelete(m) = overDelete.get(m) match {
                    case Some(od) =>
                      val merged = Fixpoint.materialize(od.df.union(fresh.df))
                      od.unpersist() // copied into the merge; derivations done
                      merged
                    case None => fresh
                  }
                }
                // prior frontier fully consumed (next is materialized);
                // free any member no longer serving as an accumulator
                frontier.valuesIterator.foreach { f =>
                  if (!overDelete.valuesIterator.exists(_ eq f)) f.unpersist()
                }
                frontier = next
              }
            }
          }
          val guardRel = "__dred_guard"
          // survivors ⊆ over-delete (each member's guard restricts heads
          // to its not-yet-survived remainder); non-guard, non-SCC rels
          // resolve at the NEW state
          def rederive(views: String => DataFrame,
                       guardOf: String => Option[DataFrame]): mutable.HashMap[String, List[DataFrame]] = {
            val parts = mutable.HashMap.empty[String, List[DataFrame]]
            sccRules.foreach { r =>
              guardOf(r.head.rel).foreach { g =>
                val guarded = r.copy(body = Pos(Atom(guardRel, r.head.args)) +: r.body)
                val resolver: RuleCompiler.Resolver = (nm, ar) =>
                  if (nm == guardRel) g
                  else if (scc(nm)) views(nm)
                  // re-derivation runs at the KILL-phase state: mid for
                  // positive rels (pure deletes: = current), current ∪
                  // removals for negated-only rels (their inserts are
                  // kills, already applied; their removals create and
                  // belong to the insert phase)
                  else if (negChanged(nm)) killFrame(nm, ar)
                  else if (changedRels(nm)) midFrame(nm, ar)
                  else resolve(nm, ar)
                parts(r.head.rel) =
                  deriveRule(guarded, resolver).toDF(colsOf(r.head.rel): _*) ::
                    parts.getOrElse(r.head.rel, Nil)
              }
            }
            parts
          }
          val keptMats = mutable.HashMap.empty[String, Fixpoint.Mat]
          val kept: Map[String, DataFrame] = scc.iterator.map { m =>
            m -> (overDelete.get(m) match {
              case Some(od) =>
                val km = Fixpoint.materialize(Fixpoint.antiNullSafe(sccCached(m), od.df))
                keptMats(m) = km
                km.df
              case None => sccCached(m)
            })
          }.toMap
          val surv = mutable.HashMap.empty[String, Fixpoint.Mat]
          def viewNow(m: String): DataFrame = surv.get(m) match {
            case Some(s) => kept(m).union(s.df)
            case None => kept(m)
          }
          // non-recursive views converge in one pass (no SCC atom can
          // feed a second-round derivation); recursive ones iterate until
          // no member gains a survivor
          Fixpoint.withLoopConf(catalog.spark) {
            var grew = true
            var iter = 0
            while (grew && iter < 10000) {
              graft.QueryGuard.checkCancelled()
              iter += 1
              grew = false
              val stepParts = rederive(viewNow, m => overDelete.get(m).map { od =>
                surv.get(m) match {
                  case Some(s) => Fixpoint.antiNullSafe(od.df, s.df)
                  case None => od.df
                }
              })
              val fresh = matByMember(stepParts, m => surv.get(m).map(_.df))
              fresh.foreach { case (m, f) =>
                grew = true
                surv(m) = surv.get(m) match {
                  case Some(s) =>
                    val merged = Fixpoint.materialize(s.df.union(f.df))
                    s.unpersist(); f.unpersist() // both copied into merged
                    merged
                  case None => f
                }
              }
              if (!isRecursive) grew = false
            }
          }
          // kept and survivors are disjoint (survivors ⊆ over-delete,
          // the anti removed all of it) — no extra distinct
          val resultOf: Map[String, DataFrame] = scc.iterator.map { m =>
            m -> (surv.get(m) match {
              case Some(s) => Fixpoint.materialize(kept(m).union(s.df)).df
              case None => kept(m)
            })
          }.toMap
          // over-delete sets and survivor accumulators are folded into
          // resultOf; kept frames survive only for members WITHOUT
          // survivors (there resultOf IS the kept frame)
          overDelete.valuesIterator.foreach(_.unpersist())
          surv.keysIterator.foreach(m => keptMats.get(m).foreach(_.unpersist()))
          surv.valuesIterator.foreach(_.unpersist())
          return afterDelete(resultOf)
        }
      }
      // past the DRed and TC fast paths, only pure-insert changes reach
      // the continuation directly; mixed batches re-enter it via
      // afterDelete with the delete phase's mid views as `viewsNow`.
      // Negation-driven kills are deletes in disguise — same guard.
      if (hasRemovals || negKills.nonEmpty) return None
      insertPhase(sccCached)
    }

    /** Insert continuation: CONTINUE the semi-naive evaluation from the
      * per-member views `viewsNow` (the cached fixpoint for pure-insert
      * batches; the delete phase's mid views for mixed batches), seeded
      * with the delta-bound derivations. Every member's result is
      * memoized and cached, so one maintenance run serves re-queries of
      * any SCC member. Shares the enclosing [[tryMaintain]] invocation's
      * gates — callers have already vetted shapes and deltas. */
    private def insertPhaseOf(name: String, scc: Set[String], sccRules: Seq[Rule],
        deltaOf: Map[String, DataFrame],
        deltaDerive: (Rule, Int, String => Option[DataFrame]) => DataFrame,
        isRecursive: Boolean,
        viewsNow: Map[String, DataFrame],
        negSeedsFor: (String, String => Option[DataFrame]) => Seq[DataFrame],
        exactFromV0: Option[Long]): Option[DataFrame] = {
      val cached = viewsNow(name)
      val arity = cached.columns.length
      val cols = (0 until arity).map(i => s"c$i")
      // Small recursive SCCs: solve the NEW fixpoint in-process instead
      // of paying 10+ driver-coordinated jobs for the distributed
      // continuation — same bounded-collect gates (and distributed
      // fallback) as full evaluation, and the fresh local fixpoint at
      // the new state IS the maintained result. Non-recursive views
      // skip this: their distributed continuation is already 1-2 jobs,
      // cheaper than collecting a possibly-large base to the driver.
      if (isRecursive) localSccFastPath(scc, sccRules) match {
        case Some(out) =>
          def of(rel: String): DataFrame =
            out.getOrElse(rel, emptyFrame(byHead(rel).head.head.args.length))
          scc.filter(_ != name).foreach { rel =>
            memo(rel) = of(rel); cachePut(rel, of(rel))
          }
          return Some(of(name))
        case None => ()
      }
      // mutual recursion: SCC-joint continuation — seed each member with
      // its delta-bound derivations (SCC occurrences at `viewsNow`),
      // accumulators starting at viewsNow ∪ fresh.
      if (scc.size > 1) {
        val seeds = mutable.HashMap.empty[String, Fixpoint.Mat]
        scc.foreach { rel =>
          val contribs = byHead.getOrElse(rel, Seq.empty).flatMap { r =>
            r.body.zipWithIndex.collect {
              // deltaOf membership, not changedRels: a mixed batch can
              // touch a body rel with removals ONLY — its insert delta
              // is empty, so the occurrence contributes no seed (and
              // deltaOf(nm) inside deltaDerive would throw)
              case (Pos(a), i) if deltaOf.contains(a.rel) =>
                deltaDerive(r, i, m => viewsNow.get(m))
            }
          } ++ negSeedsFor(rel, m => viewsNow.get(m))
          if (contribs.nonEmpty) {
            val m = Fixpoint.materialize(Fixpoint.antiNullSafe(
              contribs.reduce(_ union _).distinct(), viewsNow(rel)))
            if (m.count > 0) seeds(rel) = m
          }
        }
        if (seeds.isEmpty) { // no rule touches the delta
          scc.filter(_ != name).foreach { rel =>
            memo(rel) = viewsNow(rel); cachePut(rel, viewsNow(rel))
          }
          return Some(cached)
        }
        // the sentinel count only suppresses broadcast hints (cached
        // materialization sizes aren't tracked driver-side)
        val accInit = scc.iterator.map { rel =>
          val df = seeds.get(rel) match {
            case Some(f) => viewsNow(rel).union(f.df)
            case None => viewsNow(rel)
          }
          rel -> Fixpoint.Mat(df, Fixpoint.BroadcastRows + 1)
        }.toMap
        val out = runSccLoop(scc, sccRules, accInit, seeds.toMap)
        scc.filter(_ != name).foreach { rel =>
          val df = out.getOrElse(rel, viewsNow(rel))
          memo(rel) = df; cachePut(rel, df)
        }
        return out.get(name).orElse(Some(cached))
      }

      val seedContribs = Seq.newBuilder[DataFrame]
      if (deltaOf.contains(name)) seedContribs += deltaOf(name).toDF(cols: _*)
      sccRules.foreach { r =>
        r.body.zipWithIndex.foreach {
          // deltaOf membership, not changedRels — see the SCC seed loop
          case (Pos(a), i) if deltaOf.contains(a.rel) =>
            seedContribs += deltaDerive(r, i, m => viewsNow.get(m))
          case _ => ()
        }
      }
      seedContribs ++= negSeedsFor(name, m => viewsNow.get(m))
      val contribs = seedContribs.result()
      if (contribs.isEmpty) { // no rule touches the delta
        exactFromV0.foreach(v0 => recordNamedDelta(name, v0, Nil, Nil))
        return Some(cached)
      }
      val recRules = sccRules.filter(_.body.exists {
        case Pos(a) => a.rel == name
        case _ => false
      })
      // A rule with TWO occurrences of `name` joins delta against the
      // accumulator, so the accumulator needs fresh exprIds (a Mat); with
      // single occurrences the accumulator is only the anti-join's right
      // side, where antiNullSafe's string-qualified aliases are already
      // self-join-safe — keep it a LAZY union of materialized parts and
      // skip one checkpoint job per iteration (the q53 overhead floor).
      val multiOcc = recRules.exists(r =>
        r.body.count { case Pos(a) => a.rel == name; case _ => false } > 1)
      // no broadcast hint on the seed anti-join: its build side is the
      // CACHED materialization whose size we don't track driver-side — a
      // small delta must not force a broadcast of a million-pair closure
      var delta = Fixpoint.materialize(
        Fixpoint.antiNullSafe(contribs.reduce(_ union _).distinct(), cached))
      var parts = List(cached, delta.df)
      // every Mat this continuation creates; which survive depends on the
      // return path below (the rest are unpersisted, not left to the
      // ContextCleaner)
      var owned = List(delta)
      def accDf: DataFrame = parts.reduce(_ union _)
      var accMat: Fixpoint.Mat = if (multiOcc) Fixpoint.materialize(accDf) else null
      def accFrame: DataFrame = if (multiOcc) accMat.df else accDf
      if (isRecursive) Fixpoint.withLoopConf(catalog.spark) {
        var iter = 0
        while (delta.count > 0 && iter < 10000) {
          graft.QueryGuard.checkCancelled()
          iter += 1
          Fixpoint.sizeShuffle(catalog.spark, delta.count)
          val stepContribs = recRules.flatMap { r =>
            val recIdx = r.body.zipWithIndex.collect {
              case (Pos(a), i) if a.rel == name => i
            }
            recIdx.map { dIdx =>
              val resolver = RuleCompiler.bindOccurrence(r, dIdx, delta.df,
                (nm, ar) => if (nm == name) accFrame else resolve(nm, ar))
              deriveRule(r, resolver).toDF(cols: _*)
            }
          }
          val next = Fixpoint.materialize(Fixpoint.antiNullSafe(
            stepContribs.reduce(_ union _).distinct(), accFrame))
          owned ::= next
          if (next.count > 0) {
            parts = parts :+ next.df
            if (multiOcc) {
              val old = accMat
              accMat = Fixpoint.materialize(accMat.df.union(next.df))
              old.unpersist() // copied into the new accumulator
            }
          }
          delta = next
        }
      }
      // NAME the exact continuation delta for stacked-view consumers:
      // every delta part was anti-joined against the accumulator when it
      // was built, so their union IS new ∖ old exactly (and old ∖ new is
      // empty — inserts are monotone). Only when the round started from
      // the v0 snapshot (pure-insert rounds; a mixed batch enters here
      // from the DRed mid views, whose old→mid half this phase can't
      // see) and a consumer asked. Bounded collects over materialized
      // checkpoints — scans, no recomputation.
      for (v0 <- exactFromV0 if namedDeltaWanted(name)) {
        val insRows = Seq.newBuilder[org.apache.spark.sql.Row]
        var left = 4096L
        var ok = true
        parts.drop(1).foreach { p =>
          if (ok) Fixpoint.collectUpTo(p, left) match {
            case Some(rs) => insRows ++= rs; left -= rs.length
            case None => ok = false
          }
        }
        if (ok) recordNamedDelta(name, v0, insRows.result(), Nil)
      }
      // compact deep part lists so repeated maintenance rounds don't nest
      // union plans without bound (the cached frame is the next round's
      // `cached`)
      if (multiOcc) {
        // the returned frame is accMat alone — every delta Mat is dead
        owned.foreach(_.unpersist())
        Some(accFrame)
      } else if (parts.size > 4) {
        val out = Fixpoint.materialize(accDf)
        owned.foreach(_.unpersist()) // copied into the compacted frame
        Some(out.df)
      } else {
        // accDf references the delta frames in `parts`; only Mats that
        // never entered parts (empty terminal delta) are dead
        owned.filterNot(m => parts.exists(_ eq m.df)).foreach(_.unpersist())
        Some(accDf)
      }
    }

    /** Driver-local DRed (see the call site in [[tryMaintain]]): each
      * phase becomes a synthetic pure-positional Datalog program
      * evaluated in-process by [[LocalEval]].
      *
      * Phase 1 (over-delete): seed rules bind one changed-rel occurrence
      * to `__dr_rm_c` (the removed tuples) with every other frame at the
      * OLD state (`__dr_old_c` = current ∪ removed, `__dr_ca_m` = cached
      * view); cascade rules bind one view occurrence to the del relation
      * itself, making the over-delete cone one recursive fixpoint.
      *
      * Phase 2 (re-derive): each original rule, guarded by its head
      * pushed into the body as a `__dr_del_m` atom, re-derives at the
      * NEW state with view occurrences at `__dr_v2_m` = kept ∪ survivors
      * (`__dr_kp_m` base + `__dr_sv_m` recursive) — the survivor
      * fixpoint, mutual recursion included.
      *
      * `curOf` resolves a changed rel's POST-DELETE state: for a pure
      * delete batch that is the current state; for a mixed batch the
      * caller passes the mid-state (current ∖ insert-delta), so the
      * delete phase never sees rows the later insert phase owns.
      *
      * Returns every member's maintained frame (the caller caches) or
      * None to fall back to the distributed phases. */
    private def localDRed(scc: Set[String], sccRules: Seq[Rule],
        sccCached: Map[String, DataFrame], changedRels: Set[String],
        removedOf: Map[String, DataFrame], deltaOf: Map[String, DataFrame],
        negChanged: Set[String],
        curOf: (String, Int) => DataFrame): Option[Map[String, DataFrame]] = {
      if (limits.tier == Tier.Distributed) return None
      import org.apache.spark.sql.Row
      import scala.collection.immutable.ArraySeq
      val members = scc.toSeq
      def dn(m: String) = "__dr_del_" + m
      def can(m: String) = "__dr_ca_" + m
      def rmn(c: String) = "__dr_rm_" + c
      def insn(c: String) = "__dr_in_" + c
      def oldn(c: String) = "__dr_old_" + c
      def killn(c: String) = "__dr_kl_" + c
      def kpn(m: String) = "__dr_kp_" + m
      def svn(m: String) = "__dr_sv_" + m
      def v2n(m: String) = "__dr_v2_" + m
      // every relation the batch changed OR whose injected derived diff
      // drives a sign-flip — each gets old/mid/kill-state stores below
      val changedish = changedRels ++
        negChanged.filter(n => deltaOf.contains(n) || removedOf.contains(n))
      val negKillRels = negChanged.filter(deltaOf.contains)

      // synthetic programs FIRST: shape-gate before paying any collect.
      // Negated atoms of changed rels point at the OLD store too — a
      // kill blocked by a sibling's post-change contents would be
      // silently missed (the distributed overDerive routes them through
      // oldFrame for the same reason).
      def mapOld(e: BodyElem): BodyElem = e match {
        case Pos(a) if scc(a.rel) => Pos(a.copy(rel = can(a.rel)))
        case Pos(a) if changedish(a.rel) => Pos(a.copy(rel = oldn(a.rel)))
        case Neg(a) if changedish(a.rel) => Neg(a.copy(rel = oldn(a.rel)))
        case other => other
      }
      val seedRules = sccRules.flatMap { r =>
        r.body.zipWithIndex.collect {
          case (Pos(a), i) if changedish(a.rel) =>
            r.copy(head = Atom(dn(r.head.rel), r.head.args),
              body = r.body.zipWithIndex.map {
                case (Pos(b), `i`) => Pos(b.copy(rel = rmn(b.rel)))
                case (e, _) => mapOld(e)
              })
          // SIGN-FLIPPED kill driver: derivations that relied on ¬n(t)
          // for a tuple t inserted into the negated rel — the occurrence
          // flips positive and binds the insert delta, siblings at the
          // old state (the local twin of overDeriveNegFlip)
          case (Neg(a), i) if negKillRels(a.rel) =>
            r.copy(head = Atom(dn(r.head.rel), r.head.args),
              body = r.body.zipWithIndex.map {
                case (Neg(b), `i`) => Pos(b.copy(rel = insn(b.rel)))
                case (e, _) => mapOld(e)
              })
        }
      }
      if (seedRules.isEmpty) return None
      val cascadeRules = sccRules.flatMap { r =>
        r.body.zipWithIndex.collect {
          case (Pos(a), j) if scc(a.rel) =>
            r.copy(head = Atom(dn(r.head.rel), r.head.args),
              body = r.body.zipWithIndex.map {
                case (Pos(b), `j`) => Pos(b.copy(rel = dn(b.rel)))
                case (e, _) => mapOld(e)
              })
        }
      }
      val delScc = members.map(dn).toSet
      if (!seedRules.forall(LocalEval.baseRuleOk(delScc, _))) return None
      if (cascadeRules.nonEmpty && !LocalEval.shapeOk(delScc, cascadeRules)) return None

      val sccVars = members.map(m => m ->
        (0 until sccCached(m).columns.length).map(i => Var(s"__dx$i"))).toMap
      val v2Base = members.map(m =>
        Rule(Atom(v2n(m), sccVars(m)), Seq(Pos(Atom(kpn(m), sccVars(m))))))
      val v2Rec = members.map(m =>
        Rule(Atom(v2n(m), sccVars(m)), Seq(Pos(Atom(svn(m), sccVars(m))))))
      val svAll = sccRules.map { r =>
        r.copy(head = Atom(svn(r.head.rel), r.head.args),
          body = Pos(Atom(dn(r.head.rel), r.head.args)) +: r.body.map {
            case Pos(a) if scc(a.rel) => Pos(a.copy(rel = v2n(a.rel)))
            // negated changed rels re-derive against the KILL state
            // (inserts applied — a kill must stick — removals restored:
            // their creations belong to the insert phase)
            case Neg(a) if changedish(a.rel) => Neg(a.copy(rel = killn(a.rel)))
            case other => other // positive changed rels re-derive at mid
          })
      }
      val scc2: Set[String] = members.flatMap(m => Seq(svn(m), v2n(m))).toSet
      val (svRec, svBase) = svAll.partition(_.body.exists {
        case Pos(a) => scc2(a.rel); case _ => false
      })
      if (!(v2Base ++ svBase).forall(LocalEval.baseRuleOk(scc2, _))) return None
      if (!LocalEval.shapeOk(scc2, v2Rec ++ svRec)) return None

      object LB extends scala.util.control.ControlThrowable
      def need[A](o: Option[A]): A = o.getOrElse(throw LB)
      try {
        val arities = mutable.HashMap.empty[String, Int]
        val stores = mutable.HashMap.empty[String, Array[Row]]
        members.foreach { m =>
          val ar = sccCached(m).columns.length
          Seq(dn(m), can(m), kpn(m), svn(m), v2n(m)).foreach(arities(_) = ar)
          stores(can(m)) = need(Fixpoint.collectUpTo(sccCached(m), 1000000L))
        }
        // changed-rel arities come from their body occurrences (an
        // insert-only rel has no removedOf entry to read one from);
        // unreferenced changed rels can't affect this SCC — skip them
        val changedArity = sccRules.flatMap(_.body.collect {
          case Pos(a) if changedish(a.rel) => (a.rel, a.args.length)
          case Neg(a) if changedish(a.rel) => (a.rel, a.args.length)
        }).toMap
        changedArity.foreach { case (c, ar) =>
          Seq(rmn(c), insn(c), oldn(c), killn(c), c).foreach(arities(_) = ar)
          val rm = removedOf.get(c) match {
            case Some(df) => need(Fixpoint.collectUpTo(df, Fixpoint.LocalEdgeRows))
            case None => Array.empty[Row]
          }
          val dl = deltaOf.get(c) match {
            case Some(df) => need(Fixpoint.collectUpTo(df, Fixpoint.LocalEdgeRows))
            case None => Array.empty[Row]
          }
          // cur = the MID state (current with the batch's inserts backed
          // out) — old = mid ∪ removals EXACTLY; kill state = current
          // (mid ∪ inserts) ∪ removals, matching the distributed
          // killFrame without another resolve
          val cur = need(Fixpoint.collectUpTo(curOf(c, ar), Fixpoint.LocalEdgeRows))
          stores(rmn(c)) = rm; stores(insn(c)) = dl
          stores(oldn(c)) = cur ++ rm; stores(killn(c)) = cur ++ dl ++ rm
          stores(c) = cur
        }
        sccRules.flatMap(_.body.collect {
          case Pos(a) if !scc(a.rel) && !changedish(a.rel) => (a.rel, a.args.length)
          case Neg(a) if !scc(a.rel) && !changedish(a.rel) => (a.rel, a.args.length)
        }).distinct.foreach { case (b, ar) =>
          arities(b) = ar
          stores(b) = need(collectMemoized(resolve(b, ar), Fixpoint.LocalEdgeRows))
        }

        val out1 = mutable.HashMap.empty[String, Array[Row]]
        need(LocalEval.run(catalog.spark, delScc, cascadeRules, arities.toMap,
          Map.empty, stores.toMap, seedRules, out1))
        val delRows = members.map(m => m -> out1.getOrElse(dn(m), Array.empty[Row])).toMap
        // nothing over-deleted: every cached view stays valid as-is
        if (delRows.values.forall(_.isEmpty)) return Some(sccCached)

        // kept = cached \ del, keyed with LocalEval-compatible
        // normalization (Int/Short/Byte widened — mirroring
        // LocalEval.norm exactly, or del rows normalized to Long would
        // never match raw narrow-typed cached rows and deleted tuples
        // would silently survive)
        def keyf(row: Row, n: Int): ArraySeq[Any] = ArraySeq.unsafeWrapArray(
          Array.tabulate[Any](n) { i =>
            row.get(i) match {
              case x: Int => x.toLong
              case x: Short => x.toLong
              case x: Byte => x.toLong
              case _: Float => throw LB
              case v => SparkValues.key(v)
            }
          })
        val keptRows = members.map { m =>
          val n = sccCached(m).columns.length
          val del = delRows(m).iterator.map(keyf(_, n)).toSet
          m -> stores(can(m)).filter(r => !del(keyf(r, n)))
        }.toMap

        members.foreach { m =>
          stores(dn(m)) = delRows(m)
          stores(kpn(m)) = keptRows(m)
        }
        val out2 = mutable.HashMap.empty[String, Array[Row]]
        need(LocalEval.run(catalog.spark, scc2, v2Rec ++ svRec, arities.toMap,
          Map.empty, stores.toMap, v2Base ++ svBase, out2))

        val result = members.map { m =>
          val schema = org.apache.spark.sql.types.StructType(
            sccCached(m).schema.fields.map(_.copy(nullable = true)))
          def re(row: Row): Row = Row.fromSeq(
            schema.fields.indices.map(i => coerce(row.get(i), schema.fields(i).dataType)))
          // kept and survivors are disjoint (survivors ⊆ del = cached \ kept)
          val rows = (keptRows(m).iterator.map(re) ++
            out2.getOrElse(svn(m), Array.empty[Row]).iterator.map(re)).toIndexedSeq
          m -> catalog.spark.createDataFrame(
            catalog.spark.sparkContext.parallelize(rows,
              Fixpoint.parallelizeParts(rows.length.toLong)), schema)
        }.toMap
        Some(result)
      } catch { case LB => None }
    }

    /** Zero-row frame with `arity` untyped columns (empty placeholders,
      * never-derived recursive relations). */
    private def emptyFrame(arity: Int): DataFrame = {
      val schema = org.apache.spark.sql.types.StructType((0 until arity).map(i =>
        org.apache.spark.sql.types.StructField(s"c$i",
          org.apache.spark.sql.types.NullType, nullable = true)))
      catalog.spark.createDataFrame(
        catalog.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

    /** Evaluate the whole SCC containing `name` (plus, transitively, the
      * lower strata it depends on via `resolve`). */
    private def evalComponent(name: String): Unit = {
      val scc = Stratifier.sccOf(rules).getOrElse(name, Set(name))
      val sccRules = rules.filter(r => scc(r.head.rel))
      // negation inside the SCC is unstratifiable (reference safety check,
      // `src/lib.rs:615-619`, `src/recursion.rs`)
      sccRules.foreach(r => r.body.foreach {
        case Neg(a) if scc(a.rel) => throw new IllegalArgumentException(
          s"unstratifiable: negation of ${a.rel} inside its own recursive component")
        case _ => ()
      })
      val isRecursive = scc.size > 1 || sccRules.exists(_.body.exists {
        case Pos(a) => scc(a.rel)
        case _ => false
      })
      scc.foreach(inProgress += _)
      try {
        if (!isRecursive) scc.foreach { rel =>
          memo(rel) = oneShot(rel, byHead.getOrElse(rel, Seq.empty))
        } else tcFastPath(scc, sccRules) match {
          case Some((rel, df)) => memo(rel) = df
          case None => evalRecursiveScc(scc, sccRules)
        }
      } finally scc.foreach(inProgress -= _)
    }

    /** Matches the 2-rule linear-TC shape `r(X,Y) <- e(X,Y);
      * r(X,Z) <- r(X,Y), e(Y,Z)` (or left-linear) and returns the edge
      * relation name. Shared by the fast path and local maintenance. */
    private def tcEdgeRel(rel: String, rs: Seq[Rule]): Option[String] = {
      if (rs.size != 2) return None
      val (recRules, baseRules) = rs.partition(_.body.exists {
        case Pos(a) => a.rel == rel
        case _ => false
      })
      (baseRules, recRules) match {
        case (Seq(Rule(Atom(_, Seq(bx: Var, by: Var)), Seq(Pos(Atom(e1, Seq(ex: Var, ey: Var)))), _)),
              Seq(Rule(Atom(_, Seq(hx: Var, hz: Var)), body, _)))
          if bx == ex && by == ey && bx != by =>
          val linear = body match {
            case Seq(Pos(Atom(`rel`, Seq(rx: Var, ry: Var))), Pos(Atom(`e1`, Seq(sx: Var, sz: Var))))
              if rx == hx && ry == sx && sz == hz && Set(rx, ry, sz).size == 3 => true
            case Seq(Pos(Atom(`e1`, Seq(sx: Var, sy: Var))), Pos(Atom(`rel`, Seq(rx: Var, rz: Var))))
              if sx == hx && sy == rx && rz == hz && Set(sx, sy, rz).size == 3 => true
            case _ => false
          }
          if (linear && e1 != rel) Some(e1) else None
        case _ => None
      }
    }

    /** Specialized transitive-closure fast path (reference
      * `src/code_generator/mod.rs:424-1002`): detects
      *   r(X,Y) <- e(X,Y);  r(X,Z) <- r(X,Y), e(Y,Z)   (or left-linear)
      * over a non-recursive edge relation and routes to [[Fixpoint]]'s
      * dedicated closure (driver-local BFS for small graphs, distributed
      * semi-naive loop at scale). A position-0 demand constant becomes a
      * seeded [[Fixpoint.boundReachability]] — the bound-TC fast path. */
    private def tcFastPath(scc: Set[String], sccRules: Seq[Rule]): Option[(String, DataFrame)] = {
      if (scc.size != 1) return None
      val rel = scc.head
      if (baseOf(rel).isDefined) return None // EDB facts mixed in
      tcEdgeRel(rel, sccRules) match {
        case Some(e1) =>
          val e = resolve(e1, 2)
          if (e.columns.length != 2) return None
          val closed = demand.get(rel) match {
            case Some((0, v)) =>
              val seedSchema = org.apache.spark.sql.types.StructType(
                Seq(e.schema.fields(0).copy(name = "src")))
              val seedVal = coerce(v, e.schema.fields(0).dataType)
              val seeds = catalog.spark.createDataFrame(
                java.util.Arrays.asList(org.apache.spark.sql.Row(seedVal)), seedSchema)
              Fixpoint.boundReachability(e, seeds)
            case _ => Fixpoint.transitiveClosure(e)
          }
          Some(rel -> closed.toDF("c0", "c1"))
        case _ => None
      }
    }

    private def coerce(v: Any, dt: org.apache.spark.sql.types.DataType): Any = {
      import org.apache.spark.sql.types._
      (v, dt) match {
        case (x: Long, IntegerType) => x.toInt
        case (x: Long, DoubleType) => x.toDouble
        case (x: Int, LongType) => x.toLong
        case _ => v
      }
    }

    /** Union of a relation's rule derivations (set semantics — reference
      * defaults to Distinct at stratum outputs, Boolean semiring
      * `src/boolean_specialization/mod.rs`), plus its base facts when the
      * name also exists as an EDB relation. */
    private def oneShot(rel: String, rs: Seq[Rule]): DataFrame = {
      val derived = rs.map(r => deriveRule(r))
      val all = baseOf(rel) match {
        case Some(base) => base +: derived.map(_.toDF(base.columns: _*))
        case None => derived
      }
      val arities = all.map(_.columns.length).distinct
      require(arities.size == 1, s"$rel derived with inconsistent arities $arities")
      val n = all.head.columns.length
      val named = all.map(df => df.toDF((0 until n).map(i => s"c$i"): _*))
      val unioned = named.reduce(_ union _)
      // set semantics at stratum outputs — including aggregate heads
      // (multi-clause agg rules union then dedup, reference corpus
      // 14_aggregations/156); ranking heads keep their per-group rows
      (if (rs.exists(_.head.args.exists(_.isInstanceOf[Rank]))) unioned
       else unioned.distinct())
    }

    /** One rule → positional frame (c0..cn), demand filter applied.
      * A [[Rank]] head term expands to (outs ++ order) columns.
      * `restrict` filters the compiled BODY before any head projection
      * or aggregation — affected-group maintenance uses it to semi-join
      * the body down to the groups it must recompute. */
    private def deriveRule(r: Rule, resolver: RuleCompiler.Resolver = resolve,
                           restrict: DataFrame => DataFrame = identity): DataFrame = {
      // custom resolvers (delta rules, fixpoint steps) bind different
      // frames per call — only default-resolver derivations share bodies
      val bodyDf = restrict(
        if (resolver eq resolve) bodyFrame(r.body)
        else RuleCompiler.compileBody(r.body, resolver, hnswFrame, catalog.statRows))
      r.head.args.collect { case rk: Rank => rk } match {
        case Seq(rank) => return deriveRankRule(r, rank, bodyDf)
        case Seq() => ()
        case many => throw new IllegalArgumentException(
          s"at most one ranking aggregate per head, got ${many.size}")
      }
      val aggs = r.head.args.collect { case a: Agg => a }
      val out =
        if (aggs.isEmpty) {
          bodyDf.select(r.head.args.zipWithIndex.map {
            case (t, i) => RuleCompiler.term(t, bodyDf).as(s"c$i")
          }: _*)
        } else {
          // group by the non-aggregate head terms (reference
          // `src/code_generator/mod.rs:2414-2723`)
          val groups = r.head.args.zipWithIndex.collect {
            case (t, i) if !t.isInstanceOf[Agg] => RuleCompiler.term(t, bodyDf).as(s"c$i")
          }
          val aggCols = r.head.args.zipWithIndex.collect {
            case (Agg(f, arg), i) => aggFunc(f, arg, bodyDf).as(s"c$i")
          }
          val grouped = if (groups.isEmpty) bodyDf.groupBy()
                        else bodyDf.groupBy(groups: _*)
          val agged = grouped.agg(aggCols.head, aggCols.tail: _*)
            .select(r.head.args.indices.map(i => col(s"c$i")): _*)
          // Datalog semantics: a global aggregate over an EMPTY body has
          // no derivations (SQL would emit one null/zero row)
          if (groups.isEmpty)
            agged.crossJoin(bodyDf.limit(1).select(lit(1).as("__ne"))).drop("__ne")
          else agged
        }
      demand.get(r.head.rel) match {
        case Some((i, v)) => out.filter(col(s"c$i") === lit(v))
        case None => out
      }
    }

    /** Ranking aggregates (reference `src/code_generator/mod.rs:2462-2560`
      * heap-based top-k) → [[topKRows]]: keyed window when grouped,
      * TakeOrderedAndProject when ungrouped — the same per-partition-heap
      * algorithmic shape, distributed. */
    private def deriveRankRule(r: Rule, rank: Rank, bodyDf: DataFrame): DataFrame = {
      val groupTerms = r.head.args.filterNot(_.isInstanceOf[Rank])
      val groupCols = groupTerms.map(t => RuleCompiler.term(t, bodyDf))
      val ord = if (rank.desc) col(rank.orderVar.name).desc else col(rank.orderVar.name).asc
      // deterministic tiebreak on the output vars
      val tiebreak = rank.outs.map(o => col(o.name).asc)
      val filtered = rank.func match {
        case "top_k" =>
          topKRows(bodyDf, groupCols, ord +: tiebreak, rank.params(0).toLong)
        case "top_k_threshold" =>
          val thresholdOk = if (rank.desc) col(rank.orderVar.name) >= lit(rank.params(1))
                            else col(rank.orderVar.name) <= lit(rank.params(1))
          topKRows(bodyDf.filter(thresholdOk), groupCols, ord +: tiebreak, rank.params(0).toLong)
        case "within_radius" =>
          bodyDf.filter(col(rank.orderVar.name) <= lit(rank.params(0)))
        case other => throw new IllegalArgumentException(s"unknown ranking aggregate $other")
      }
      // output: head terms in order, the Rank term expanding to outs ++ order
      val cols = Seq.newBuilder[Column]
      var i = 0
      r.head.args.foreach {
        case _: Rank =>
          rank.outs.foreach { o => cols += col(o.name).as(s"c$i"); i += 1 }
          cols += col(rank.orderVar.name).as(s"c$i"); i += 1
        case t =>
          cols += RuleCompiler.term(t, filtered).as(s"c$i"); i += 1
      }
      filtered.select(cols.result(): _*)
    }

    private def aggFunc(f: String, arg: Term, frame: DataFrame): Column = f match {
      case "count" => count(lit(1))
      case "count_distinct" => countDistinct(RuleCompiler.term(arg, frame))
      case "sum" =>
        // reference coercion: sum over non-numeric values yields 0
        // (`src/value/mod.rs:353-379`); a dynamically-typed column sums
        // each value's to_i64 (`src/code_generator/mod.rs:2660-2669`)
        val c = RuleCompiler.term(arg, frame)
        val dt = try Some(frame.select(c).schema.head.dataType)
          catch { case _: Throwable => None }
        if (dt.exists(AnyValue.isAny)) sum(AnyValue.asLong(c))
        else if (dt.forall(_.isInstanceOf[org.apache.spark.sql.types.NumericType])) sum(c)
        else coalesce(sum(lit(0L)), lit(0L))
      case "min" => min(RuleCompiler.term(arg, frame))
      case "max" => max(RuleCompiler.term(arg, frame))
      case "avg" =>
        // dynamic column: avg of to_f64 (`src/code_generator/mod.rs:2689-2701`)
        val c = RuleCompiler.term(arg, frame)
        val isAny = try AnyValue.isAny(frame.select(c).schema.head.dataType)
          catch { case _: Throwable => false }
        if (isAny) avg(AnyValue.asDouble(c)) else avg(c)
      case _ => throw new IllegalArgumentException(s"unknown aggregate $f")
    }

    /** Driver-local fast path for small pure-positional recursive SCCs
      * (see [[LocalEval]]): derive the base parts normally, collect them
      * (bounded) together with the non-SCC body relations, solve the
      * fixpoint in-memory, parallelize the results back. Returns None —
      * and the distributed loop runs — whenever the rule shapes, input
      * sizes, value types, or a demand restriction rule it out. */
    private def localSccFastPath(scc: Set[String],
        sccRules: Seq[Rule]): Option[Map[String, DataFrame]] = {
      if (limits.tier == Tier.Distributed || demand.nonEmpty) return None
      val recRules = sccRules.filter(_.body.exists {
        case Pos(a) => scc(a.rel)
        case _ => false
      })
      if (!LocalEval.shapeOk(scc, recRules)) return None
      if (sccRules.exists(_.head.args.exists(_.isInstanceOf[Rank]))) return None
      val arities = mutable.HashMap.empty[String, Int]
      scc.foreach(rel => arities(rel) = byHead(rel).head.head.args.length)
      // collected non-SCC relations referenced by recursive- or local
      // base-rule bodies (positive scans and stratified-negation checks
      // alike). Relations this evaluator itself solved locally serve
      // their rows from localRowMemo — no parallelize→collect round trip
      // between SCCs (the magic-sets seed/adorned split hits this).
      val nonScc = mutable.HashMap.empty[String, Array[org.apache.spark.sql.Row]]
      def collectRel(a: Ast.Atom): Option[Unit] = {
        val df = resolve(a.rel, a.args.length)
        arities(a.rel) = df.columns.length
        (localRowMemo.get(a.rel) match {
          case some @ Some(_) => some
          case None => Fixpoint.collectUpTo(df, Fixpoint.LocalEdgeRows)
        }) match {
          case Some(rows) => nonScc(a.rel) = rows; Some(())
          case None => None
        }
      }
      // base rows per SCC relation: EDB/overlay facts + non-recursive
      // rules. Rules within LocalEval's shape whose body relations all
      // fit on the driver are evaluated IN-PROCESS (no distributed
      // derive + collect per rule); the rest derive distributed.
      val baseRows = mutable.HashMap.empty[String, Array[org.apache.spark.sql.Row]]
      val localBase = Seq.newBuilder[Rule]
      scc.foreach { rel =>
        val baseRules = byHead.getOrElse(rel, Seq.empty)
          .filterNot(_.body.exists { case Pos(a) => scc(a.rel); case _ => false })
        val (candLocal, dist0) = baseRules.partition(LocalEval.baseRuleOk(scc, _))
        val dist = mutable.ArrayBuffer.from(dist0)
        candLocal.foreach { r =>
          val bodyAtoms = r.body.collect { case Pos(a) => a; case Neg(a) => a }
          val ok = r.head.args.length == arities(rel) &&
            bodyAtoms.forall(a => nonScc.contains(a.rel) || collectRel(a).isDefined)
          if (ok) localBase += r else dist += r
        }
        val parts = baseOf(rel).map(b =>
          b.toDF(b.columns.indices.map(i => s"c$i"): _*)).toSeq ++
          dist.map(deriveRule(_))
        if (parts.nonEmpty) {
          if (parts.exists(_.columns.length != arities(rel))) return None
          Fixpoint.collectUpTo(parts.reduce(_ union _).distinct(),
              Fixpoint.LocalEdgeRows) match {
            case Some(rows) => baseRows(rel) = rows
            case None => return None // too big for the driver
          }
        }
      }
      recRules.flatMap(_.body).foreach {
        case Pos(a) if !scc(a.rel) && !nonScc.contains(a.rel) =>
          if (collectRel(a).isEmpty) return None
        case Neg(a) if !nonScc.contains(a.rel) =>
          if (collectRel(a).isEmpty) return None
        case _ => ()
      }
      val rowsOut = mutable.HashMap.empty[String, Array[org.apache.spark.sql.Row]]
      val out = LocalEval.run(catalog.spark, scc, recRules, arities.toMap,
        baseRows.toMap, nonScc.toMap, localBase.result(), rowsOut)
      if (out.isDefined) localRowMemo ++= rowsOut
      out
    }

    /** Semi-naive evaluation of one recursive component (handles mutual
      * recursion). min/max aggregate heads route to the value-iteration
      * evaluator; other aggregates inside a recursive SCC are rejected. */
    private def evalRecursiveScc(scc: Set[String], sccRules: Seq[Rule]): Unit = {
      val aggRules = sccRules.filter(_.head.args.exists(_.isInstanceOf[Agg]))
      if (aggRules.nonEmpty) return evalRecursiveAggScc(scc, sccRules, aggRules)
      localSccFastPath(scc, sccRules) match {
        case Some(out) =>
          scc.foreach { rel =>
            memo(rel) = out.getOrElse(rel,
              emptyFrame(byHead(rel).head.head.args.length))
          }
          return
        case None => ()
      }
      // base = non-recursive rules (+ EDB facts under the same name).
      // A relation may legitimately have NO base (mutual recursion seeds
      // it through the cycle) — it simply starts absent/empty; its schema
      // materializes the first time a rule derives tuples for it.
      val seeds = mutable.HashMap.empty[String, Fixpoint.Mat]
      scc.foreach { rel =>
        val baseRules = byHead.getOrElse(rel, Seq.empty)
          .filterNot(_.body.exists { case Pos(a) => scc(a.rel); case _ => false })
        val parts = baseOf(rel).map(b =>
          b.toDF(b.columns.indices.map(i => s"c$i"): _*)).toSeq ++
          baseRules.map(deriveRule(_))
        if (parts.nonEmpty) {
          val m = Fixpoint.materialize(parts.reduce(_ union _).distinct())
          if (m.count > 0) seeds(rel) = m
        }
      }
      val out = runSccLoop(scc, sccRules, seeds.toMap, seeds.toMap)
      scc.foreach { rel =>
        memo(rel) = out.getOrElse(rel,
          emptyFrame(byHead(rel).head.head.args.length)) // never derived
      }
    }

    /** The distributed semi-naive loop over an SCC, from the given
      * starting state. Full evaluation passes acc = delta = base seeds;
      * insert maintenance passes acc = cached ∪ fresh and delta = fresh
      * (the continuation explores only derivations through new tuples).
      * `accInit` entries are (frame, row count); a `Long.MaxValue/2`-style
      * sentinel count is allowed — it only disables the broadcast hint.
      * Returns the final accumulator frame per relation (absent = never
      * derived).
      *
      * Accumulator per relation. Relations that some rule joins against
      * itself TWICE need a fresh-exprId materialized accumulator (the
      * delta ⋈ acc self-join would otherwise see duplicate exprIds);
      * everything else keeps a LAZY union of the materialized deltas —
      * antiNullSafe's string-qualified aliases are self-join-safe (the
      * same shape iterateKeyed uses) and each iteration saves one
      * checkpoint job per relation. */
    private def runSccLoop(scc: Set[String], sccRules: Seq[Rule],
                           accInit: Map[String, Fixpoint.Mat],
                           deltaInit: Map[String, Fixpoint.Mat]): Map[String, DataFrame] = {
      val multiOccRels: Set[String] = scc.filter(rel => sccRules.exists(r =>
        r.body.count { case Pos(a) => a.rel == rel; case _ => false } > 1))
      val accParts = mutable.HashMap.empty[String, List[Fixpoint.Mat]]
      val accCount = mutable.HashMap.empty[String, Long]
      val accMat = mutable.HashMap.empty[String, Fixpoint.Mat] // multiOcc rels only
      // superseded materializations, unpersisted at iteration boundaries
      // once nothing live (delta / accumulator / caller-owned input)
      // still references them — same hygiene as iterateKeyed, deferred
      // because a compacted-away part may still be this iteration's delta
      val callerOwned: List[Fixpoint.Mat] = (accInit.valuesIterator ++
        deltaInit.valuesIterator).toList
      var retired: List[Fixpoint.Mat] = Nil
      def retire(m: Fixpoint.Mat): Unit =
        if (!callerOwned.exists(_ eq m)) retired ::= m
      def accDf(rel: String): Option[DataFrame] =
        if (multiOccRels(rel)) accMat.get(rel).map(_.df)
        else accParts.get(rel).map(_.map(_.df).reduce(_ union _))
      def accCnt(rel: String): Long =
        if (multiOccRels(rel)) accMat.get(rel).map(_.count).getOrElse(0L)
        else accCount.getOrElse(rel, 0L)
      def accAdd(rel: String, m: Fixpoint.Mat): Unit =
        if (multiOccRels(rel)) accMat(rel) = accMat.get(rel) match {
          case Some(a) => val merged = Fixpoint.materialize(a.df.union(m.df))
            retire(a); merged
          case None => m
        } else {
          // compact deep part lists (same policy as iterateKeyed) so the
          // anti-join doesn't scan O(iterations) union stages
          val parts0 = accParts.getOrElse(rel, Nil)
          val parts = if (parts0.size >= 6) {
            val compacted = Fixpoint.materialize(parts0.map(_.df).reduce(_ union _))
            parts0.foreach(retire)
            List(compacted)
          } else parts0
          accParts(rel) = parts :+ m
          accCount(rel) = accCount.getOrElse(rel, 0L) + m.count
        }
      accInit.foreach { case (rel, m) => accAdd(rel, m) }
      var delta = mutable.HashMap.empty[String, Fixpoint.Mat] ++= deltaInit
      val recRules = sccRules.filter(_.body.exists { case Pos(a) => scc(a.rel); case _ => false })
      // loop hygiene shared with Fixpoint: AQE's per-stage re-planning
      // only adds latency on the loop's small known-shape jobs, and the
      // shuffle width tracks the frontier size each iteration
      Fixpoint.withLoopConf(catalog.spark) {
      var iter = 0
      while (delta.nonEmpty && iter < 10000) {
        graft.QueryGuard.checkCancelled()
        iter += 1
        Fixpoint.sizeShuffle(catalog.spark, delta.valuesIterator.map(_.count).sum)
        val nextDelta = mutable.HashMap.empty[String, Fixpoint.Mat]
        scc.foreach { rel =>
          val contributions = recRules.filter(_.head.rel == rel).flatMap { r =>
            // semi-naive: one evaluation per recursive atom occurrence,
            // with THAT occurrence bound to delta and the rest to acc.
            // Occurrences whose delta (or whose siblings' acc) is still
            // absent contribute nothing and are skipped.
            val recBodyIdx = r.body.zipWithIndex.collect {
              case (Pos(a), idx) if scc(a.rel) => idx
            }
            recBodyIdx.flatMap { dIdx =>
              val dRel = r.body(dIdx) match { case Pos(a) => a.rel; case _ => "" }
              val othersOk = recBodyIdx.filter(_ != dIdx).forall { oi =>
                val orel = r.body(oi) match { case Pos(a) => a.rel; case _ => "" }
                accDf(orel).isDefined
              }
              if (!delta.contains(dRel) || !othersOk) None
              else {
                var occ = -1
                val resolver: RuleCompiler.Resolver = (nm, ar) =>
                  if (scc(nm)) {
                    occ += 1
                    val bodyIdx = recBodyIdx(occ)
                    if (bodyIdx == dIdx) delta(nm).df else accDf(nm).get
                  } else resolve(nm, ar)
                Some(deriveRule(r, resolver))
              }
            }
          }
          if (contributions.nonEmpty) {
            val cand = contributions.reduce(_ union _).distinct()
            val next = accDf(rel) match {
              case Some(a) => Fixpoint.materialize(
                // null-safe: a derived null tuple (x/0 → null) must match
                // the accumulator or the delta never drains
                Fixpoint.antiNullSafe(cand, a,
                  hintBroadcast = accCnt(rel) <= Fixpoint.BroadcastRows))
              case None => Fixpoint.materialize(cand)
            }
            if (next.count > 0) {
              accAdd(rel, next)
              nextDelta(rel) = next
            } else retire(next) // empty: never enters delta or acc
          }
        }
        delta.valuesIterator.foreach(retire) // consumed this iteration
        delta = nextDelta
        // free retirees nothing live references anymore (a retired part
        // can still be the delta just installed, or still sit in accParts
        // until a later compaction)
        val live = (delta.valuesIterator ++ accMat.valuesIterator ++
          accParts.valuesIterator.flatten).toList
        val (dead, keep) = retired.partition(m => !live.exists(_ eq m))
        dead.foreach(_.unpersist())
        retired = keep
      }
      } // withLoopConf
      scc.iterator.flatMap(rel => accDf(rel).map(rel -> _)).toMap
    }

    /** Recursive rules with a min/max aggregate head — the semantics the
      * reference's MinDiff/MaxDiff semiring types are built for
      * (shortest/widest path; `src/semiring_types.rs:175-300` documents
      * the intent without wiring it into execution). Realized as VALUE
      * ITERATION: every clause contributes candidate (keys, value) rows,
      * the relation's state is the per-key min/max, and each iteration
      * feeds back only rows whose value IMPROVED — semi-naive over the
      * min-semiring. A cyclic graph converges (a candidate through the
      * cycle is never better than the existing label) where plain
      * recursion with `D+1` would diverge. */
    private def evalRecursiveAggScc(scc: Set[String], sccRules: Seq[Rule],
                                    aggRules: Seq[Rule]): Unit = {
      require(scc.size == 1,
        s"recursive aggregation over mutually recursive relations is not supported ($scc)")
      val rel = scc.head
      val specs = aggRules.map { r =>
        val idxs = r.head.args.zipWithIndex.collect { case (Agg(f, _), i) => (f, i) }
        require(idxs.size == 1,
          s"recursive aggregation supports exactly one aggregate per head ($rel)")
        idxs.head
      }
      require(specs.distinct.size == 1,
        s"recursive aggregate clauses of $rel must agree on function and position")
      val (func, aggIdx) = specs.head
      require(func == "min" || func == "max",
        s"only min/max aggregates can appear in recursive rules, got $func ($rel)")
      val arity = sccRules.head.head.args.length
      // strip the Agg wrapper: under per-key min/max reduction a `min<t>`
      // head derives the same fixpoint as a plain `t` head
      val rules = sccRules.map(r => r.copy(head = r.head.copy(args = r.head.args.map {
        case Agg(_, t) => t
        case t => t
      })))
      val cols = (0 until arity).map(i => s"c$i")
      val keys = cols.indices.filterNot(_ == aggIdx).map(cols)
      def reduce(df: DataFrame): DataFrame = {
        val f = if (func == "min") min(col(cols(aggIdx))) else max(col(cols(aggIdx)))
        val g = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.map(col): _*)
        g.agg(f.as(cols(aggIdx))).select(cols.map(col): _*)
      }
      val recRules = rules.filter(_.body.exists {
        case Pos(a) => a.rel == rel
        case _ => false
      })
      val baseRules = rules.filterNot(recRules.contains)
      val parts = baseOf(rel).map(b => b.toDF(cols: _*)).toSeq ++
        baseRules.map(deriveRule(_).toDF(cols: _*))
      if (parts.isEmpty) { memo(rel) = emptyFrame(arity); return }
      val acc = Fixpoint.materialize(reduce(parts.reduce(_ union _)))
      localAggFastPath(rel, recRules, acc, func, aggIdx).foreach { df =>
        memo(rel) = df
        return
      }
      memo(rel) = runAggLoop(rel, recRules, cols, func, aggIdx, acc, acc)
    }

    /** The distributed value-iteration loop for recursive min/max
      * aggregates, from the given starting state. Full evaluation passes
      * acc = delta = the reduced base candidates; insert maintenance
      * passes acc = cached merged with improved seeds and delta = just
      * the improvements (cached labels stay admissible under inserts —
      * value iteration converges from any achievable over-approximation).
      * `recRules` must already be Agg-stripped. */
    private def runAggLoop(rel: String, recRules: Seq[Rule], cols: Seq[String],
        func: String, aggIdx: Int,
        acc0: Fixpoint.Mat, delta0: Fixpoint.Mat): DataFrame = {
      val keys = cols.indices.filterNot(_ == aggIdx).map(cols)
      def reduce(df: DataFrame): DataFrame = {
        val f = if (func == "min") min(col(cols(aggIdx))) else max(col(cols(aggIdx)))
        val g = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.map(col): _*)
        g.agg(f.as(cols(aggIdx))).select(cols.map(col): _*)
      }
      var acc = acc0
      var delta = delta0
      // superseded loop materializations are unpersisted immediately —
      // but never the caller-owned inputs (they may be cached upstream)
      def drop(m: Fixpoint.Mat): Unit =
        if ((m ne acc0) && (m ne delta0)) m.unpersist()
      val better: (Column, Column) => Column =
        if (func == "min") (n, o) => n < o else (n, o) => n > o
      Fixpoint.withLoopConf(catalog.spark) {
      var iter = 0
      while (delta.count > 0 && iter < 10000) {
        graft.QueryGuard.checkCancelled()
        iter += 1
        Fixpoint.sizeShuffle(catalog.spark, delta.count)
        val contribs = recRules.flatMap { r =>
          val recIdx = r.body.zipWithIndex.collect {
            case (Pos(a), i) if a.rel == rel => i
          }
          // one evaluation per recursive occurrence: that occurrence sees
          // the delta, siblings see the full accumulator (acc already
          // absorbed delta, so delta×delta combinations are covered)
          recIdx.map { dIdx =>
            val resolver = RuleCompiler.bindOccurrence(r, dIdx, delta.df,
              (nm, ar) => if (nm == rel) acc.df else resolve(nm, ar))
            deriveRule(r, resolver).toDF(cols: _*)
          }
        }
        if (contribs.isEmpty) return acc.df
        // materialize before the join-vs-acc: cand embeds acc's exprIds
        // when a rule has several recursive occurrences
        val cand = Fixpoint.materialize(reduce(contribs.reduce(_ union _)))
        val keyCond = keys.map(k => col(s"__n.$k") <=> col(s"__o.$k"))
          .reduceOption(_ && _).getOrElse(lit(true))
        val vN = col(s"__n.${cols(aggIdx)}")
        val vO = col(s"__o.${cols(aggIdx)}")
        val improved = cand.df.alias("__n")
          .join(acc.df.alias("__o"), keyCond, "left_outer")
          // null-valued candidates never count as improvements — a null
          // vO would otherwise re-admit the same (key, null) row every
          // iteration and the delta never drains
          .where((vO.isNull && vN.isNotNull) || better(vN, vO))
          .select(cols.map(c => col(s"__n.$c")): _*)
        val newDelta = Fixpoint.materialize(improved)
        cand.unpersist() // copied into newDelta via `improved`
        drop(delta)
        delta = newDelta
        if (delta.count > 0) {
          val newAcc = Fixpoint.materialize(reduce(acc.df.union(delta.df)))
          drop(acc)
          acc = newAcc
        }
      }
      drop(delta) // empty terminal delta
      } // withLoopConf
      acc.df
    }

    /** Driver-local fast path for small min/max-aggregate recursion —
      * generalized Bellman-Ford. A distributed value iteration costs
      * ~3 Spark jobs × graph-diameter iterations (seconds on a warm
      * local cluster for a 25-node graph); the reference solves the same
      * instance in-process in milliseconds. When the seeds and every
      * non-recursive body relation fit on the driver (≤
      * [[Fixpoint.LocalEdgeRows]] rows) and each recursive rule is the
      * common 2-atom shape `rel(..V..) <- rel(vars), other(vars/consts)`
      * with numeric values, relax edges in a HashMap loop and
      * parallelize the result back. Falls through (None) otherwise. */
    private def localAggFastPath(rel: String, recRules: Seq[Rule],
        seeds: Fixpoint.Mat, func: String, aggIdx: Int): Option[DataFrame] = {
      import org.apache.spark.sql.types._
      if (seeds.count > Fixpoint.LocalEdgeRows) return None
      val shapes = aggShapes(rel, recRules, aggIdx).getOrElse(return None)
      seeds.df.schema.fields(aggIdx).dataType match {
        case _: NumericType => ()
        case _ => return None
      }
      // collect the non-recursive side of each rule
      val otherRows: Seq[Array[Seq[Any]]] = shapes.map { case (_, _, oth) =>
        val m = Fixpoint.materialize(resolve(oth.rel, oth.args.length))
        if (m.count > Fixpoint.LocalEdgeRows) return None
        m.df.collect().map(_.toSeq.map(aggNorm))
      }
      val betterV = aggBetter(func)
      // Bellman-Ford over (group-keys → best value)
      val arity = seeds.df.columns.length
      val keyIdxs = (0 until arity).filterNot(_ == aggIdx)
      val dist = mutable.HashMap.empty[Seq[Any], Any]
      val frontier = mutable.HashSet.empty[Seq[Any]]
      seeds.df.collect().foreach { row =>
        val vs = row.toSeq.map(aggNorm)
        val k = keyIdxs.map(vs)
        val v = vs(aggIdx)
        if (v == null) () // null seed values can never win a min/max
        else if (!v.isInstanceOf[Long] && !v.isInstanceOf[Double]) return None
        else if (!dist.contains(k) || betterV(v, dist(k))) {
          dist(k) = v; frontier += k
        }
      }
      if (!aggRelax(shapes, otherRows, aggIdx, arity, betterV, dist, frontier))
        return None
      Some(aggResultDf(dist, seeds.df.schema, aggIdx))
    }

    /** Normalization for the in-memory aggregate solvers: Spark rows
      * carry Int/Float where the solvers compare Long/Double. */
    private def aggNorm(v: Any): Any = v match {
      case i: Int => i.toLong
      case f: Float => f.toDouble
      case other => other
    }

    private def aggToD(v: Any): Double = v match {
      case l: Long => l.toDouble
      case d: Double => d
      case other => other.toString.toDouble
    }

    /** Whether a candidate label beats the held one, in Spark's order:
      * NaN ranks above every number, so it wins a max and loses a min. */
    private def aggBetter(func: String): (Any, Any) => Boolean =
      if (func == "min") (n, o) => SparkValues.compare(aggToD(n), aggToD(o)) < 0
      else (n, o) => SparkValues.compare(aggToD(n), aggToD(o)) > 0

    private def aggEvalT(t: Term, env: collection.Map[String, Any]): Any = t match {
      case Var(n) => env.getOrElse(n, null)
      case Const(v) => aggNorm(v)
      case Arith(op, l, r) =>
        val (a, b) = (aggEvalT(l, env), aggEvalT(r, env))
        if (a == null || b == null) null
        else op match {
          case "/" => val bd = aggToD(b); if (bd == 0.0) null else aggToD(a) / bd
          case "%" => (a, b) match {
            case (_, y: Long) if y == 0L => null
            case (_, y: Double) if y == 0.0 => null
            case (x: Long, y: Long) => x % y
            case _ => aggToD(a) % aggToD(b)
          }
          case _ => (a, b) match {
            case (x: Long, y: Long) => op match {
              case "+" => x + y; case "-" => x - y; case "*" => x * y
              case _ => return null
            }
            case _ =>
              val (x, y) = (aggToD(a), aggToD(b))
              op match {
                case "+" => x + y; case "-" => x - y; case "*" => x * y
                case _ => return null
              }
          }
        }
      case _ => null
    }

    /** Shape gate shared by [[localAggFastPath]] and the driver-local
      * decremental cascade: every recursive rule is the 2-atom
      * `rel(distinct vars), other(vars/consts)` with a var-only head
      * apart from an arithmetic aggregate term. */
    private def aggShapes(rel: String, recRules: Seq[Rule], aggIdx: Int)
        : Option[Seq[(Rule, Atom, Atom)]] = {
      def exprOk(t: Term): Boolean = t match {
        case _: Var | _: Const => true
        case Arith(_, l, r) => exprOk(l) && exprOk(r)
        case _ => false
      }
      val shapes = recRules.map { r =>
        val poss = r.body.collect { case Pos(a) => a }
        if (r.body.length != poss.length || poss.length != 2) return None
        val (recA, othA) =
          if (poss(0).rel == rel && poss(1).rel != rel) (poss(0), poss(1))
          else if (poss(1).rel == rel && poss(0).rel != rel) (poss(1), poss(0))
          else return None
        if (!recA.args.forall(_.isInstanceOf[Var]) ||
          recA.args.distinct.length != recA.args.length) return None
        if (!othA.args.forall(a => a.isInstanceOf[Var] || a.isInstanceOf[Const]))
          return None
        val headOk = r.head.args.zipWithIndex.forall { case (t, i) =>
          if (i == aggIdx) exprOk(t) else t.isInstanceOf[Var]
        }
        if (!headOk) return None
        (r, recA, othA)
      }
      Some(shapes)
    }

    /** One derivation step of a 2-atom shape: bind the recursive atom to
      * each full-arity tuple, match the other atom against othRows, emit
      * the full head tuple. Tuples with a null key or value derive
      * nothing, mirroring the distributed join's null-key drops. */
    private def aggDerive(shape: (Rule, Atom, Atom), othRows: Array[Seq[Any]],
        recTuples: Iterable[Seq[Any]], aggIdx: Int): Iterator[Seq[Any]] = {
      val (r, recA, othA) = shape
      val arity = r.head.args.length
      recTuples.iterator.flatMap { t =>
        val env0 = mutable.HashMap.empty[String, Any]
        recA.args.zipWithIndex.foreach {
          case (Var(n), i) => env0(n) = t(i)
          case _ => ()
        }
        othRows.iterator.flatMap { orow =>
          var ok = true
          val env = env0.clone()
          othA.args.zipWithIndex.foreach {
            case (Const(c), i) => if (aggNorm(c) != orow(i)) ok = false
            case (Var(n), i) =>
              env.get(n) match {
                case Some(b) => if (b != orow(i)) ok = false
                case None => env(n) = orow(i)
              }
            case _ => ok = false
          }
          if (!ok) None
          else {
            val out = new Array[Any](arity)
            var good = true
            r.head.args.zipWithIndex.foreach { case (term, i) =>
              val v =
                if (i == aggIdx) aggEvalT(term, env)
                else term match {
                  case Var(n) => env.getOrElse(n, null)
                  case _ => null
                }
              if (v == null) good = false
              out(i) = v
            }
            if (good) Some(out.toSeq) else None
          }
        }
      }
    }

    /** In-place value-iteration relaxation over (group key → best
      * value). Returns false past the local group bound (the caller
      * falls back to the distributed loop). */
    private def aggRelax(shapes: Seq[(Rule, Atom, Atom)],
        otherRows: Seq[Array[Seq[Any]]], aggIdx: Int, arity: Int,
        betterV: (Any, Any) => Boolean,
        dist: mutable.HashMap[Seq[Any], Any],
        frontier0: mutable.HashSet[Seq[Any]]): Boolean = {
      val keyIdxs = (0 until arity).filterNot(_ == aggIdx)
      // derived-group count can be quadratic in the inputs (all-pairs
      // shortest path); past this bound the distributed path must run
      val MaxLocalGroups = 2000000
      var frontier: collection.Set[Seq[Any]] = frontier0
      var rounds = 0
      while (frontier.nonEmpty && rounds < 100000) {
        graft.QueryGuard.checkCancelled()
        rounds += 1
        if (dist.size > MaxLocalGroups) return false
        val next = mutable.HashSet.empty[Seq[Any]]
        shapes.zip(otherRows).foreach { case (shape, rows) =>
          val recTuples = frontier.iterator.map { k =>
            val arr = new Array[Any](arity)
            keyIdxs.zip(k).foreach { case (i, v) => arr(i) = v }
            arr(aggIdx) = dist(k)
            arr.toSeq
          }.toSeq
          aggDerive(shape, rows, recTuples, aggIdx).foreach { tup =>
            val hk = keyIdxs.map(tup)
            val hv = tup(aggIdx)
            if (!dist.contains(hk) || betterV(hv, dist(hk))) {
              dist(hk) = hv
              next += hk
            }
          }
        }
        frontier = next
      }
      if (rounds >= 100000)
        throw new IllegalStateException("recursive aggregate did not converge")
      true
    }

    /** Parallelize a solved (group key → best value) map back to a
      * frame; values may have been promoted to Double by `/`. */
    private def aggResultDf(dist: mutable.HashMap[Seq[Any], Any],
        seedSchema: org.apache.spark.sql.types.StructType, aggIdx: Int): DataFrame = {
      import org.apache.spark.sql.types._
      val arity = seedSchema.fields.length
      val keyIdxs = (0 until arity).filterNot(_ == aggIdx)
      val allLong = dist.valuesIterator.forall(_.isInstanceOf[Long])
      val outSchema = StructType(seedSchema.fields.zipWithIndex.map {
        case (f, i) =>
          if (i == aggIdx) f.copy(dataType = if (allLong) LongType else DoubleType)
          else f.copy(dataType = f.dataType match {
            case IntegerType => LongType
            case FloatType => DoubleType
            case dt => dt
          })
      })
      val out = dist.iterator.map { case (k, v) =>
        val arr = new Array[Any](arity)
        keyIdxs.zip(k).foreach { case (i, kv) => arr(i) = kv }
        arr(aggIdx) = if (allLong) v else aggToD(v)
        org.apache.spark.sql.Row.fromSeq(arr.toSeq)
      }.toSeq
      catalog.spark.createDataFrame(
        catalog.spark.sparkContext.parallelize(out,
          Fixpoint.parallelizeParts(out.size.toLong)), outSchema)
    }
  }
}

/** Tarjan SCC over the rule dependency graph (reference stratification,
  * `src/recursion.rs:156-550`). */
object Stratifier {
  /** rel → its SCC member set (only for relations appearing in rule heads;
    * singletons included). */
  def sccOf(rules: Seq[Rule]): Map[String, Set[String]] = {
    val heads = rules.map(_.head.rel).toSet
    val edges: Map[String, Set[String]] = rules
      .groupBy(_.head.rel)
      .map { case (h, rs) =>
        h -> rs.flatMap(_.body.collect {
          case Pos(a) if heads(a.rel) => a.rel
          case Neg(a) if heads(a.rel) => a.rel
        }).toSet
      }
    var index = 0
    val idx = mutable.HashMap.empty[String, Int]
    val low = mutable.HashMap.empty[String, Int]
    val onStack = mutable.HashSet.empty[String]
    val stack = mutable.Stack.empty[String]
    val out = mutable.HashMap.empty[String, Set[String]]

    def strongconnect(v: String): Unit = {
      idx(v) = index; low(v) = index; index += 1
      stack.push(v); onStack += v
      edges.getOrElse(v, Set.empty).foreach { w =>
        if (!idx.contains(w)) { strongconnect(w); low(v) = math.min(low(v), low(w)) }
        else if (onStack(w)) low(v) = math.min(low(v), idx(w))
      }
      if (low(v) == idx(v)) {
        val comp = mutable.Set.empty[String]
        var w = ""
        while ({ w = stack.pop(); onStack -= w; comp += w; w != v }) ()
        val c = comp.toSet
        c.foreach(out(_) = c)
      }
    }
    heads.foreach(h => if (!idx.contains(h)) strongconnect(h))
    out.toMap
  }
}
