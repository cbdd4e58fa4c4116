package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.iql.{Catalog, Engine}

/** kg_maintain: a single client in a closed loop of update rounds through
  * `Engine.run`. Each round writes a seeded batch (edge and employee
  * inserts and deletes, one conditional delete), then re-queries and
  * collects every maintained view. A round's latency runs from the write
  * to the last view collected. */
final class Maintain(spark: SparkSession, spec: Spec.W, seed: Long, tracer: Tracer,
                     stats: JobStats, trace: Boolean) extends Workload {
  private val Rules = Seq(
    "+reach(X, Y) <- edge(X, Y)",
    "+reach(X, Z) <- reach(X, Y), edge(Y, Z)",
    "+dsum(D, sum<S>, count<I>) <- emp(I, D, S, L)",
    "+dminmax(D, min<S>, max<S>) <- emp(I, D, S, L)",
    "+dlevels(D, count_distinct<L>) <- emp(I, D, S, L)",
    "+dtop(D, top_k<3, I, S:desc>) <- emp(I, D, S, L)",
    "+hasout(X) <- edge(X, Y)",
    "+sink(X) <- node(X), !hasout(X)").mkString("\n")
  private val Views = Seq("dsum" -> "?dsum(D, S, C)", "dminmax" -> "?dminmax(D, A, B)",
    "dlevels" -> "?dlevels(D, N)", "dtop" -> "?dtop(D, I, S)", "sink" -> "?sink(X)",
    "reach" -> "?reach(X, Y)")
  /** Job group of the first timed round after set-up: the same seeded
    * round in every run, so its job count compares across runs. */
  private val CountedGroup = "jobs-of-first-round"

  private var model: KgModel = _
  private var engine: Engine = _
  private var round = 0
  private var op = 0L

  def setup(): Unit = {
    model = new KgModel(spec, seed)
    round = 0
    engine = new Engine(new Catalog(spark))
    val cat = engine.catalog
    cat.insert("node", model.nodes.map(n => Seq[Any](n)))
    cat.insert("edge", model.edgeRows)
    cat.insert("emp", model.empRows)
    engine.run(Rules)
    // first materialisation, untimed
    require(check(views(), model), "initial views differ from the reference")
  }

  /** Query and collect every view: view → rows. */
  private def views(): Map[String, Seq[Seq[Any]]] = {
    val dfs = tracer.span("iql", "iql.query", op, "query")(engine.run(Views.map(_._2).mkString("\n")))
    tracer.span("iql", "exec.collect", op, "collect") {
      Views.map(_._1).zip(dfs).map { case (n, df: DataFrame) =>
        n -> df.collect().toSeq.map((r: Row) => r.toSeq) }.toMap
    }
  }

  /** Compare collected views with the reference computed from the model. */
  private def check(got: Map[String, Seq[Seq[Any]]], m: KgModel): Boolean = {
    def set(k: String) = got(k).map(_.map(normal)).toSet
    val closure = Check.closure(m.edges.iterator)
    val want = Check.empViews(m.emps.values) ++ Map(
      "sink" -> Check.sinks(m.nodes, m.edges.iterator),
      "reach" -> closure.toSeq.flatMap { case (s, ds) => ds.map(d => Seq[Any](s, d)) }.toSet)
    val bad = want.collect { case (k, w) if set(k) != w || got(k).size != w.size => k }
    if (bad.nonEmpty) System.err.println(s"[perfbench] round $round: views ${bad.mkString(", ")} differ")
    bad.isEmpty
  }

  private def normal(v: Any): Any = v match {
    case i: Int => i.toLong
    case d: java.math.BigDecimal => d.longValueExact()
    case d: Double if d == math.rint(d) => d.toLong
    case o => o
  }

  def measure(seconds: Double, w: Window): Unit = {
    val sc = spark.sparkContext
    val rowsSeen = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val text = model.round(round).iql
      val counted = trace && round == 0
      if (counted) sc.setJobGroup(CountedGroup, "round")
      round += 1
      op += 1
      try {
        val a = System.nanoTime()
        val got = tracer.span("bench", "round", op) {
          tracer.span("iql", "iql.write", op, "write")(engine.run(text))
          views()
        }
        val ms = (System.nanoTime() - a) / 1e6
        if (counted) sc.clearJobGroup()
        rowsSeen += got.valuesIterator.map(_.size).sum.toDouble
        if (check(got, model)) w.ok(ms) else { w.attempted += 1; w.wrong += 1 }
        // parser cost on the same text, outside the round's latency
        tracer.span("iql", "iql.parse", op)(graft.iql.Parser.parseProgram(text))
        // the check's garbage is collected here, not inside the next round
        System.gc()
      } catch {
        case e: Exception =>
          if (counted) sc.clearJobGroup()
          System.err.println(s"[perfbench] round ${round - 1} failed: $e")
          w.attempted += 1; w.failed += 1
      }
    }
    w.layer("throughput_ops_s") = w.closedLoopRate
    w.layer("exec.result_rows") = Main.median(rowsSeen.toSeq)
  }

  override def traced(w: Window, spans: Seq[Span], jobs: Seq[(Span, JobStats#Job)]): Unit = {
    def med(name: String) = Main.median(spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6))
    w.layer("iql.write_ms") = med("iql.write")
    w.layer("iql.query_ms") = med("iql.query")
    w.layer("exec.collect_ms") = med("exec.collect")
    w.layer("iql.parse_ms") = med("iql.parse")
    val self = Summary.selfTimes(spans ++ jobs.map(_._1))
    w.layer("iql.query_driver_ms") = Main.median(spans.filter(_.name == "iql.query").map(s => self(s.id) / 1e6))
    w.layer("iql.jobs_per_round") = stats.all.count(_.group == CountedGroup).toDouble
  }
}
