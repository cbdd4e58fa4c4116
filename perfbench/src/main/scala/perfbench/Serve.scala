package perfbench

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.util.concurrent.{CompletionStage, ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.server.WireServer

/** A WebSocket client of the wire server: one request in flight. */
final class WsClient(port: Int) {
  private val replies = new LinkedBlockingQueue[String]()
  private val ws: WebSocket = HttpClient.newHttpClient().newWebSocketBuilder()
    .buildAsync(URI.create(s"ws://127.0.0.1:$port/ws"), new WebSocket.Listener {
      private val buf = new StringBuilder
      override def onText(w: WebSocket, data: CharSequence, last: Boolean): CompletionStage[_] = {
        buf.append(data)
        if (last) { replies.put(buf.toString); buf.clear() }
        w.request(1)
        null
      }
    }).join()

  /** Send one message and return the first reply that is not a
    * broadcast notification. */
  def call(msg: String): String = {
    ws.sendText(msg, true).join()
    var r = next()
    while (r.contains("\"notification\"") && Json.parse(r).path("type").asText == "notification") r = next()
    r
  }
  private def next(): String =
    Option(replies.poll(120, TimeUnit.SECONDS)).getOrElse(sys.error("no reply within 120 s"))

  def query(q: String): JsonNode = {
    val r = Json.parse(call(Json.render(Map("type" -> "query", "query" -> q))))
    require(r.path("type").asText != "error", s"server error for ${q.take(80)}: ${r.path("message").asText}")
    r
  }
  def close(): Unit = try ws.sendClose(WebSocket.NORMAL_CLOSURE, "").join() catch { case _: Throwable => () }
}

/** kg_serve: read-only serving through an in-process `WireServer`, as an
  * open loop. Requests are due at a fixed rate and go out over up to
  * `connections` WebSocket connections; each request's latency runs from
  * when it was due to its reply, so a stall also charges the requests
  * queued behind it. */
final class Serve(spark: SparkSession, spec: Spec.W, seed: Long, tracer: Tracer, trace: Boolean)
    extends Workload {
  private val Rules = Seq(
    "+reach(X, Y) <- edge(X, Y)",
    "+reach(X, Z) <- reach(X, Y), edge(Y, Z)",
    "+dsum(D, sum<S>, count<I>) <- emp(I, D, S, L)").mkString("\n")
  private val classes = Seq("bound_reach", "point", "agg", "join3", "hnsw", "why")
  /** The request mix: each class equally often, since there is no traffic
    * data to weight them by. A seeded deck of the classes is dealt in a
    * cycle, so every run serves the same share of each. */
  private val deck: Vector[String] = new scala.util.Random(seed).shuffle(classes.toVector)

  private var server: WireServer = _
  private var model: KgModel = _
  private var data: ServeData = _
  private var closure: Map[Long, Set[Long]] = Map.empty
  private var twoHop: Map[Long, Vector[Long]] = Map.empty
  private var dsum: Set[Seq[Any]] = Set.empty
  private var clients: Seq[WsClient] = Nil
  private var indexBuildS = 0.0
  private var sideIndex: Option[graft.iql.Catalog] = None
  private val nextReq = new AtomicLong(0)

  /** One request: its class, IQL text, and what the reply must hold. */
  private final case class Req(k: Long, cls: String, text: String, expect: Any)
  private final case class Done(req: Req, dueNs: Long, sendNs: Long, endNs: Long, reply: String)

  def setup(): Unit = {
    close()
    model = new KgModel(spec, seed)
    data = new ServeData(spec, seed)
    closure = Check.closure(model.edges.iterator)
    val succ = model.edges.iterator.toSeq.groupMap(_._1)(_._2)
    twoHop = succ.map { case (x, ys) => x -> ys.flatMap(succ.getOrElse(_, Nil)).distinct.sorted.toVector }
      .filter(_._2.nonEmpty)
    dsum = Check.empViews(model.emps.values)("dsum")
    server = new WireServer(spark)
    val loader = new WsClient(server.actualPort)
    def load(rel: String, rows: Seq[Seq[Any]], chunk: Int): Unit =
      rows.grouped(chunk).foreach(g => loader.query(s"+$rel" + g.map(_.mkString("(", ", ", ")")).mkString("[", ", ", "]")))
    load("edge", model.edgeRows, 5000)
    load("emp", model.empRows, 5000)
    load("cust", data.cust.toSeq.map(c => Seq(c._1, c._2)), 5000)
    load("prod", data.prod.toSeq.map(p => Seq(p._1, p._2)), 5000)
    load("order", data.orders.toSeq.map(o => Seq(o._1, o._2, o._3, o._4)), 5000)
    loader.query(s"+vec(id: int, v: vector[${spec.int("dim")}])")
    data.vectors.indices.grouped(500).foreach { g =>
      loader.query("+vec" + g.map(i => s"(${i + 1}, ${Gen.vecLit(data.vectors(i))})").mkString("[", ", ", "]"))
    }
    val t0 = System.nanoTime()
    loader.query(".index create vidx on vec(v) id")
    indexBuildS = (System.nanoTime() - t0) / 1e9
    loader.query(Rules)
    // materialise every view and warm each request class once
    val warm = Gen.rng(seed, "warm")
    for (c <- classes) {
      val req = request(-1, c, warm)
      verify(req, loader.call(Json.render(Map("type" -> "query", "query" -> req.text))))
    }
    loader.close()
    clients = Seq.fill(spec.int("connections"))(new WsClient(server.actualPort))
    if (trace) {
      // the same vectors behind a catalog the benchmark holds itself, so
      // index probes can be timed without the server around them
      val cat = new graft.iql.Catalog(spark)
      val rows = data.vectors.indices.map(i => Row(i + 1L, data.vectors(i).toSeq))
      val schema = StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(FloatType))))
      cat.register("vec", spark.createDataFrame(rows.asJava, schema))
      cat.createIndex("vec", "id", "v")
      sideIndex = Some(cat)
    }
  }

  private def request(k: Long, cls: String, r: java.util.SplittableRandom): Req = {
    val n = model.nodes.size
    def node() = 1L + r.nextInt(n)
    cls match {
      case "bound_reach" =>
        val c = node(); Req(k, cls, s"?reach($c, Y)", closure.getOrElse(c, Set.empty))
      case "point" =>
        val a = node()
        val reach = closure.getOrElse(a, Set.empty).toSeq.sorted
        val b = if (reach.nonEmpty && r.nextBoolean()) reach(r.nextInt(reach.size)) else node()
        Req(k, cls, s"?reach($a, $b)", reach.contains(b))
      case "agg" =>
        val minCount = dsum.toSeq.map(_(2).asInstanceOf[Long]).sorted.apply(r.nextInt(dsum.size))
        Req(k, cls, s"?- dsum(D, S, C), C >= $minCount", dsum.filter(_(2).asInstanceOf[Long] >= minCount))
      case "join3" =>
        val region = 1L + r.nextInt(data.regions)
        val qty = 10L - r.nextInt(2)
        val cust = data.cust.filter(_._2 == region).map(_._1).toSet
        val price = data.prod.toMap
        val want = data.orders.filter(o => cust(o._2) && o._4 >= qty)
          .map(o => Seq[Any](o._1, o._4 * price(o._3))).toSet
        Req(k, cls, s"?- order(O, C, P, Q), cust(C, R), prod(P, Pr), R = $region, Q >= $qty, T = Q * Pr", want)
      case "hnsw" =>
        val base = data.vectors(r.nextInt(data.vectors.length))
        val q = base.map(x => (x + 0.1 * Gen.gauss(r)).toFloat)
        Req(k, cls, s"""?hnsw_nearest("vidx", ${Gen.vecLit(q)}, 10, Id, D)""", q)
      case "why" =>
        // a pair two hops apart, or (one in five) a node `a` cannot reach:
        // the cost of `.why` grows with proof depth (about 1 s to 7 s for
        // random reachable pairs on a 4-core machine), so a fixed depth
        // keeps this class's cost from depending on the pair the seed draws
        val a = Iterator.continually(node()).find(twoHop.contains).get
        val b =
          if (r.nextInt(5) > 0) twoHop(a)(r.nextInt(twoHop(a).size))
          else Iterator.continually(node()).find(y => !closure(a).contains(y)).get
        Req(k, cls, s".why reach($a, $b)", (a, b, closure(a).contains(b)))
    }
  }

  /** Check one reply against the generator's facts; Some(recall@10) for
    * index probes, None otherwise. Throws on a wrong answer. */
  private def verify(req: Req, reply: String): Option[Double] = {
    val m = Json.parse(reply)
    require(m.path("type").asText == "result", s"${req.cls}: reply ${reply.take(200)}")
    val cols = m.get("columns").asScala.map(_.asText).toVector
    val rows = m.get("rows").asScala.toVector
    def col(name: String): Vector[JsonNode] = { val i = cols.indexOf(name); rows.map(_.get(i)) }
    def long(n: JsonNode): Long = { require(n.isIntegralNumber, s"${req.cls}: not an integer: $n"); n.asLong }
    def longs(name: String): Vector[Long] = col(name).map(long)
    req.cls match {
      case "bound_reach" => require(longs("Y").toSet == req.expect, s"bound reach ${req.text}: ${reply.take(300)} want ${req.expect.asInstanceOf[Set[Long]].toSeq.sorted.take(10)}"); None
      case "point" => require(rows.nonEmpty == req.expect, s"point ${req.text}"); None
      case "agg" =>
        val got = Seq("D", "S", "C").map(longs).transpose.map(_.toSeq: Seq[Any]).toSet
        require(got == req.expect && rows.size == got.size, s"agg ${req.text}"); None
      case "join3" =>
        val got = Seq("O", "T").map(longs).transpose.map(_.toSeq: Seq[Any]).toSet
        require(got == req.expect && rows.size == got.size, s"join3 ${req.text}"); None
      case "hnsw" =>
        val q = req.expect.asInstanceOf[Array[Float]]
        val ids = longs("Id")
        val dists = col("D").map { n => require(n.isNumber, s"hnsw distance $n"); n.asDouble }
        require(ids.size == 10 && ids.distinct.size == 10, s"hnsw returned ${ids.size} rows")
        ids.zip(dists).foreach { case (id, d) =>
          require(math.abs(d - (1.0 - Check.cosine(data.vectors((id - 1).toInt), q))) < 1e-4, s"hnsw distance of $id")
        }
        require(dists == dists.sorted, "hnsw results not in distance order")
        val exact = Check.exactTopK(data.vectors, i => i + 1L, q, 10).map(_._1).toSet
        Some(ids.count(exact).toDouble / 10)
      case "why" =>
        val (a, b, derivable) = req.expect.asInstanceOf[(Long, Long, Boolean)]
        require(m.path("derivable").isBoolean && m.get("derivable").asBoolean == derivable, s"why derivable ${req.text}")
        if (derivable) {
          val root = m.get("proof_trees").get(0)
          require(root.path("relation").asText == "reach" && root.get("values").asScala.map(long).toSeq == Seq(a, b),
            s"why proof root ${req.text}")
        }
        None
    }
  }

  /** The offered load for `WarmupS` seconds before the timed window.
    * After set-up the JIT's compiler threads stay busy for some 20 s of
    * serving, on the cores the requests run on, and over that time the
    * per-class p50s fall by a third or more; a closed loop on every
    * connection for 8 s did not settle them sooner. Replies are checked
    * like timed ones. */
  override def warmup(w: Window): Unit = measure(Serve.WarmupS, w)

  def measure(seconds: Double, w: Window): Unit = {
    val rate = spec.dbl("rate_per_s")
    val periodNs = 1e9 / rate
    val start = System.nanoTime() + 20000000L
    val endDue = start + (seconds * 1e9).toLong
    val first = nextReq.get()
    val done = new ConcurrentHashMap[Long, Done]()
    val failures = new AtomicLong(0)
    val threads = clients.map { c =>
      new Thread(() => {
        var more = true
        while (more) {
          val k = nextReq.getAndIncrement()
          val due = start + ((k - first) * periodNs).toLong
          if (due >= endDue) more = false
          else {
            val req = request(k, deck((k % deck.size).toInt), Gen.rng(seed, s"req-$k"))
            val wait = due - System.nanoTime()
            if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            val send = System.nanoTime()
            try {
              val reply = c.call(Json.render(Map("type" -> "query", "query" -> req.text)))
              done.put(k, Done(req, due, send, System.nanoTime(), reply))
            } catch { case e: Throwable =>
              System.err.println(s"[perfbench] request $k failed: $e")
              failures.incrementAndGet()
            }
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    nextReq.set(nextReq.get() - clients.size) // the last k of each thread was never sent
    val all = done.values().asScala.toSeq.sortBy(_.req.k)
    val elapsedS = (all.map(_.endNs).maxOption.getOrElse(endDue) - start) / 1e9
    w.attempted += failures.get(); w.failed += failures.get()
    // correctness, outside the timed intervals
    val recalls = mutable.ArrayBuffer.empty[Double]
    all.foreach { d =>
      try { verify(d.req, d.reply).foreach(recalls += _); w.ok((d.endNs - d.dueNs) / 1e6) }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] wrong result: ${e.getMessage}")
        w.attempted += 1; w.wrong += 1
      }
    }
    val lat = all.map(d => (d.endNs - d.dueNs) / 1e6)
    w.layer("throughput_ops_s") = all.size / elapsedS
    w.layer("serve.lat_p99_ms") = Main.pct(lat, 99)
    w.layer("loadgen.lag_ms") = Main.median(all.map(d => (d.sendNs - d.dueNs) / 1e6))
    w.layer("index.recall_at_10") = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    w.layer("index.build_s") = indexBuildS
    val classP50 = classes.map(c => Main.median(all.filter(_.req.cls == c).map(d => (d.endNs - d.dueNs) / 1e6)))
    classes.zip(classP50).foreach { case (c, v) => w.layer(s"serve.${c}_ms") = v }
    // the pooled median of six equally frequent classes falls in the gap
    // between the third and fourth class's latencies, so this workload's
    // p50 is the geometric mean of the per-class p50s
    w.layer("lat_p50_ms") = math.exp(classP50.map(v => math.log(math.max(v, 1e-3))).sum / classes.size)
    val replies = all.map(d => Json.parse(d.reply))
    val exec = replies.map(_.path("execution_time_ms").asDouble)
    val rtt = all.map(d => (d.endNs - d.sendNs) / 1e6)
    w.layer("server.rtt_ms") = Main.median(rtt)
    w.layer("server.exec_ms") = Main.median(exec)
    w.layer("server.overhead_ms") = Main.median(rtt.zip(exec).map { case (a, b) => a - b })
    w.layer("server.resp_bytes") = Main.median(all.map(_.reply.getBytes("UTF-8").length.toDouble))
    w.layer("exec.result_rows") = Main.median(replies.map(_.path("row_count").asDouble))
    if (tracer.on) traceRequests(all)
  }

  /** Server-side spans: each request's rtt under its due→reply span. */
  private val byText = new ConcurrentHashMap[String, List[Span]]()
  private def traceRequests(all: Seq[Done]): Unit = {
    val off = tracer.now - System.nanoTime()
    all.foreach { d =>
      val root = tracer.record(0, d.req.k, "bench", s"serve.${d.req.cls}", "", off + d.dueNs, off + d.endNs)
      val srv = tracer.record(root, d.req.k, "server", "server", "query", off + d.sendNs, off + d.endNs)
      byText.merge(d.req.text, List(Span(srv, root, d.req.k, "server", "server", "query", off + d.sendNs, off + d.endNs)), _ ++ _)
      tracer.span("iql", "iql.parse", d.req.k)(if (!d.req.text.startsWith(".")) graft.iql.Parser.parseProgram(d.req.text))
      sideIndex.filter(_ => d.req.cls == "hnsw").foreach { cat =>
        tracer.span("index", "index.search", d.req.k)(
          cat.hnswSearch("vec", "v", d.req.expect.asInstanceOf[Array[Float]], 10).collect())
      }
    }
  }

  override def ownerOf(desc: String, start: Long): Option[Span] =
    Option(byText.get(desc)).flatMap(_.find(s => s.start - 2000000L <= start && start <= s.end))

  override def traced(w: Window, spans: Seq[Span], jobs: Seq[(Span, JobStats#Job)]): Unit = {
    def med(name: String) = Main.median(spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6))
    w.layer("iql.parse_ms") = med("iql.parse")
    w.layer("index.search_ms") = med("index.search")
    // driver time inside the server's execution with no job of its own running
    val jobsBy = jobs.groupBy(_._1.parent)
    w.layer("iql.query_driver_ms") = Main.median(spans.filter(_.layer == "server").map { s =>
      val jobMs = Summary.unionLen(jobsBy.getOrElse(s.id, Nil).map(j => (j._1.start, j._1.end))) / 1e6
      math.max(0.0, (s.end - s.start) / 1e6 - w.layer("server.overhead_ms") - jobMs)
    })
  }

  override def close(): Unit = {
    clients.foreach(_.close()); clients = Nil
    if (server != null) { server.stop(); server = null }
  }
}

object Serve {
  /** Length of the untimed warm-up before the timed window, seconds. */
  val WarmupS = 15.0
}
