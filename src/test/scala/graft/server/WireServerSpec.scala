package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, WebSocket}
import java.time.Duration
import java.util.concurrent.{CompletionStage, LinkedBlockingQueue, TimeUnit}

import graft.SparkSpec

class WireServerSpec extends SparkSpec {

  private def obj(s: String) = Json.parse(s).asInstanceOf[Map[String, Any]]

  test("json codec round-trips the wire shapes") {
    val v = Map("type" -> "result", "rows" -> Seq(Seq(1L, "a\nb", 2.5, null, true)),
      "n" -> 3L)
    assert(Json.parse(Json.render(v)) ==
      Map("type" -> "result", "rows" -> Vector(Vector(1L, "a\nb", 2.5, null, true)),
        "n" -> 3L))
    assert(Json.parse("""{"a": [1, -2.5e2], "b": "A"}""") ==
      Map("a" -> Vector(1L, -250.0), "b" -> "A"))
  }

  test("REST surface: health, metrics, and POST /query") {
    val server = new WireServer(spark)
    try {
      val http = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${server.actualPort}"
      def get(path: String): String =
        http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body()
      def post(path: String, body: String): String =
        http.send(HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString()).body()

      assert(obj(get("/health")) == Map("status" -> "healthy"))
      assert(obj(get("/v1/ready")) == Map("status" -> "healthy"))

      val ack = obj(post("/query", Json.render(Map(
        "type" -> "query", "query" -> "+edge[(1,2),(2,3)]"))))
      assert(ack("type") == "ack")
      val res = obj(post("/query", Json.render(Map(
        "type" -> "query", "query" -> "?edge(X, Y)"))))
      assert(res("type") == "result")
      assert(res("row_count") == 2L)
      assert(res("columns") == Vector("X", "Y"))
      assert(res("rows").asInstanceOf[Vector[Any]].toSet ==
        Set(Vector(1L, 2L), Vector(2L, 3L)))

      val metrics = obj(get("/metrics"))
      assert(metrics("relations").asInstanceOf[Vector[Any]].contains("edge"))
      assert(metrics("queries_served").asInstanceOf[Long] >= 2L)
    } finally server.stop()
  }

  test("dynamically-typed cells decode to plain JSON values on the wire") {
    val server = new WireServer(spark)
    try {
      val http = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${server.actualPort}"
      def post(body: String): String =
        http.send(HttpRequest.newBuilder(URI.create(base + "/query"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString()).body()
      post(Json.render(Map("type" -> "query",
        "query" -> "+anyrel(x: any)\n+anyrel[(1), (\"s\"), (2.5), (true)]")))
      val res = obj(post(Json.render(Map(
        "type" -> "query", "query" -> "?anyrel(X:asc)"))))
      assert(res("type") == "result")
      val cells = res("rows").asInstanceOf[Seq[Seq[Any]]].map(_.head)
      // cross-type order on the wire, as plain JSON scalars
      assert(cells == Seq(true, 1L, 2.5, "s"))
    } finally server.stop()
  }

  test("prometheus exposition and API spec routes") {
    val server = new WireServer(spark)
    try {
      val http = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${server.actualPort}"
      def get(path: String): HttpResponse[String] =
        http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      def post(body: String): String =
        http.send(HttpRequest.newBuilder(URI.create(base + "/query"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString()).body()

      post(Json.render(Map("type" -> "query", "query" -> "+promrel[(1,2)]")))
      post(Json.render(Map("type" -> "query", "query" -> "?promrel(X, Y)")))
      val prom = get("/metrics/prometheus")
      assert(prom.headers().firstValue("content-type").get.startsWith("text/plain"))
      val b = prom.body()
      assert(b.contains("# HELP graft_uptime_seconds"))
      assert(b.contains("# TYPE graft_uptime_seconds gauge"))
      assert(b.contains("# TYPE graft_queries_total counter"))
      // the two statements above were served
      val served = b.linesIterator.find(_.startsWith("graft_queries_total "))
        .get.split(' ')(1).toLong
      assert(served >= 2L)
      assert(b.contains("graft_knowledge_graphs 1"))
      assert(b.linesIterator.exists(l => l.startsWith("graft_relations_total ") &&
        l.split(' ')(1).toLong >= 1L))

      val openapi = get("/api/openapi.yaml")
      assert(openapi.headers().firstValue("content-type").get.startsWith("text/yaml"))
      assert(openapi.body().startsWith("openapi:"))
      assert(openapi.body().contains("/metrics/prometheus"))
      val asyncapi = get("/v1/api/asyncapi.yaml") // v1 prefix serves too
      assert(asyncapi.body().startsWith("asyncapi:"))
      assert(asyncapi.body().contains("result_chunk"))
      val docs = get("/api/ws-docs")
      assert(docs.headers().firstValue("content-type").get.startsWith("text/html"))
      assert(docs.body().contains("result_start"))
    } finally server.stop()
  }

  test("default config caps wire results at 100k rows with a truncated flag") {
    val server = new WireServer(spark) // DEFAULT config — the point of the test
    try {
      val http = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${server.actualPort}"
      def post(body: String): Map[String, Any] =
        obj(http.send(HttpRequest.newBuilder(URI.create(base + "/query"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString()).body())
      val ins = (1 to 400).map(i => s"($i)").mkString(",")
      post(Json.render(Map("type" -> "query", "query" -> s"+capa[$ins]\n+capb[$ins]")))
      post(Json.render(Map("type" -> "query",
        "query" -> "cappair(X, Y) <- capa(X), capb(Y)")))
      // 400×400 = 160k derivable rows > the 100k reference default cap:
      // the driver collect is bounded and the client learns it was cut
      val res = post(Json.render(Map("type" -> "query", "query" -> "?cappair(X, Y)")))
      assert(res("type") == "result")
      assert(res("truncated") == true)
      assert(res("row_count") == 100000L)
      assert(res("rows").asInstanceOf[Seq[Any]].length == 100000)
      // per-message override below the default caps tighter...
      val small = post(Json.render(Map("type" -> "query",
        "query" -> "?cappair(X, Y)", "max_result_rows" -> 7L)))
      assert(small("truncated") == true && small("row_count") == 7L)
      // ...and 0 is the explicit uncapped opt-in (reference semantics)
      val full = post(Json.render(Map("type" -> "query",
        "query" -> "?cappair(X, Y)", "max_result_rows" -> 0L)))
      assert(full("truncated") == false)
      assert(full("row_count") == 160000L)
    } finally server.stop()
  }

  test("WebSocket: query, session-scoped facts, rules, ping") {
    val server = new WireServer(spark)
    try {
      val incoming = new LinkedBlockingQueue[String]()
      val listener = new WebSocket.Listener {
        private val buf = new StringBuilder
        override def onText(ws: WebSocket, data: CharSequence,
                            last: Boolean): CompletionStage[_] = {
          buf.append(data)
          if (last) { incoming.put(buf.toString); buf.clear() }
          ws.request(1)
          null
        }
      }
      val ws = HttpClient.newHttpClient().newWebSocketBuilder()
        .connectTimeout(Duration.ofSeconds(10))
        .buildAsync(URI.create(s"ws://127.0.0.1:${server.actualPort}/ws"), listener)
        .join()
      def recvNonNotify(): Map[String, Any] = {
        var m = obj(incoming.poll(60, TimeUnit.SECONDS))
        while (m("type") == "notification") m = obj(incoming.poll(60, TimeUnit.SECONDS))
        m
      }
      def send(msg: Map[String, Any]): Map[String, Any] = {
        ws.sendText(Json.render(msg), true).join()
        recvNonNotify()
      }

      assert(send(Map("type" -> "ping")) == Map("type" -> "pong"))
      // persistent facts via query message
      assert(send(Map("type" -> "query", "query" -> "+edge[(1,2),(2,3)]"))("type") == "ack")
      // session-scoped ephemeral facts + rule
      assert(send(Map("type" -> "insert_facts", "relation" -> "edge",
        "tuples" -> Seq(Seq(3L, 4L))))("type") == "ack")
      assert(send(Map("type" -> "add_rule",
        "rule" -> "path(X, Y) <- edge(X, Y)"))("type") == "ack")
      val res = send(Map("type" -> "query", "query" -> "?path(X, Y)"))
      assert(res("type") == "result")
      assert(res("rows").asInstanceOf[Vector[Any]].toSet ==
        Set(Vector(1L, 2L), Vector(2L, 3L), Vector(3L, 4L)))
      // retract the ephemeral fact
      assert(send(Map("type" -> "retract_facts", "relation" -> "edge",
        "tuples" -> Seq(Seq(3L, 4L))))("message").toString.startsWith("Retracted 1"))
      val res2 = send(Map("type" -> "query", "query" -> "?path(X, Y)"))
      assert(res2("row_count") == 2L)
      // malformed message → error, connection stays usable
      ws.sendText("""{"type":"query","query":"?edge(("}""", true).join()
      val err = recvNonNotify()
      assert(err("type") == "error")
      assert(send(Map("type" -> "ping")) == Map("type" -> "pong"))
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "done").join()
    } finally server.stop()
  }

  test("indexes stay live across wire-driven mutations") {
    val server = new WireServer(spark)
    try {
      val incoming = new LinkedBlockingQueue[String]()
      val listener = new WebSocket.Listener {
        private val buf = new StringBuilder
        override def onText(ws: WebSocket, data: CharSequence,
                            last: Boolean): CompletionStage[_] = {
          buf.append(data)
          if (last) { incoming.put(buf.toString); buf.clear() }
          ws.request(1)
          null
        }
      }
      val ws = HttpClient.newHttpClient().newWebSocketBuilder()
        .connectTimeout(Duration.ofSeconds(10))
        .buildAsync(URI.create(s"ws://127.0.0.1:${server.actualPort}/ws"), listener)
        .join()
      def recvNonNotify(): Map[String, Any] = {
        var m = obj(incoming.poll(60, TimeUnit.SECONDS))
        while (m("type") == "notification") m = obj(incoming.poll(60, TimeUnit.SECONDS))
        m
      }
      def send(msg: Map[String, Any]): Map[String, Any] = {
        ws.sendText(Json.render(msg), true).join()
        recvNonNotify()
      }
      def q(s: String): Map[String, Any] = send(Map("type" -> "query", "query" -> s))

      assert(q("+wv(id: int, v: vector[4])")("type") == "ack")
      assert(q(".index create widx on wv(v) id")("type") == "ack")
      assert(q("+wv(1, [1.0, 0.0, 0.0, 0.0])")("type") == "ack")
      assert(q("+wv(2, [0.0, 1.0, 0.0, 0.0])")("type") == "ack")
      // the probe must see both wire-inserted rows — no manual rebuild
      val r1 = q("""?hnsw_nearest("widx", [1.0, 0.0, 0.0, 0.0], 1, Id, D)""")
      assert(r1("type") == "result")
      assert(r1("rows").asInstanceOf[Vector[Any]].head
        .asInstanceOf[Vector[Any]].head == 1L)
      // persistent delete tombstones: nearest to [1,0,0,0] becomes id 2
      assert(q("-wv(1, [1.0, 0.0, 0.0, 0.0])")("type") == "ack")
      val r2 = q("""?hnsw_nearest("widx", [1.0, 0.0, 0.0, 0.0], 1, Id, D)""")
      assert(r2("rows").asInstanceOf[Vector[Any]].head
        .asInstanceOf[Vector[Any]].head == 2L)
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "done").join()
    } finally server.stop()
  }

  test("large results stream as result_start / result_chunk / result_end") {
    val server = new WireServer(spark, streamingThresholdBytes = 256)
    try {
      val incoming = new LinkedBlockingQueue[String]()
      val ws = HttpClient.newHttpClient().newWebSocketBuilder()
        .buildAsync(URI.create(s"ws://127.0.0.1:${server.actualPort}/ws"),
          new WebSocket.Listener {
            private val buf = new StringBuilder
            override def onText(w: WebSocket, data: CharSequence,
                                last: Boolean): CompletionStage[_] = {
              buf.append(data)
              if (last) { incoming.put(buf.toString); buf.clear() }
              w.request(1)
              null
            }
          }).join()
      def recv(): Map[String, Any] = {
        var m = obj(incoming.poll(60, TimeUnit.SECONDS))
        while (m("type") == "notification") m = obj(incoming.poll(60, TimeUnit.SECONDS))
        m
      }
      val bigInsert = "+big[" + (1 to 600).map(i => s"($i)").mkString(",") + "]"
      ws.sendText(Json.render(Map("type" -> "query", "query" -> bigInsert)), true).join()
      assert(recv()("type") == "ack")
      ws.sendText("""{"type":"query","query":"?big(X)"}""", true).join()
      val start = recv()
      assert(start("type") == "result_start")
      assert(start("total_count") == 600L)
      assert(start("columns") == Vector("X"))
      val chunks = Seq.newBuilder[Map[String, Any]]
      var end: Map[String, Any] = null
      while (end == null) {
        val m = recv()
        if (m("type") == "result_chunk") chunks += m else end = m
      }
      val cs = chunks.result()
      assert(end("type") == "result_end")
      assert(end("row_count") == 600L && end("chunk_count") == 2L)
      assert(cs.map(_("rows").asInstanceOf[Vector[Any]].size).sum == 600)
      assert(cs.map(_("chunk_index")) == cs.indices.map(_.toLong))
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
    } finally server.stop()
  }

  test("persistent changes push notifications to every connection") {
    val server = new WireServer(spark)
    try {
      val http = HttpClient.newHttpClient()
      def connect(q: LinkedBlockingQueue[String]): WebSocket =
        http.newWebSocketBuilder().buildAsync(
          URI.create(s"ws://127.0.0.1:${server.actualPort}/ws"),
          new WebSocket.Listener {
            private val buf = new StringBuilder
            override def onText(ws: WebSocket, data: CharSequence,
                                last: Boolean): CompletionStage[_] = {
              buf.append(data)
              if (last) { q.put(buf.toString); buf.clear() }
              ws.request(1)
              null
            }
          }).join()
      val (q1, q2) = (new LinkedBlockingQueue[String](), new LinkedBlockingQueue[String]())
      val (ws1, ws2) = (connect(q1), connect(q2))
      ws1.sendText("""{"type":"query","query":"+notif_t[(1)]"}""", true).join()
      def firstNotification(q: LinkedBlockingQueue[String]): Map[String, Any] = {
        var m = obj(q.poll(60, TimeUnit.SECONDS))
        while (m("type") != "notification") m = obj(q.poll(60, TimeUnit.SECONDS))
        m
      }
      // BOTH connections get the persistent_update push, not just the writer
      Seq(q1, q2).foreach { q =>
        val n = firstNotification(q)
        assert(n("event") == "persistent_update")
        assert(n("relation") == "notif_t")
        assert(n("operation") == "insert")
        assert(n("knowledge_graph") == "default")
      }
      ws1.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
      ws2.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
    } finally server.stop()
  }

  test("session state is per-connection; persistent state is shared") {
    val server = new WireServer(spark)
    try {
      val http = HttpClient.newHttpClient()
      def connect(q: LinkedBlockingQueue[String]): WebSocket =
        http.newWebSocketBuilder().buildAsync(
          URI.create(s"ws://127.0.0.1:${server.actualPort}/ws"),
          new WebSocket.Listener {
            private val buf = new StringBuilder
            override def onText(ws: WebSocket, data: CharSequence,
                                last: Boolean): CompletionStage[_] = {
              buf.append(data)
              if (last) { q.put(buf.toString); buf.clear() }
              ws.request(1)
              null
            }
          }).join()
      val (q1, q2) = (new LinkedBlockingQueue[String](), new LinkedBlockingQueue[String]())
      val (ws1, ws2) = (connect(q1), connect(q2))
      def send(ws: WebSocket, q: LinkedBlockingQueue[String], msg: Map[String, Any]) = {
        ws.sendText(Json.render(msg), true).join()
        var m = obj(q.poll(60, TimeUnit.SECONDS))
        while (m("type") == "notification") m = obj(q.poll(60, TimeUnit.SECONDS))
        m
      }
      send(ws1, q1, Map("type" -> "query", "query" -> "+shared[(1)]"))
      send(ws1, q1, Map("type" -> "insert_facts", "relation" -> "shared",
        "tuples" -> Seq(Seq(99L))))
      // connection 1 sees persistent + its ephemeral fact
      assert(send(ws1, q1, Map("type" -> "query",
        "query" -> "?shared(X)"))("row_count") == 2L)
      // connection 2 sees only the persistent fact
      assert(send(ws2, q2, Map("type" -> "query",
        "query" -> "?shared(X)"))("row_count") == 1L)
      ws1.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
      ws2.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
    } finally server.stop()
  }

  private def wsConnect(server: WireServer,
                        q: LinkedBlockingQueue[String]): WebSocket =
    HttpClient.newHttpClient().newWebSocketBuilder().buildAsync(
      URI.create(s"ws://127.0.0.1:${server.actualPort}/ws"),
      new WebSocket.Listener {
        private val buf = new StringBuilder
        override def onText(ws: WebSocket, data: CharSequence,
                            last: Boolean): CompletionStage[_] = {
          buf.append(data)
          if (last) { q.put(buf.toString); buf.clear() }
          ws.request(1)
          null
        }
      }).join()

  private def wsSend(ws: WebSocket, q: LinkedBlockingQueue[String],
                     msg: Map[String, Any], timeoutSec: Long = 120): Map[String, Any] = {
    ws.sendText(Json.render(msg), true).join()
    var m = obj(q.poll(timeoutSec, TimeUnit.SECONDS))
    while (m("type") == "notification") m = obj(q.poll(timeoutSec, TimeUnit.SECONDS))
    m
  }

  // a query whose semi-naive loop derives ONE new tuple per iteration for
  // a million iterations — diverges for any practical purpose, and every
  // iteration runs Spark jobs (so both the job-group kill and the
  // cooperative flag get exercised)
  private val divergingProgram =
    """+crawl[(0)]
      |+crawl(N) <- crawl(M), N = M + 1, N < 1000000
      |?crawl(N)
      |""".stripMargin

  test("query timeout cancels a diverging recursive query; server keeps serving") {
    // pin the distributed loop: THIS test proves the Spark job-group
    // kill; the driver-local evaluator (which would otherwise solve the
    // bounded program quickly) has its own cancellation test below
    val server = new WireServer(spark,
      limits = graft.iql.Engine.Limits(graft.iql.Engine.Tier.Distributed))
    try {
      val q = new LinkedBlockingQueue[String]()
      val ws = wsConnect(server, q)
      val t0 = System.nanoTime()
      val err = wsSend(ws, q, Map("type" -> "query", "query" -> divergingProgram,
        "timeout_ms" -> 1500L))
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(err("type") == "error", s"expected error, got $err")
      assert(err("message").toString.toLowerCase.contains("timeout"))
      assert(elapsedMs < 30000L, s"cancellation took ${elapsedMs} ms")
      // the connection (and server) must keep answering afterwards
      val ok = wsSend(ws, q, Map("type" -> "query", "query" -> "?crawl(N)"))
      assert(ok("type") == "result" || ok("type") == "error") // served, not wedged
      assert(wsSend(ws, q, Map("type" -> "ping"))("type") == "pong")
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
    } finally server.stop()
  }

  test("query timeout cancels a driver-local fixpoint too") {
    // truly unbounded counter recursion: the local evaluator's round loop
    // must poll the cooperative cancel flag and surface the timeout
    val server = new WireServer(spark)
    try {
      val q = new LinkedBlockingQueue[String]()
      val ws = wsConnect(server, q)
      val t0 = System.nanoTime()
      val err = wsSend(ws, q, Map("type" -> "query",
        "query" -> "+tick[(0)]\n+tick(N) <- tick(M), N = M + 1\n?tick(N)",
        "timeout_ms" -> 1200L))
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(err("type") == "error", s"expected error, got $err")
      assert(err("message").toString.toLowerCase.contains("timeout"))
      assert(elapsedMs < 30000L, s"local cancellation took ${elapsedMs} ms")
      assert(wsSend(ws, q, Map("type" -> "ping"))("type") == "pong")
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
    } finally server.stop()
  }

  test("a slow query on one connection does not block another") {
    // distributed loop again: the slow side must still be mid-flight when
    // the fast query answers
    val server = new WireServer(spark,
      limits = graft.iql.Engine.Limits(graft.iql.Engine.Tier.Distributed))
    try {
      val (qSlow, qFast) = (new LinkedBlockingQueue[String](), new LinkedBlockingQueue[String]())
      val (wsSlow, wsFast) = (wsConnect(server, qSlow), wsConnect(server, qFast))
      // fire the slow query (bounded by its timeout) WITHOUT waiting
      wsSlow.sendText(Json.render(Map("type" -> "query",
        "query" -> divergingProgram, "timeout_ms" -> 8000L)), true).join()
      Thread.sleep(500) // let the slow query enter its fixpoint loop
      val t0 = System.nanoTime()
      val fast = wsSend(wsFast, qFast,
        Map("type" -> "query", "query" -> "+quick[(1),(2)]\n?quick(X)"))
      val fastMs = (System.nanoTime() - t0) / 1000000L
      assert(fast("type") == "result" && fast("row_count") == 2L)
      // only broadcast notifications may have arrived on the slow
      // connection so far — its query result must still be pending
      assert(qSlow.toArray.forall(m => obj(m.toString)("type") == "notification"),
        "slow query finished before the fast one was answered — not a concurrency proof")
      assert(fastMs < 6000L, s"fast query waited ${fastMs} ms behind the slow one")
      // drain the slow query's timeout error
      var slow = obj(qSlow.poll(60, TimeUnit.SECONDS))
      while (slow("type") == "notification") slow = obj(qSlow.poll(60, TimeUnit.SECONDS))
      assert(slow("type") == "error")
      wsSlow.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
      wsFast.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
    } finally server.stop()
  }

  test("proof trees round-trip over the wire for .why queries") {
    val server = new WireServer(spark)
    try {
      val q = new LinkedBlockingQueue[String]()
      val ws = wsConnect(server, q)
      wsSend(ws, q, Map("type" -> "query",
        "query" -> "+pedge[(1,2),(2,3)]\n+preach(X, Y) <- pedge(X, Y)\n+preach(X, Z) <- preach(X, Y), pedge(Y, Z)"))
      val res = wsSend(ws, q, Map("type" -> "query", "query" -> ".why preach(1, 3)"))
      assert(res("type") == "result" && res("derivable") == true)
      val trees = res("proof_trees").asInstanceOf[Vector[Any]]
      assert(trees.length == 1)
      val root = trees.head.asInstanceOf[Map[String, Any]]
      assert(root("kind") == "rule" && root("relation") == "preach")
      assert(root("values") == Vector(1L, 3L))
      val kinds = root("children").asInstanceOf[Vector[Any]]
        .map(_.asInstanceOf[Map[String, Any]]("kind")).toSet
      assert(kinds.nonEmpty) // child derivations present
      // underivable atom: empty proof_trees, derivable=false
      val no = wsSend(ws, q, Map("type" -> "query", "query" -> ".why preach(3, 1)"))
      assert(no("derivable") == false &&
        no("proof_trees").asInstanceOf[Vector[Any]].isEmpty)
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
    } finally server.stop()
  }

  test(".why over the wire honours the query timeout") {
    val server = new WireServer(spark)
    try {
      val q = new LinkedBlockingQueue[String]()
      val ws = wsConnect(server, q)
      wsSend(ws, q, Map("type" -> "query", "query" ->
        ("+tedge[(1,2),(2,3),(3,4),(4,5),(5,6)]\n+treach(X, Y) <- tedge(X, Y)\n" +
          "+treach(X, Z) <- treach(X, Y), tedge(Y, Z)")))
      // a five-hop proof runs Spark jobs at every hop: the 1 ms deadline
      // either kills a running job or stops the search before the next
      val err = wsSend(ws, q, Map("type" -> "query", "query" -> ".why treach(1, 6)",
        "timeout_ms" -> 1L))
      assert(err("type") == "error", s"expected the timeout error, got $err")
      assert(err("message").toString.toLowerCase.contains("timeout"), err)
      val res = wsSend(ws, q, Map("type" -> "query", "query" -> ".why treach(1, 6)"))
      assert(res("type") == "result" && res("derivable") == true, res)
      val root = res("proof_trees").asInstanceOf[Vector[Any]].head.asInstanceOf[Map[String, Any]]
      assert(root("relation") == "treach" && root("values") == Vector(1L, 6L))
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
    } finally server.stop()
  }

  test("per-user ACLs: user CRUD, per-KG roles, owner override, key revocation") {
    val server = new WireServer(spark, authEnabled = true)
    try {
      val admin = server.adminKey.get
      val http = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${server.actualPort}"
      def q(src: String, key: String): Map[String, Any] = {
        val b = HttpRequest.newBuilder(URI.create(base + "/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            Json.render(Map("type" -> "query", "query" -> src))))
          .header("Authorization", s"Bearer $key")
        obj(http.send(b.build(), HttpResponse.BodyHandlers.ofString()).body())
      }
      // admin creates users and a per-user key
      assert(q(".user create ana pw1 viewer", admin)("type") == "ack")
      assert(q(".user create bo pw2 editor", admin)("type") == "ack")
      val anaKey = q(".apikey create ana-key for ana", admin)("key").toString
      // password check works and tracks updates
      assert(server.auth.verifyPassword("ana", "pw1").exists(_.role == "viewer"))
      assert(server.auth.verifyPassword("ana", "nope").isEmpty)
      assert(q(".user password ana pw9", admin)("type") == "ack")
      assert(server.auth.verifyPassword("ana", "pw9").isDefined)
      // user management is admin-only
      assert(q(".user create eve pw viewer", anaKey)("type") == "error")
      // ana has NO ACL on default → denied even for reads (reference:
      // non-admin users need an explicit kg grant)
      assert(q("?whatever(X)", anaKey)("type") == "error")
      // grant viewer on default → reads work, writes still denied
      assert(q(".kg acl grant default ana viewer", admin)("type") == "ack")
      q("+aclrel[(1),(2)]", admin)
      assert(q("?aclrel(X)", anaKey)("row_count") == 2L)
      assert(q("+aclrel[(3)]", anaKey)("type") == "error")
      // OWNER OVERRIDE: ana (global viewer) owns kg 'anas' → full control
      assert(q(".kg create anas", admin)("type") == "ack")
      assert(q(".kg acl grant anas ana owner", admin)("type") == "ack")
      assert(q(".kg use anas", anaKey)("type") == "ack")
      assert(q("+mine[(7)]", anaKey)("type") == "ack",
        "KG owner with global viewer role must write to their KG")
      // and the owner may grant on their KG
      assert(q(".kg acl grant anas bo viewer", anaKey)("type") == "ack")
      assert(q(".kg acl list anas", anaKey)("acls")
        .asInstanceOf[Seq[Map[String, Any]]].map(_("username")) == Seq("ana", "bo"))
      // `.kg drop <name>` authorizes against the TARGET KG: bo (no
      // grant on 'default', owner of nothing) cannot drop it — even
      // after `.kg use anas` where bo holds viewer
      val boKey = q(".apikey create bo-key for bo", admin)("key").toString
      assert(q(".kg drop default", boKey)("type") == "error")
      assert(q(".kg use anas", boKey)("type") == "ack")
      assert(q(".kg drop default", boKey)("type") == "error",
        "a grant on the session KG must not authorize dropping another KG")
      assert(q(".kg drop anas", boKey)("type") == "error", "viewer may not drop")
      // acl listing needs a grant on the TARGET KG: bo has none on default
      assert(q(".kg acl list default", boKey)("type") == "error")
      // the owner may drop their own KG (throwaway, so 'anas' survives
      // for the assertions below)
      assert(q(".kg create tmpkg", admin)("type") == "ack")
      assert(q(".kg acl grant tmpkg ana owner", admin)("type") == "ack")
      assert(q(".kg drop tmpkg", anaKey)("type") == "ack")
      // role change applies to existing keys immediately
      assert(q(".user role ana editor", admin)("type") == "ack")
      assert(server.auth.identify(anaKey).exists(_.role == "editor"))
      // dropping the user kills the key and the ACLs
      assert(q(".user drop ana", admin)("type") == "ack")
      assert(q("?aclrel(X)", anaKey)("message") == "unauthorized")
      assert(server.auth.aclsFor("anas").map(_._1) == Seq("bo"))
    } finally server.stop()
  }

  test("api-key auth: roles gate persistent writes and key management") {
    val server = new WireServer(spark, authEnabled = true)
    try {
      val admin = server.adminKey.get
      val http = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${server.actualPort}"
      def post(path: String, body: String, key: Option[String]): (Int, String) = {
        val b = HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body))
        key.foreach(k => b.header("Authorization", s"Bearer $k"))
        val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def get(path: String, key: Option[String]): (Int, String) = {
        val b = HttpRequest.newBuilder(URI.create(base + path)).GET()
        key.foreach(k => b.header("Authorization", s"Bearer $k"))
        val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // health stays open; everything else needs a key
      assert(get("/health", None)._1 == 200)
      assert(get("/metrics", None)._1 == 401)
      assert(post("/query", Json.render(Map("type" -> "query", "query" -> "?x(A)")),
        Some("bogus"))._1 == 401)
      // admin: create editor + viewer keys
      val editor = obj(post("/auth/keys",
        Json.render(Map("role" -> "editor")), Some(admin))._2)("key").toString
      val viewer = obj(post("/auth/keys",
        Json.render(Map("role" -> "viewer")), Some(admin))._2)("key").toString
      // editor can write persistent data; viewer cannot
      assert(obj(post("/query", Json.render(Map("type" -> "query",
        "query" -> "+authrel[(1),(2)]")), Some(editor))._2)("type") == "ack")
      val denied = obj(post("/query", Json.render(Map("type" -> "query",
        "query" -> "+authrel[(3)]")), Some(viewer))._2)
      assert(denied("type") == "error" &&
        denied("message").toString.contains("viewer"))
      // viewer can query
      assert(obj(post("/query", Json.render(Map("type" -> "query",
        "query" -> "?authrel(X)")), Some(viewer))._2)("row_count") == 2L)
      // `.kg drop` is owner-gated for service keys REGARDLESS of token
      // spacing: the executing parser splits on \s+, so the gate must
      // too (a literal-prefix match let `.kg  drop` through)
      Seq(".kg drop default", ".kg  drop default", ".kg\tdrop default")
        .foreach { src =>
          val d = obj(post("/query", Json.render(Map("type" -> "query",
            "query" -> src)), Some(editor))._2)
          assert(d("type") == "error" &&
            d("message").toString.contains("owner"), s"editor ran '$src'")
        }
      // key management is admin-only
      assert(post("/auth/keys", Json.render(Map("role" -> "viewer")),
        Some(editor))._1 == 403)
      // revoke the viewer key: it stops working
      assert(post("/auth/revoke", Json.render(Map("key" -> viewer)),
        Some(admin))._1 == 200)
      assert(post("/query", Json.render(Map("type" -> "query",
        "query" -> "?authrel(X)")), Some(viewer))._1 == 401)
      // WS upgrade honors api_key query param; viewer keeps session facts
      val q = new LinkedBlockingQueue[String]()
      val ws = HttpClient.newHttpClient().newWebSocketBuilder().buildAsync(
        URI.create(s"ws://127.0.0.1:${server.actualPort}/ws?api_key=$editor"),
        new WebSocket.Listener {
          private val buf = new StringBuilder
          override def onText(w: WebSocket, data: CharSequence,
                              last: Boolean): CompletionStage[_] = {
            buf.append(data)
            if (last) { q.put(buf.toString); buf.clear() }
            w.request(1)
            null
          }
        }).join()
      assert(wsSend(ws, q, Map("type" -> "query", "query" -> "?authrel(X)"))("row_count") == 2L)
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
    } finally server.stop()
  }

  test("max_result_rows truncates and flags the result") {
    val server = new WireServer(spark)
    try {
      val q = new LinkedBlockingQueue[String]()
      val ws = wsConnect(server, q)
      val capsInsert = "+caps[" + (1 to 25).map(i => s"($i)").mkString(",") + "]"
      wsSend(ws, q, Map("type" -> "query", "query" -> capsInsert))
      val res = wsSend(ws, q, Map("type" -> "query", "query" -> "?caps(X)",
        "max_result_rows" -> 10L))
      assert(res("type") == "result")
      assert(res("row_count") == 10L)
      assert(res("truncated") == true)
      val full = wsSend(ws, q, Map("type" -> "query", "query" -> "?caps(X)"))
      assert(full("row_count") == 25L && full("truncated") == false)
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "").join()
    } finally server.stop()
  }
}
