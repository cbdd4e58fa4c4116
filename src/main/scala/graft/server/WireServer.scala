package graft.server

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, InputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.iql.{Catalog, Engine, Repl, Session}

/** Wire-protocol server: HTTP REST + WebSocket on one port, mirroring the
  * reference's production surface (`src/protocol/` — "HTTP Endpoints:
  * /health, /metrics, /ws (all data operations); Wire Format: JSON",
  * `src/protocol/mod.rs:10-19`; message schema `rest/handlers/ws.rs`).
  *
  * Implementation is raw-socket on the JDK only (the build has no HTTP
  * framework): a tiny HTTP/1.1 parser routes GET/POST requests, and a
  * `Connection: Upgrade` request on /ws runs the RFC 6455 handshake +
  * frame codec. One OS thread per connection; each WebSocket connection
  * gets its own [[Session]] view over SHARED knowledge-graph catalogs, so
  * session rules/facts are connection-scoped while persistent state is
  * global — the reference's session model (`src/session.rs`).
  *
  * Spark-side: this server is a driver-process front door. Query
  * execution fans out to the cluster exactly as library calls do; the
  * protocol layer only collects final results (reference returns full
  * result sets per query message the same way).
  *
  * Messages (client → server): `{"type":"query","query":"?edge(X,Y)"}`,
  * `{"type":"insert_facts","relation":"r","tuples":[[1,2]]}`,
  * `{"type":"retract_facts",...}`, `{"type":"add_rule","rule":"..."}`,
  * `{"type":"ping"}`. Server → client: `result` / `ack` / `error` /
  * `pong`, matching the reference's tags.
  */
final class WireServer(spark: SparkSession, port: Int = 0,
                       streamingThresholdBytes: Int = 1024 * 1024,
                       queryTimeoutMs: Long = 30000L,
                       // reference Config::default() max_result_rows =
                       // 100_000 (config.rs:633, and it WARNS on 0):
                       // a finite default is the driver-OOM guard — the
                       // collect below is capped BEFORE it happens, and
                       // uncapped is explicit opt-in (constructor 0 or a
                       // per-message max_result_rows: 0 override)
                       maxResultRows: Long = 100000L,
                       authEnabled: Boolean = false,
                       limits: Engine.Limits = Engine.Limits()) {

  // ------------------------------------------------------------- auth
  // (reference `src/auth.rs`: random 64-hex API keys stored as SHA-256
  // hashes, admin/editor/viewer roles; global role gates system-level
  // operations and persistent writes, viewers keep session-scoped
  // state and queries). Off by default — opt in via `authEnabled`.

  private val apiKeys = new java.util.concurrent.ConcurrentHashMap[String, String]() // sha256 → role
  /** User store + per-user keys + per-KG ACLs (round 4; reference
    * `src/auth.rs` user CRUD / `kg_acls`). Bare [[apiKeys]] service keys
    * coexist: they carry a global role and skip per-KG ACLs. */
  val auth = new Auth
  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
  private val rng = new java.security.SecureRandom()
  private def generateKey(role: String): String = {
    val bytes = new Array[Byte](32)
    rng.nextBytes(bytes)
    val key = bytes.map(b => f"$b%02x").mkString
    apiKeys.put(sha256(key), role)
    key
  }
  /** The bootstrap admin key (present only when auth is enabled). */
  val adminKey: Option[String] = if (authEnabled) Some(generateKey("admin")) else None

  /** Resolve the caller's identity from `Authorization: Bearer <key>`
    * or an `api_key` query parameter; None = unauthorized. Service keys
    * resolve to an anonymous identity with their role; user-bound keys
    * resolve to (user, the user's current role). */
  private def identFor(headers: mutable.Map[String, String],
                       rawPath: String): Option[Auth.Identity] = {
    if (!authEnabled) return Some(Auth.Identity(None, "admin"))
    val bearer = headers.get("authorization")
      .filter(_.toLowerCase.startsWith("bearer "))
      .map(_.substring(7).trim)
    val qp = rawPath.split('?').lift(1).flatMap(_.split('&').collectFirst {
      case kv if kv.startsWith("api_key=") => kv.stripPrefix("api_key=")
    })
    bearer.orElse(qp).flatMap { k =>
      Option(apiKeys.get(sha256(k))).map(r => Auth.Identity(None, r))
        .orElse(auth.identify(k))
    }
  }

  /** Statement-level gating for non-admin roles: viewers keep queries
    * and session-scoped state; editors additionally write persistent
    * data; key management stays admin-only (enforced at the routes). */
  private def authorizeQuery(role: String, src: String): Option[String] = {
    if (role == "admin") return None
    val t = src.trim
    // Token-wise prefix match, NOT a literal string prefix: the
    // executing parser (Repl.meta, kgAuthorize) tokenizes on \s+, so a
    // gate comparing raw text would let `.kg  drop x` (double space /
    // tab) through while the engine still executes it as a drop.
    val words = t.split("\\s+").toSeq
    def cmd(prefix: String*): Boolean = words.take(prefix.length) == prefix
    // `.kg drop` requires the target KG's owner; service keys hold no
    // per-user grants, so only admin keys may drop (the reference's
    // global check defers KgDrop to the per-KG Owner check, which a
    // userless identity cannot pass — `auth.rs:387`).
    if (cmd(".kg", "drop"))
      return Some("dropping a knowledge graph requires its owner")
    if (role == "editor") return None
    if (t.startsWith(".")) {
      val writes = Seq(Seq(".save"), Seq(".open"), Seq(".load"),
        Seq(".import"), Seq(".compact"), Seq(".index", "create"),
        Seq(".index", "drop"), Seq(".kg", "create"), Seq(".kg", "drop"),
        Seq(".rule", "add"), Seq(".rule", "edit"), Seq(".rule", "rm"))
      if (writes.exists(w => cmd(w: _*))) Some(s"role '$role' may not run '$t'")
      else None
    } else {
      import graft.iql.Ast._
      val stmts = try graft.iql.Parser.parseProgram(t).statements
        catch { case _: Throwable => return None } // let the engine error
      val blocked = stmts.exists {
        case _: Query | _: SessionFact => false
        case RuleDef(r) => r.persistent
        case _ => true
      }
      if (blocked) Some(s"role '$role' may not modify persistent state")
      else None
    }
  }

  /** Results whose single-message JSON exceeds [[streamingThresholdBytes]]
    * stream as `result_start` / `result_chunk`×N / `result_end` over the
    * WebSocket, ≤500 rows per chunk (reference STREAMING_THRESHOLD /
    * STREAMING_CHUNK_ROWS, `rest/handlers/ws.rs:47-53`). */
  private val ChunkRows = 500

  private val kgs = mutable.LinkedHashMap("default" -> new Catalog(spark))
  /** An open WebSocket connection. Replies are written by the reader
    * thread under `lock`; notifications are enqueued (bounded) and
    * drained by a dedicated writer thread so a stalled client can never
    * block a mutating statement — when the queue overflows, the laggard
    * is disconnected (the reference's backpressure/lag-disconnect
    * behavior, `rest/handlers/ws.rs:246-247`). */
  private final class WsConn(val out: DataOutputStream, val lock: Object,
                             val sock: Socket) {
    val pending = new java.util.concurrent.LinkedBlockingQueue[String](256)
    @volatile var closed = false
    private val writer = new Thread(() => {
      try {
        while (!closed) {
          val msg = pending.take()
          if (msg.nonEmpty)
            lock.synchronized { writeFrame(out, 0x1, msg.getBytes(UTF_8)) }
        }
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true)
    writer.start()
    def push(msg: String): Unit =
      if (!closed && !pending.offer(msg)) close() // laggard: disconnect
    def close(): Unit = {
      closed = true
      pending.offer("") // wake the writer so it can exit
      try sock.close() catch { case _: Throwable => () }
    }
  }
  private val wsConnections =
    java.util.concurrent.ConcurrentHashMap.newKeySet[WsConn]()
  private val notifySeq = new AtomicLong(0)
  // push `persistent_update` notifications for every KG; KGs created
  // later over the wire (`.kg create`) attach on their first message
  // via ensureListeners()
  private val hookedCatalogs =
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Catalog, java.lang.Boolean]())
  private def ensureListeners(): Unit = kgs.synchronized {
    kgs.foreach { case (kgName, cat) =>
      if (hookedCatalogs.add(cat)) {
        cat.changeListeners += { (rel, op) =>
          val note = Json.render(Map(
            "type" -> "notification", "event" -> "persistent_update",
            "knowledge_graph" -> kgName, "relation" -> rel,
            "operation" -> op, "seq" -> notifySeq.incrementAndGet()))
          broadcast(note)
        }
      }
    }
  }
  ensureListeners()

  private def broadcast(json: String): Unit = {
    val it = wsConnections.iterator()
    while (it.hasNext) {
      val c = it.next()
      c.push(json) // non-blocking; overflow disconnects the laggard
      if (c.closed) it.remove()
    }
  }
  private val serverSocket = new ServerSocket()
  serverSocket.setReuseAddress(true)
  serverSocket.bind(new InetSocketAddress(port))
  @volatile private var running = true
  private val startedAtMs = System.currentTimeMillis()
  private val queriesServed = new AtomicLong(0)
  /** REST /query statements execute in one shared session (stateless
    * clients), WS connections each get their own. */
  private val restSession = newSession()

  def actualPort: Int = serverSocket.getLocalPort

  private def newSession(): Session = new Session(spark, sharedKgs = kgs, limits = limits)

  private val acceptThread = new Thread(() => {
    while (running) {
      try {
        val sock = serverSocket.accept()
        val t = new Thread(() => handle(sock))
        t.setDaemon(true)
        t.start()
      } catch {
        case _: Throwable if !running => ()
        case e: Throwable => System.err.println(s"[wire] accept: ${e.getMessage}")
      }
    }
  })
  acceptThread.setDaemon(true)
  acceptThread.start()

  def stop(): Unit = {
    running = false
    serverSocket.close()
  }

  // ------------------------------------------------------------- HTTP

  private def handle(sock: Socket): Unit = {
    try {
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      val requestLine = readLine(in)
      if (requestLine == null) return
      val parts = requestLine.split(" ")
      if (parts.length < 2) return
      val (method, rawPath) = (parts(0), parts(1))
      val headers = mutable.LinkedHashMap.empty[String, String]
      var line = readLine(in)
      while (line != null && line.nonEmpty) {
        val i = line.indexOf(':')
        if (i > 0) headers(line.substring(0, i).trim.toLowerCase) = line.substring(i + 1).trim
        line = readLine(in)
      }
      val path = rawPath.split('?').head.stripPrefix("/v1") match { case "" => "/"; case p => p }
      val upgrade = headers.get("upgrade").exists(_.equalsIgnoreCase("websocket"))
      // health probes stay unauthenticated (reference liveness endpoints)
      val openPaths = Set("/health", "/live", "/ready")
      val ident = identFor(headers, rawPath)
      if (ident.isEmpty && !openPaths(path)) {
        val body = Json.render(Map("type" -> "error", "message" -> "unauthorized"))
          .getBytes(UTF_8)
        out.write((s"HTTP/1.1 401 Unauthorized\r\nContent-Type: application/json\r\n" +
          s"Content-Length: ${body.length}\r\nConnection: close\r\n\r\n").getBytes(UTF_8))
        out.write(body)
        out.flush()
        return
      }
      if (upgrade && (path == "/ws" || path.startsWith("/sessions/"))) {
        webSocket(headers, in, out, sock, ident.getOrElse(Auth.Identity(None, "admin")))
      } else {
        val body =
          if (method == "POST") {
            val n = headers.get("content-length").map(_.toInt).getOrElse(0)
            val buf = new Array[Byte](n)
            in.readFully(buf)
            new String(buf, UTF_8)
          } else ""
        // non-JSON GET routes (Prometheus exposition, API specs) carry
        // their own content type; everything else stays application/json
        val (status, contentType, payload) = textRoute(method, path).getOrElse {
          val (st, json) = route(method, path, body,
            ident.getOrElse(Auth.Identity(None, "admin")))
          (st, "application/json", json)
        }
        val bytes = payload.getBytes(UTF_8)
        out.write((s"HTTP/1.1 $status\r\nContent-Type: $contentType\r\n" +
          s"Content-Length: ${bytes.length}\r\nConnection: close\r\n\r\n").getBytes(UTF_8))
        out.write(bytes)
        out.flush()
      }
    } catch {
      case _: Throwable => ()
    } finally {
      try sock.close() catch { case _: Throwable => () }
    }
  }

  private def readLine(in: InputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  /** Routes that serve non-JSON bodies: (status, content-type, body).
    * Mirrors the reference's ops/spec endpoints
    * (`src/protocol/rest/mod.rs:239-244`): Prometheus text exposition
    * plus the OpenAPI/AsyncAPI YAML and the WS protocol page. */
  private def textRoute(method: String, path: String): Option[(String, String, String)] =
    (method, path) match {
      case ("GET", "/metrics/prometheus") =>
        Some(("200 OK", "text/plain; version=0.0.4; charset=utf-8", prometheusMetrics()))
      case ("GET", "/api/openapi.yaml") =>
        Some(("200 OK", "text/yaml; charset=utf-8", ApiSpec.openApiYaml))
      case ("GET", "/api/asyncapi.yaml") =>
        Some(("200 OK", "text/yaml; charset=utf-8", ApiSpec.asyncApiYaml))
      case ("GET", "/api/ws-docs") =>
        Some(("200 OK", "text/html; charset=utf-8", ApiSpec.wsDocsHtml))
      case _ => None
    }

  /** Prometheus text exposition (reference `admin.rs prometheus_metrics`
    * — same metric family per gauge, our engine prefix). SCRAPE-CHEAP by
    * construction: counts come from catalog metadata and the last
    * ANALYZE's stored row counts — a scrape never runs a Spark job, so
    * a monitoring loop can hit this every few seconds against a server
    * holding 100 TB relations. */
  private def prometheusMetrics(): String = {
    val kgSnap = kgs.synchronized(kgs.toSeq)
    var relTotal = 0L
    var viewTotal = 0L
    var idxTotal = 0L
    var tuplesKnown = 0L
    kgSnap.foreach { case (_, cat) =>
      val rels = cat.relationNames
      relTotal += rels.length
      viewTotal += cat.rules.length
      idxTotal += cat.indexMeta.size
      rels.foreach(r => cat.statRows(r).foreach(n => tuplesKnown += n))
    }
    val uptime = (System.currentTimeMillis() - startedAtMs) / 1000L
    val sb = new StringBuilder(1024)
    def metric(name: String, kind: String, help: String, value: Long): Unit = {
      sb.append(s"# HELP $name $help\n")
      sb.append(s"# TYPE $name $kind\n")
      sb.append(s"$name $value\n")
    }
    metric("graft_uptime_seconds", "gauge", "Server uptime in seconds.", uptime)
    metric("graft_queries_total", "counter", "Total queries executed.",
      queriesServed.get())
    metric("graft_knowledge_graphs", "gauge", "Number of knowledge graphs.",
      kgSnap.length.toLong)
    metric("graft_relations_total", "gauge", "Total base relations.", relTotal)
    metric("graft_views_total", "gauge", "Total derived views (rules).", viewTotal)
    metric("graft_indexes_total", "gauge", "Registered vector indexes.", idxTotal)
    metric("graft_tuples_analyzed_total", "gauge",
      "Stored tuples across ANALYZEd relations (stale-allowed counts).",
      tuplesKnown)
    metric("graft_sessions_total", "gauge", "Active WebSocket sessions.",
      wsConnections.size.toLong)
    sb.toString
  }

  private def route(method: String, path: String, body: String,
                    ident: Auth.Identity): (String, String) = {
    val role = ident.role
    (method, path) match {
      case ("GET", "/health") | ("GET", "/live") | ("GET", "/ready") =>
        ("200 OK", Json.render(Map("status" -> "healthy")))
      // key management (reference ApiKeyCreate/List/Revoke — admin-only)
      case ("POST", "/auth/keys") if role != "admin" =>
        ("403 Forbidden", Json.render(Map("type" -> "error",
          "message" -> "api key management requires the admin role")))
      case ("POST", "/auth/keys") =>
        val msg = try Json.parse(body).asInstanceOf[Map[String, Any]]
          catch { case _: Throwable => Map.empty[String, Any] }
        val keyRole = msg.getOrElse("role", "viewer").toString
        if (!Set("admin", "editor", "viewer")(keyRole))
          ("400 Bad Request", Json.render(Map("type" -> "error",
            "message" -> s"unknown role '$keyRole'")))
        else ("200 OK", Json.render(Map("type" -> "api_key",
          "key" -> generateKey(keyRole), "role" -> keyRole)))
      case ("GET", "/auth/keys") if role != "admin" =>
        ("403 Forbidden", Json.render(Map("type" -> "error",
          "message" -> "api key management requires the admin role")))
      case ("GET", "/auth/keys") =>
        import scala.jdk.CollectionConverters._
        ("200 OK", Json.render(Map("type" -> "api_keys",
          "keys" -> apiKeys.asScala.toSeq.sortBy(_._1).map { case (h, r) =>
            Map("key_hash" -> h, "role" -> r)
          })))
      case ("POST", "/auth/revoke") if role != "admin" =>
        ("403 Forbidden", Json.render(Map("type" -> "error",
          "message" -> "api key management requires the admin role")))
      case ("POST", "/auth/revoke") =>
        val msg = try Json.parse(body).asInstanceOf[Map[String, Any]]
          catch { case _: Throwable => Map.empty[String, Any] }
        val hash = msg.get("key_hash").map(_.toString)
          .orElse(msg.get("key").map(k => sha256(k.toString)))
        hash.flatMap(h => Option(apiKeys.remove(h))) match {
          case Some(r) => ("200 OK", Json.render(Map("type" -> "ack",
            "message" -> s"revoked $r key")))
          case None => ("404 Not Found", Json.render(Map("type" -> "error",
            "message" -> "unknown key")))
        }
      case ("GET", "/metrics") =>
        val cat = kgs("default")
        ("200 OK", Json.render(Map(
          "uptime_ms" -> (System.currentTimeMillis() - startedAtMs),
          "queries_served" -> queriesServed.get(),
          "knowledge_graphs" -> kgs.keys.toSeq,
          "relations" -> cat.relationNames,
          "rules" -> cat.rules.length,
          "indexes" -> cat.indexMeta.keys.toSeq)))
      case ("POST", "/query") =>
        try {
          val msg = Json.parse(body).asInstanceOf[Map[String, Any]]
          restSession.synchronized {
            ("200 OK", Json.render(dispatch(restSession, msg, ident)))
          }
        } catch {
          case e: Exception => ("400 Bad Request", Json.render(
            Map("type" -> "error", "message" -> String.valueOf(e.getMessage))))
        }
      case _ =>
        ("404 Not Found", Json.render(Map("type" -> "error", "message" -> s"no route $method $path")))
    }
  }

  // ---------------------------------------------- user / ACL commands

  /** Server-level management commands (reference `MetaCommand::User*` /
    * `ApiKey*` / `KgAcl*`, `src/statement/meta.rs:76-109`): handled
    * before the engine ever sees the statement. Returns None when `src`
    * is not a management command. User/key management is admin-only;
    * `.kg acl grant|revoke` additionally allows the KG's owner
    * (reference: Owner may manage ACLs, `auth.rs:185`). */
  private def adminCommand(src: String,
                           ident: Auth.Identity): Option[Map[String, Any]] = {
    val words = src.split("\\s+").toSeq
    def ack(m: String) = Some(Map[String, Any]("type" -> "ack", "message" -> m))
    def err(m: String) = Some(Map[String, Any]("type" -> "error", "message" -> m))
    def adminOnly(body: => Option[Map[String, Any]]): Option[Map[String, Any]] =
      if (ident.role != "admin") err("requires the admin role") else body
    def fromEither(e: Either[String, Unit], ok: String) =
      e.fold(err, _ => ack(ok))
    words match {
      case Seq(".user", "list") => adminOnly {
        Some(Map[String, Any]("type" -> "users",
          "users" -> auth.listUsers.map { case (n, r) =>
            Map("username" -> n, "role" -> r) }))
      }
      case Seq(".user", "create", u, pw, role) => adminOnly {
        fromEither(auth.createUser(u, pw, role), s"User '$u' created ($role)")
      }
      case Seq(".user", "drop", u) => adminOnly {
        fromEither(auth.dropUser(u), s"User '$u' dropped")
      }
      case Seq(".user", "password", u, pw) => adminOnly {
        fromEither(auth.setPassword(u, pw), s"Password updated for '$u'")
      }
      case Seq(".user", "role", u, role) => adminOnly {
        fromEither(auth.setRole(u, role), s"Role of '$u' set to $role")
      }
      case Seq(".apikey", "create", label) => adminOnly {
        auth.createKey(label, ident.user, ident.role)
          .fold(err, k => Some(Map[String, Any]("type" -> "api_key",
            "key" -> k, "label" -> label)))
      }
      case Seq(".apikey", "create", label, "for", u) => adminOnly {
        auth.createKey(label, Some(u), "viewer")
          .fold(err, k => Some(Map[String, Any]("type" -> "api_key",
            "key" -> k, "label" -> label, "username" -> u)))
      }
      case Seq(".apikey", "list") => adminOnly {
        Some(Map[String, Any]("type" -> "api_keys",
          "keys" -> auth.listKeys.map { case (label, role, user) =>
            Map("label" -> label, "role" -> role, "username" -> user) }))
      }
      case Seq(".apikey", "revoke", label) => adminOnly {
        if (auth.revokeKey(label)) ack(s"Key '$label' revoked")
        else err(s"Unknown key label '$label'")
      }
      case Seq(".kg", "acl", "list", kg) =>
        // listing is gated on the TARGET KG: admins always; users need
        // any grant on that KG (reference denies identities with no
        // role on the target, `protocol/handler.rs:4343-4366`, and any
        // KG role may list, `auth.rs:239,308`). Non-admin service keys
        // hold no per-KG grants → denied.
        if (ident.role != "admin" &&
            (ident.user.isEmpty || auth.kgRoleFor(kg, ident).isEmpty))
          err(s"Access denied to knowledge graph '$kg'")
        else Some(Map[String, Any]("type" -> "kg_acls", "kg" -> kg,
          "acls" -> auth.aclsFor(kg).map { case (u, r) =>
            Map("username" -> u, "role" -> r) }))
      case Seq(".kg", "acl", "grant", kg, u, role) =>
        if (ident.role != "admin" && !auth.kgRoleFor(kg, ident).contains("owner"))
          err("granting requires admin or the KG's owner")
        else fromEither(auth.grant(kg, u, role), s"Granted $role on '$kg' to '$u'")
      case Seq(".kg", "acl", "revoke", kg, u) =>
        if (ident.role != "admin" && !auth.kgRoleFor(kg, ident).contains("owner"))
          err("revoking requires admin or the KG's owner")
        else if (auth.revoke(kg, u)) ack(s"Revoked '$u' on '$kg'")
        else err(s"No ACL entry for '$u' on '$kg'")
      case _ => None
    }
  }

  /** Per-KG authorization for USER identities (service keys and admins
    * skip it — reference `create_session_with_auth`,
    * `protocol/handler.rs:945-961`): `.kg use <name>` requires an ACL
    * entry; statements on the current KG are gated by the KG role
    * (viewer = read-only, editor = no drop; owner = everything —
    * `authorize_kg_operation`, `auth.rs:183-210`). */
  private def kgAuthorize(session: Session, src: String,
                          ident: Auth.Identity): Option[String] = {
    if (ident.user.isEmpty || ident.role == "admin") return None
    val words = src.split("\\s+").toSeq
    words match {
      case Seq(".kg", "use", name) =>
        if (auth.kgRoleFor(name, ident).isEmpty)
          Some(s"Access denied to knowledge graph '$name'")
        else None
      // `.kg drop <name>` authorizes against the TARGET KG, not the
      // session's current one (the reference resolves the target from
      // the statement itself, `protocol/handler.rs:4329-4366`): no
      // grant → access denied; any grant below owner → denied.
      case Seq(".kg", "drop", name) =>
        auth.kgRoleFor(name, ident) match {
          case None => Some(s"Access denied to knowledge graph '$name'")
          case Some("owner") => None
          case Some(_) => Some("dropping a knowledge graph requires its owner")
        }
      // `.kg create` targets no existing KG, so only the GLOBAL role
      // gates it: viewers cannot create (reference `auth.rs:378-384`).
      case Seq(".kg", "create", _) =>
        if (ident.role == "viewer") Some("viewers cannot create knowledge graphs")
        else None
      // `.kg list` / `.kg show` are global reads, no target KG
      // (reference `protocol/handler.rs:4346-4353`).
      case Seq(".kg") | Seq(".kg", "show") | Seq(".kg", "list") => None
      case _ =>
        auth.kgRoleFor(session.kg, ident) match {
          case None => Some(s"Access denied to knowledge graph '${session.kg}'")
          case Some("viewer") => authorizeQuery("viewer", src)
          case _ => None
        }
    }
  }

  // -------------------------------------------------------- WebSocket

  private val WsGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  private def webSocket(headers: mutable.Map[String, String],
                        in: DataInputStream, out: DataOutputStream,
                        sock: Socket,
                        ident: Auth.Identity): Unit = {
    val key = headers.getOrElse("sec-websocket-key",
      throw new IllegalArgumentException("missing Sec-WebSocket-Key"))
    val accept = Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1").digest((key + WsGuid).getBytes(UTF_8)))
    val session = newSession()
    val writeLock = new Object
    val conn = new WsConn(out, writeLock, sock)
    // fragmented-message assembly (RFC 6455 §5.4): a data frame with
    // FIN=0 starts a message, continuation frames (opcode 0) append,
    // FIN=1 completes; control frames may interleave
    val fragments = new java.io.ByteArrayOutputStream()
    var fragmentOp = -1
    def handleMessage(payload: Array[Byte]): Unit = {
      val responses =
        try {
          val msg = Json.parse(new String(payload, UTF_8)).asInstanceOf[Map[String, Any]]
          dispatchAll(session, msg, ident = ident)
        } catch {
          case e: Exception =>
            Seq(Map("type" -> "error", "message" -> String.valueOf(e.getMessage)))
        }
      responses.foreach(r =>
        writeLock.synchronized { writeFrame(out, 0x1, Json.render(r).getBytes(UTF_8)) })
    }
    try {
      // register before the handshake completes, so a client that has its
      // 101 already receives every later notification; holding the write
      // lock keeps a notification frame from preceding the 101
      writeLock.synchronized {
        wsConnections.add(conn)
        out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
          s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
        out.flush()
      }
      var open = true
      while (open) {
        readFrame(in) match {
          case None => open = false
          case Some((_, 0x8, _)) => // close
            writeLock.synchronized { writeFrame(out, 0x8, Array.emptyByteArray) }
            open = false
          case Some((_, 0x9, payload)) =>
            writeLock.synchronized { writeFrame(out, 0xA, payload) } // ping→pong
          case Some((_, 0xA, _)) => () // unsolicited pong
          case Some((fin, op, payload)) if op == 0x1 || op == 0x2 =>
            if (fin) handleMessage(payload)
            else { fragments.reset(); fragments.write(payload); fragmentOp = op }
          case Some((fin, 0x0, payload)) if fragmentOp >= 0 => // continuation
            fragments.write(payload)
            require(fragments.size <= 16 * 1024 * 1024, "message exceeds 16 MB limit")
            if (fin) {
              handleMessage(fragments.toByteArray)
              fragments.reset(); fragmentOp = -1
            }
          case Some(_) => () // unknown frame
        }
      }
    } finally {
      wsConnections.remove(conn)
      conn.close()
    }
  }

  /** One frame: (fin, opcode, unmasked payload); None on EOF. */
  private def readFrame(in: DataInputStream): Option[(Boolean, Int, Array[Byte])] = {
    val b0 = in.read()
    if (b0 < 0) return None
    val fin = (b0 & 0x80) != 0
    val opcode = b0 & 0x0F
    val b1 = in.read()
    if (b1 < 0) return None
    val masked = (b1 & 0x80) != 0
    var len: Long = b1 & 0x7F
    if (len == 126) len = in.readUnsignedShort().toLong
    else if (len == 127) len = in.readLong()
    require(len <= 16L * 1024 * 1024, "frame exceeds 16 MB limit") // reference MAX_MESSAGE_SIZE
    val mask = if (masked) { val m = new Array[Byte](4); in.readFully(m); m } else null
    val payload = new Array[Byte](len.toInt)
    in.readFully(payload)
    if (masked) {
      var i = 0
      while (i < payload.length) { payload(i) = (payload(i) ^ mask(i % 4)).toByte; i += 1 }
    }
    Some((fin, opcode, payload))
  }

  private def writeFrame(out: DataOutputStream, opcode: Int, payload: Array[Byte]): Unit = {
    out.write(0x80 | opcode)
    if (payload.length < 126) out.write(payload.length)
    else if (payload.length < 65536) { out.write(126); out.writeShort(payload.length) }
    else { out.write(127); out.writeLong(payload.length.toLong) }
    out.write(payload)
    out.flush()
  }

  // --------------------------------------------------------- messages

  /** Single-message dispatch (REST surface — no streaming). */
  private def dispatch(session: Session, msg: Map[String, Any],
                       ident: Auth.Identity): Map[String, Any] =
    dispatchAll(session, msg, chunked = false, ident = ident).head

  /** Statement dispatch runs CONCURRENTLY across connections: queries are
    * snapshot reads over immutable DataFrames, and the shared driver-side
    * structures (KG map, per-catalog state) take their own fine-grained
    * locks ([[Catalog]] methods are synchronized; the KG map synchronizes
    * on itself) — so one slow query never wedges other clients. Each
    * query runs under a [[graft.QueryGuard]] job-group with the server
    * timeout (reference `query_timeout_ms`, default 30 s) unless the
    * message overrides it with `timeout_ms`; results truncate at
    * `max_result_rows` with a `truncated` flag (reference
    * `src/config.rs:241-243`; default 100k as in `config.rs:633`,
    * 0 = unlimited is explicit opt-in per message or constructor). */
  private def dispatchAll(session: Session, msg: Map[String, Any],
                          chunked: Boolean = true,
                          ident: Auth.Identity): Seq[Map[String, Any]] = {
    val role = ident.role
    // role gating for statements that can touch persistent state
    msg.getOrElse("type", "") match {
      case "query" | "add_rule" =>
        val src = msg.getOrElse("query", msg.getOrElse("rule", "")).toString
        // server-level management commands (.user / .apikey / .kg acl)
        // never reach the engine
        adminCommand(src.trim, ident).foreach(resp => return Seq(resp))
        // service keys (no user) gate on the GLOBAL role; user
        // identities gate on their per-KG role — the reference's
        // separation, where a global viewer who owns a KG can fully
        // manage it (`auth.rs:337-345`)
        val denied =
          if (ident.user.isEmpty) authorizeQuery(role, src)
          else kgAuthorize(session, src.trim, ident)
        denied.foreach(d => return Seq(Map("type" -> "error", "message" -> d)))
      case _ => () // ping / session-scoped fact ops are role-free
    }
    def msgLong(key: String, dflt: Long): Long = msg.get(key) match {
      case Some(v: Long) => v
      case Some(v: Double) => v.toLong
      case Some(v) => try v.toString.toLong catch { case _: Throwable => dflt }
      case None => dflt
    }
    try {
      ensureListeners() // hook KGs created since the last message
      msg.getOrElse("type", "") match {
        case "ping" => Seq(Map("type" -> "pong"))
        // `.why <atom>` over the wire returns structured proof trees in
        // the result (reference `QueryResult.proof_trees`,
        // `src/protocol/wire.rs:323-325`), not just rendered text; the
        // proof search runs under the same timeout as any query
        case "query" if msg("query").toString.trim.startsWith(".why ") =>
          val src = msg("query").toString.trim
          val t0 = System.nanoTime()
          val proof = graft.QueryGuard.withTimeout(spark, msgLong("timeout_ms", queryTimeoutMs), src) {
            graft.iql.Provenance.why(session.engine,
              graft.iql.Repl.parseGroundAtom(src.stripPrefix(".why ").trim))
          }
          queriesServed.incrementAndGet()
          Seq(Map(
            "type" -> "result",
            "columns" -> Seq.empty[String],
            "rows" -> Seq.empty[Any],
            "row_count" -> 0L,
            "truncated" -> false,
            "derivable" -> proof.isDefined,
            "proof_trees" -> proof.map(p => Seq(p.json)).getOrElse(Seq.empty),
            "execution_time_ms" -> ((System.nanoTime() - t0) / 1000000L)))
        case "query" =>
          val src = msg("query").toString
          val timeoutMs = msgLong("timeout_ms", queryTimeoutMs)
          val maxRows = msgLong("max_result_rows", maxResultRows)
          val t0 = System.nanoTime()
          val results = graft.QueryGuard.withTimeout(spark, timeoutMs, src) {
            val rs = session.execute(src)
            // force the collect INSIDE the guard so result materialization
            // is governed by the same timeout as the query jobs
            rs.lastOption match {
              case Some(Repl.Table(df)) => Left(resultMessage(df, t0, maxRows))
              case Some(Repl.Text(lines)) => Right(Some(lines))
              case None => Right(None)
            }
          }
          queriesServed.incrementAndGet()
          results match {
            case Left(single) =>
              if (!chunked || Json.render(single).length <= streamingThresholdBytes)
                Seq(single)
              else {
                val rows = single("rows").asInstanceOf[Seq[Any]]
                val chunks = rows.grouped(ChunkRows).toSeq
                Map("type" -> "result_start",
                  "columns" -> single("columns"),
                  "total_count" -> rows.length.toLong,
                  "truncated" -> single("truncated"),
                  "execution_time_ms" -> single("execution_time_ms")) +:
                  chunks.zipWithIndex.map { case (c, i) =>
                    Map("type" -> "result_chunk", "rows" -> c,
                      "chunk_index" -> i.toLong)
                  } :+
                  Map("type" -> "result_end",
                    "row_count" -> rows.length.toLong,
                    "chunk_count" -> chunks.length.toLong)
              }
            case Right(Some(lines)) =>
              Seq(Map("type" -> "ack", "message" -> lines.mkString("\n")))
            case Right(None) => Seq(Map("type" -> "ack", "message" -> "ok"))
          }
        case "insert_facts" =>
          val rel = msg("relation").toString
          val tuples = jsonTuples(msg("tuples"))
          session.engine.addSessionFacts(rel, tuples)
          Seq(Map("type" -> "ack",
            "message" -> s"Inserted ${tuples.length} fact(s) into '$rel'"))
        case "retract_facts" =>
          val rel = msg("relation").toString
          val tuples = jsonTuples(msg("tuples"))
          val n = session.engine.retractSessionFacts(rel, tuples)
          Seq(Map("type" -> "ack", "message" -> s"Retracted $n fact(s) from '$rel'"))
        case "add_rule" =>
          val rule = msg("rule").toString
          session.execute(rule)
          Seq(Map("type" -> "ack", "message" -> "Rule added"))
        case other =>
          Seq(Map("type" -> "error", "message" -> s"unknown message type '$other'"))
      }
    } catch {
      case e: Exception =>
        Seq(Map("type" -> "error", "message" -> String.valueOf(e.getMessage)))
    }
  }

  private def jsonTuples(v: Any): Seq[Seq[Any]] =
    v.asInstanceOf[Seq[Any]].map(_.asInstanceOf[Seq[Any]].map {
      case xs: Seq[_] => xs.map { // nested array = vector value (f32)
        case d: Double => d.toFloat
        case l: Long => l.toFloat
        case o => o.toString.toFloat
      }
      case x => x
    })

  private def resultMessage(df: DataFrame, t0: Long, maxRows: Long): Map[String, Any] = {
    val collected =
      if (maxRows > 0) df.limit(math.min(maxRows, Int.MaxValue - 1L).toInt + 1).collect()
      else df.collect()
    val truncated = maxRows > 0 && collected.length > maxRows
    val rows = (if (truncated) collected.take(maxRows.toInt) else collected)
      .map(_.toSeq.map(cell)).toSeq
    Map(
      "type" -> "result",
      "columns" -> df.columns.toSeq,
      "rows" -> rows,
      "row_count" -> rows.length,
      "truncated" -> truncated,
      "execution_time_ms" -> ((System.nanoTime() - t0) / 1000000L))
  }

  private def cell(v: Any): Any = v match {
    // dynamically-typed (AnyValue) cells decode to the plain value —
    // the wire shows 5 / "x" / true, never the tagged struct encoding
    case r: org.apache.spark.sql.Row if graft.iql.AnyValue.isAnyRow(r) =>
      cell(graft.iql.AnyValue.decode(r))
    case s: Seq[_] => s
    case arr: Array[_] => arr.toSeq
    case ts: java.sql.Timestamp => ts.getTime
    case d: java.sql.Date => d.getTime
    case other => other
  }
}
