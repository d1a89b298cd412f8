package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** A real LISTENING HTTP shell over the param/dispatch layer — the
  * socket counterpart of [[Endpoints]], built on the JDK's bundled
  * `com.sun.net.httpserver` so it adds zero dependencies. The route
  * tree mirrors the reference's axum nesting (`src/router/src/lib.rs`:
  * Loki under `/loki`, Prometheus under `/prometheus`, Tempo search
  * under `/api`; `endpoints/{logql,promql,tempo}.rs` route tables) for
  * the read-path query endpoints; errors surface as the handler's
  * `HttpError` status with a JSON error body, unknown paths as 404.
  *
  * Scope: single-tenant local serving. The reference's auth, rate,
  * read-scope, and admin middleware layers are control-plane
  * infrastructure the driver keeps out of local scope — the QUERY
  * surface (param parsing → lowering → envelope serialization → bytes
  * on a socket) is what this closes. Spark is the execution engine
  * behind every handler, so requests execute on the cluster; the
  * listener itself is a thin adapter.
  *
  * Determinism: "now" is injected at construction, never a clock read.
  *
  * With `ingest` set, the ACCEPTOR routes go live too (reference
  * `src/acceptor/src/lib.rs` route table): OTLP/HTTP POST `/v1/logs`,
  * `/v1/traces`, `/v1/metrics`, `/v1development/profiles` and the
  * Pyroscope pprof upload `POST /ingest?name=…` — each decodes on
  * executors through the existing wire parsers and lands through the
  * idempotent batch sink into the stored hour layout, so a request is
  * queryable by the GET routes immediately after the 200.
  *
  * Sessions: every READ route runs in one served session the shell
  * owns — the query, metadata and render routes of [[route]], the POST
  * `/api/v1/query` IR route, the POST form variants of the Prometheus
  * query routes, and the landed logs table the Loki routes read. It is
  * a clone of the caller's session as of construction (its runtime
  * confs, temp views and functions then; the caller's session is never
  * changed) with whole-stage codegen off and expression codegen set to
  * interpret. Codegen puts literals into the generated source, so every
  * request with a fresh time window would compile new classes: a Janino
  * compile per plan and per task-side projection, each costing more
  * than interpreting the few thousand rows a served window holds.
  * Everything else stays on the caller's session: ingest, the
  * `/api/v1/ops` routes, live tail, Arrow and Flight SQL tickets
  * (arbitrary-size SQL), and the demand and self-monitoring flushes —
  * writes, streams and plans whose size a request does not bound.
  * Served data far beyond these row counts would want codegen with the
  * window literals turned into parameters instead. The copy is not
  * live: confs, temp views and query execution listeners added to the
  * caller's session after construction do not reach the read routes (a
  * listener registered later, such as the perfbench tracer's, sees none
  * of their plans).
  */
final class HttpShell(spark: SparkSession, dir: String, nowNs: Long,
    ingest: Option[graft.storage.Storage.TableLayout] = None,
    /** query-API rate limit, requests/second (reference
      * `common/ratelimit.rs` token bucket via the router's
      * query_limiter, lib.rs:125): None = unlimited, exactly like an
      * unset `[auth].default_limits` there. Applies to query GETs;
      * health/readiness probes are never limited. */
    queryRatePerSec: Option[Double] = None,
    /** ingest byte-rate limit, bytes/second (the ratelimit.rs `Bytes`
      * bucket dimension the acceptors consult): the POST body's length
      * is the token cost; None = unlimited. */
    ingestBytesPerSec: Option[Double] = None,
    /** API-key auth: sha256-hex-of-key → owning tenant (reference
      * `common/src/auth/authenticator.rs:88` indexes config keys by
      * hash so raw credentials never sit in memory; build entries with
      * [[HttpShell.hashApiKey]]). None = the open single-tenant shell,
      * exactly the pre-auth behavior. When set, every route except the
      * `/health` and `/ready` probes demands `Authorization: Bearer
      * <key>` plus `X-Tenant-ID`, and the key must belong to that
      * tenant (middleware.rs:44-89 header extraction; 401/400/403
      * split per AuthError). */
    apiKeys: Option[Map[String, String]] = None,
    /** sha256 hashes of INSTANCE-ADMIN keys (management.rs:117
      * `is_instance_admin`): may create tenants over the management
      * API and manage any tenant. Setting this alone also turns auth
      * on. The reference's admin principal is a human OAuth session;
      * sessions/OAuth are driver-scoped out, so an admin API key is
      * the instance-admin credential here. */
    adminApiKeys: Set[String] = Set.empty) {

  /** tenant/dataset/api-key catalog behind `/api/v1/manage` — config
    * keys from the constructor plus keys minted over the wire. An
    * ingest-configured shell persists catalog state next to its data
    * (`_system/catalog.json`, atomic snapshot per mutation), so minted
    * keys and created tenants survive a restart the way the
    * reference's catalog database does; a read-only shell stays
    * in-memory. */
  private[api] val catalog = new TenantCatalog(apiKeys.getOrElse(Map.empty),
    adminApiKeys,
    ingest.map(l => java.nio.file.Path.of(
      l.basePath, "_system", "catalog.json")))
  private def authEnabled: Boolean = apiKeys.isDefined || adminApiKeys.nonEmpty

  /** the session of every read route (see the class header) */
  private[api] val served: SparkSession = {
    val s = org.apache.spark.sql.GraftShim.cloneSession(spark)
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  /** token bucket: `rate` tokens/s, holding at most max(1, rate) —
    * the burst equals one second of budget (ratelimit.rs TokenBucket,
    * with burst pinned to rate for the single-knob surface). Buckets
    * are PER TENANT (ratelimit.rs keys by tenant id; the x-tenant-id
    * header selects it, absent = the shell's single default tenant). */
  private final class TokenBucket(rate: Double) {
    private val burst = math.max(1.0, rate)
    private var tokens = burst
    private var last = System.nanoTime()
    def tryAcquire(cost: Double = 1.0): Boolean = synchronized {
      val now = System.nanoTime()
      tokens = math.min(burst, tokens + (now - last) / 1e9 * rate)
      last = now
      if (tokens >= cost) { tokens -= cost; true } else false
    }
  }
  private final class TenantBuckets(rate: Double) {
    // BOUNDED: with auth disabled the x-tenant-id header is attacker-
    // controlled, so an unauthenticated client could otherwise mint one
    // bucket per random header and grow the map without limit. Past the
    // cap every unseen tenant shares one overflow bucket (they contend
    // for a single budget — strictly tighter, never looser).
    private val MaxTracked = 4096
    private val buckets =
      scala.collection.concurrent.TrieMap.empty[String, TokenBucket]
    private lazy val overflow = new TokenBucket(rate)
    def tryAcquire(tenant: String, cost: Double = 1.0): Boolean = {
      val b = buckets.get(tenant) match {
        case Some(x) => x
        case None if buckets.size >= MaxTracked => overflow
        case None => buckets.getOrElseUpdate(tenant, new TokenBucket(rate))
      }
      b.tryAcquire(cost)
    }
  }
  private val queryBuckets = queryRatePerSec.map(new TenantBuckets(_))
  private val ingestBuckets = ingestBytesPerSec.map(new TenantBuckets(_))

  /** the tenant key used for RATE ACCOUNTING. With auth enabled the
    * header was already validated by authCheck; with auth disabled it
    * is raw attacker input, so anything failing the tenant-id grammar
    * collapses to one shared "!invalid" key — garbage headers contend
    * for a single bucket instead of draining the default tenant's
    * budget or minting fresh buckets. */
  private def tenantOf(ex: HttpExchange): String =
    Option(ex.getRequestHeaders.getFirst("x-tenant-id")) match {
      case None => ingest.map(_.tenant).getOrElse("default")
      case Some(t) =>
        if (t.nonEmpty && t.length <= 64 &&
            t.forall(c => (c < 128 && c.isLetterOrDigit) ||
              c == '-' || c == '_')) t
        else "!invalid"
    }

  private var server: HttpServer = _
  // Per-request batch ids for the idempotent sink. Seeded from the wall
  // clock at construction so a RESTARTED shell never reuses an earlier
  // incarnation's ids — reused ids would hit existing commit markers and
  // silently no-op the append (the streaming path gets this from the
  // checkpointed batchId; an HTTP acceptor has no checkpoint).
  private val batchBase = System.currentTimeMillis() * 1000000L
  private val batchSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** bind 127.0.0.1:port (0 = ephemeral) and start serving; returns the
    * bound port. */
  def start(port: Int = 0): Int = {
    // the JDK server writes headers and body as two segments; without
    // TCP_NODELAY the body waits out the client's delayed ACK (~40 ms
    // per response). Read once, when the first server is created.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    // a SMALL pool, not serial dispatch: a live-tail exchange holds its
    // connection open for the lifetime of the tail, so the acceptor
    // POSTs that FEED it must be dispatchable concurrently (Spark's
    // scheduler is thread-safe; concurrent handler jobs just queue).
    pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  private var pool: java.util.concurrent.ExecutorService = _
  private var flight: FlightGrpc = _

  /** start the Arrow Flight gRPC listener (h2c) alongside the HTTP
    * shell, sharing its credential catalog: with auth enabled, Flight
    * demands the same admin-band credential as `/api/v1/arrow` (a
    * scoped key never reads cross-signal SQL). Returns the bound
    * port. */
  def startFlight(port: Int = 0): Int = {
    flight = new FlightGrpc(spark, dir,
      if (authEnabled) Some(k => catalog.resolve(HttpShell.hashApiKey(k)))
      else None,
      onServed = recordFlight)
    flight.start(port)
  }

  def stop(): Unit = if (server != null) {
    server.stop(0); server = null
    if (pool != null) { pool.shutdownNow(); pool = null }
    if (flight != null) { flight.stop(); flight = null }
    flushSelfMetrics() // drain buffered self-monitoring points
    graft.Tables.dropViews(served)
  }

  /** Reference auth subset over the request headers (middleware.rs
    * extract_auth_headers + authenticator.rs authenticate): missing
    * credentials and unknown/revoked keys are 401, malformed
    * scheme/tenant 400, a real key presented for a tenant it doesn't
    * own 403 (admin keys act on any valid tenant, is_instance_admin).
    * Returns the validated (tenant header, principal) or the
    * rejection. */
  /** middleware.rs:46-48: requests without an Authorization header fall
    * back to the browser session cookie; `X-Tenant-ID` selects the
    * tenant and is validated against the user's memberships (instance
    * admins may select any tenant — authenticator.rs:154-162). A
    * `viewer` role gets the four read scopes only; member/admin are
    * unscoped. The session's user id rides the exchange for whoami. */
  private def sessionAuth(ex: HttpExchange)
      : Either[(Int, String), (String, TenantCatalog.Principal)] = {
    import scala.jdk.CollectionConverters._
    val cookies = Option(ex.getRequestHeaders.get("Cookie"))
      .map(_.asScala.toSeq).getOrElse(Seq.empty)
    AuthTokens.sessionTokenFromCookies(cookies) match {
      case None => Left(401 -> "Missing Authorization header")
      case Some(tok) =>
        catalog.getValidSession(AuthTokens.hashToken(tok),
            System.currentTimeMillis()) match {
          case None => Left(401 -> "Invalid or expired session")
          case Some(s) =>
            val user = catalog.getUser(s.userId).getOrElse(
              return Left(401 -> "Session user not found"))
            Option(ex.getRequestHeaders.getFirst("x-tenant-id")) match {
              case None => Left(401 -> "Missing X-Tenant-ID header")
              case Some(tr) =>
                TenantCatalog.validateId(tr) match {
                  case Left(_) => Left(400 -> "Invalid tenant ID")
                  case Right(t) =>
                    val role = catalog.getMembership(user.id, t) match {
                      case Some(r) => r
                      case None if user.instanceAdmin => "admin"
                      case None =>
                        return Left(403 ->
                          s"User is not a member of tenant '$t'")
                    }
                    ex.setAttribute("session_user", user.id)
                    val scopes =
                      if (role == "viewer") Some(TenantCatalog.ReadScopes)
                      else None
                    Right((t, TenantCatalog.Principal(Some(t), scopes,
                      datasetId = None, isAdmin = user.instanceAdmin)))
                }
            }
        }
    }
  }

  /** authenticator.rs:184 authenticate_oauth_token: an opaque OAuth
    * access token authenticates with the tenant and scopes FROM THE
    * TOKEN RECORD — never from an X-Tenant-ID header, so an OAuth
    * session cannot be pointed at a tenant it was not granted. Expired
    * or revoked tokens are not found and surface as unauthorized. The
    * token's USER and their CURRENT membership in the token's tenant
    * are re-resolved on every request (authenticator.rs:214-238) — a
    * deleted user or revoked membership loses access immediately, not
    * at token expiry. */
  private def tokenUserCheck(g: TenantCatalog.TokenGrant)
      : Option[(Int, String)] =
    catalog.getUser(g.userId) match {
      case None => Some(401 -> "Access token user not found")
      case Some(u) =>
        catalog.getMembership(u.id, g.tenant) match {
          case Some(_) => None
          case None if u.instanceAdmin => None
          case None => Some(403 ->
            s"Token user is not a member of tenant '${g.tenant}'")
        }
    }

  private def oauthTokenAuth(raw: String)
      : Either[(Int, String), (String, TenantCatalog.Principal)] =
    catalog.getValidAccessToken(AuthTokens.hashToken(raw),
        System.currentTimeMillis()) match {
      case None => Left(401 -> "Invalid or expired access token")
      case Some(g) => tokenUserCheck(g) match {
        case Some(rej) => Left(rej)
        case None =>
          Right((g.tenant, TenantCatalog.Principal(Some(g.tenant),
            scopes = Some(g.scopes), datasetId = None, isAdmin = false)))
      }
    }

  private def authCheck(ex: HttpExchange)
      : Either[(Int, String), (String, TenantCatalog.Principal)] =
    Option(ex.getRequestHeaders.getFirst("Authorization")) match {
      case None => sessionAuth(ex)
      case Some(a) if !a.startsWith("Bearer ") =>
        Left(400 -> "Authorization header must use Bearer scheme")
      case Some(a) if a.stripPrefix("Bearer ")
          .startsWith(AuthTokens.AccessTokenPrefix) =>
        oauthTokenAuth(a.stripPrefix("Bearer "))
      case Some(a) =>
        Option(ex.getRequestHeaders.getFirst("x-tenant-id")) match {
          case None => Left(401 -> "Missing X-Tenant-ID header")
          case Some(tr) =>
            val t = tr.trim
            if (t.isEmpty || t.length > 64 ||
                !t.forall(c => (c < 128 && c.isLetterOrDigit) ||
                  c == '-' || c == '_'))
              Left(400 -> "Invalid tenant ID")
            else catalog.resolve(
                HttpShell.hashApiKey(a.stripPrefix("Bearer "))) match {
              case None => Left(401 -> "Invalid API key")
              case Some(p) if !p.isAdmin && !p.tenant.contains(t) =>
                Left(403 -> s"API key does not belong to tenant '$t'")
              case Some(p) => Right((t, p))
            }
        }
    }

  /** read_scope.rs route-tree wrapping: which signal's `:read` scope a
    * path demands (lib.rs:234-274 wraps the Tempo routers with traces,
    * Pyroscope/profiles with profiles, Loki with logs, Prometheus with
    * metrics). Paths outside the four signal surfaces carry no read
    * scope — exactly the reference tree. */
  private def readSignal(path: String): Option[String] =
    if (path.startsWith("/loki/")) Some("logs")
    else if (path.startsWith("/prometheus/")) Some("metrics")
    else if (path.startsWith("/pyroscope/") ||
      path.startsWith("/api/profiles")) Some("profiles")
    else if (path.startsWith("/tempo/") || path.startsWith("/api/search") ||
      path.startsWith("/api/traces") || path.startsWith("/api/v2/search") ||
      path.startsWith("/api/v2/traces") || path.startsWith("/api/metrics/"))
      Some("traces")
    else None

  /** acceptor can_ingest checks: which signal's `:write` scope an
    * ingest POST demands. */
  private def writeSignal(path: String): Option[String] = path match {
    case "/v1/logs" => Some("logs")
    case "/v1/traces" => Some("traces")
    case "/v1/metrics" | "/api/v1/write" => Some("metrics")
    case "/v1development/profiles" | "/ingest" => Some("profiles")
    case _ => None
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val path = ex.getRequestURI.getPath
    val qs = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    // authentication first (before rate accounting, like the reference's
    // middleware stack: auth wraps the limiter); probes stay open so
    // orchestration health checks never need credentials
    // OAuth discovery/DCR/authorize/token are PUBLIC by spec
    // (oauth.rs:14 "Discovery, DCR, /authorize, and /token are public")
    // the two SERVER-RENDERED pages that make the code flow completable
    // by a plain browser without the SPA build: a login form and the
    // consent screen (each a static page whose inline script drives the
    // SAME endpoints the SPA calls — /ui/session, /oauth/consent/
    // context, /oauth/authorize/decision)
    if (path == "/ui/login" || path == "/oauth/consent") {
      val html = if (path == "/ui/login") loginPageHtml else consentPageHtml
      val bytes = html.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      try ex.getResponseBody.write(bytes) finally ex.getResponseBody.close()
      return
    }
    if (path == "/.well-known/oauth-authorization-server" ||
        path.startsWith("/oauth/")) {
      val (st, bodyJson) = oauthRoute(ex, path)
      if (st == 302) { // Location header set by the route
        ex.sendResponseHeaders(302, -1L)
        ex.getResponseBody.close()
      } else respondJson(ex, st, bodyJson)
      recordSelf(path, st, (System.nanoTime() - t0) / 1e6, tenantOf(ex))
      return
    }
    // UI session login/logout is PUBLIC (session.rs router merge:
    // login itself cannot demand a credential); it manages the cookie
    // the auth middleware then accepts in place of auth headers
    if (path == "/ui/session") {
      sessionRoute(ex)
      recordSelf(path, ex.getResponseCode,
        (System.nanoTime() - t0) / 1e6, tenantOf(ex))
      return
    }
    // the UI shell (reference ui.rs): runtime-config.js is served in
    // ALL cases — here with telemetry disabled (no [self_monitoring.
    // frontend] config in this shell), crucially with no apiKey and
    // never proxy-cacheable; the SPA assets themselves are the ui
    // crate's build (driver-scoped out), so /ui serves the reference's
    // own honest placeholder page, not a pretend app
    if (path == "/ui/runtime-config.js") {
      val js = "window.__SIGNALDB_RUNTIME_CONFIG__ = " +
        """{"telemetry":{"enabled":false}};""" + "\n"
      val bytes = js.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type",
        "application/javascript; charset=utf-8")
      ex.getResponseHeaders.set("Cache-Control", "no-store")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      try ex.getResponseBody.write(bytes) finally ex.getResponseBody.close()
      return
    }
    if (path == "/ui" || path.startsWith("/ui/")) {
      val html = "<!doctype html><title>SignalDB UI</title>" +
        "<body style=\"font-family:system-ui;max-width:38rem;margin:4rem auto\">" +
        "<h1>UI not bundled</h1><p>This build has no explore UI assets; " +
        "the API surface the UI calls is fully served.</p></body>"
      val bytes = html.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      ex.sendResponseHeaders(404, bytes.length.toLong)
      try ex.getResponseBody.write(bytes) finally ex.getResponseBody.close()
      return
    }
    val auth: Option[(String, TenantCatalog.Principal)] =
      if (!authEnabled || path == "/health" || path == "/ready") None
      else authCheck(ex) match {
        case Left((st, msg)) => respondJson(ex, st, errJson(msg)); return
        case Right(a) => Some(a)
      }
    // signal-scope enforcement after authentication (read_scope.rs layer
    // + the acceptors' can_ingest checks): a SCOPED key must carry the
    // exact `<signal>:read|write`; unscoped keys are unrestricted, and
    // write scopes never grant read (auth/mod.rs can_read)
    auth.foreach { case (_, p) =>
      if (p.scopes.isDefined) {
        val needed =
          if (ex.getRequestMethod == "POST")
            writeSignal(path).map(_ + ":write")
              .orElse(readSignal(path).map(_ + ":read"))
          else readSignal(path).map(_ + ":read")
        needed.foreach { sc =>
          if (!p.scopes.get.contains(sc)) {
            respondJson(ex, 403, errJson(s"missing $sc scope")); return
          }
        }
      }
      // the Arrow raw-SQL route and the ops rewrite routes span every
      // signal: no single `<signal>:read` covers cross-signal SQL, and
      // write scopes must never grant reads or trigger rewrites — so a
      // SCOPED key is rejected outright here, mirroring manageAuthz
      // (admin and unscoped keys pass; read_scope.rs wraps every query
      // surface in the reference, ops are admin-band)
      if (!p.isAdmin && p.scopes.isDefined &&
          (path == "/api/v1/arrow" || path == "/api/v1/ops" ||
            path.startsWith("/api/v1/ops/"))) {
        respondJson(ex, 403, errJson(
          "this route requires an unscoped administrative credential"))
        return
      }
      // a dataset-bound key may only ingest into its own dataset
      // (authenticator.rs with_api_key_restrictions dataset dimension)
      if (ex.getRequestMethod == "POST" && writeSignal(path).isDefined)
        p.datasetId.foreach { d =>
          if (!ingest.exists(_.dataset == d)) {
            respondJson(ex, 403,
              errJson(s"API key is restricted to dataset '$d'")); return
          }
        }
    }
    // query-API rate limit (reference lib.rs:389 behavior: limited
    // deployments answer 429 once the TENANT's bucket drains; probes
    // exempt; one tenant draining never affects another). The manage/
    // whoami nest sits INSIDE the limited layer exactly as in the
    // reference (lib.rs:299 query_rate_layer wraps all of /api/v1)
    if (ex.getRequestMethod == "GET" && path != "/health" && path != "/ready")
      queryBuckets.foreach { b =>
        if (!b.tryAcquire(tenantOf(ex))) {
          respondJson(ex, 429, errJson(
            s"tenant '${tenantOf(ex)}' exceeded its query request rate"))
          return
        }
      }
    // management / identity surface (method-aware, incl. DELETE)
    if (path == "/api/v1/whoami" || path == "/api/v1/tenants" ||
        path.startsWith("/api/v1/tenants/") || path == "/users" ||
        path == "/api/v1/schemas/available" ||
        path == "/api/v1/manage/tenants" ||
        path.startsWith("/api/v1/manage/tenants/")) {
      val (st, bodyJson) = manageRoute(ex, path, auth)
      if (st == 204) { // No Content: JDK server wants length -1, no body
        ex.sendResponseHeaders(204, -1L)
        ex.getResponseBody.close()
      } else respondJson(ex, st, bodyJson)
      recordSelf(path, st, (System.nanoTime() - t0) / 1e6, tenantOf(ex))
      return
    }
    val (status, body) =
      try {
        if (path == "/api/v1/arrow") { arrowRoute(ex, qs); return }
        if (path == "/loki/api/v1/tail") { tailRoute(ex, qs); return }
        val routed =
          if (ex.getRequestMethod == "POST") {
            val body = ex.getRequestBody.readAllBytes()
            path match {
              case "/api/v1/query" => // native Query IR (read via POST)
                Some(Endpoints.queryIr(served, dir,
                  new String(body, StandardCharsets.UTF_8), nowNs))
              case "/api/v1/ops/compact" =>
                Some(Endpoints.opsCompact(spark, opsLayout))
              case "/api/v1/ops/compact/dry-run" =>
                Some(Endpoints.opsCompactDryRun(spark, opsLayout))
              case "/api/v1/ops/promote" =>
                Some(Endpoints.opsPromote(spark, opsLayout, qs))
              case "/api/v1/ops/iceberg-export" =>
                Some(Endpoints.opsIcebergExport(spark, opsLayout))
              // Prometheus serves query/query_range on POST too
              // (promql.rs:41-45): Grafana posts long PromQL as a form
              // body; merge it with the query string (body wins)
              case "/prometheus/api/v1/query" | "/prometheus/api/v1/query_range"
                  if Option(ex.getRequestHeaders.getFirst("Content-Type"))
                    .forall(_.startsWith("application/x-www-form-urlencoded")) =>
                val form = new String(body, StandardCharsets.UTF_8)
                val merged = if (qs.isEmpty) form
                  else if (form.isEmpty) qs else s"$qs&$form"
                if (path == "/prometheus/api/v1/query")
                  Some(Endpoints.promInstantQuery(served, dir, merged,
                    nowNs / 1000000000L))
                else Some(Endpoints.promQueryRange(served, dir, merged))
              case _ =>
                // ingest byte-rate limit (ratelimit.rs Bytes dimension):
                // the request body's size is the token cost
                ingestBuckets.foreach { b =>
                  if (!b.tryAcquire(tenantOf(ex),
                      math.max(1.0, body.length.toDouble)))
                    throw Endpoints.HttpError(429,
                      s"tenant '${tenantOf(ex)}' exceeded its ingest byte rate")
                }
                ingestRoute(path, qs, body,
                  Option(ex.getRequestHeaders.getFirst("Content-Type"))
                    .getOrElse(""))
            }
          } else {
            val r = cachedRoute(path, qs)
            if (r.isDefined) recordDemand(path, qs)
            r
          }
        routed match {
          case Some(json) => (200, json)
          case None       => (404, errJson("not found: " + path))
        }
      } catch {
        case e: Endpoints.HttpError => (e.status, errJson(e.message))
        case e: graft.promql.Ast.Unsupported => (422, errJson(e.getMessage))
        case e: graft.traceql.TraceQL.Unsupported => (400, errJson(e.getMessage))
        case e: Throwable => // engine faults must answer, not kill the exchange
          (500, errJson(Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    // dogfood the request itself (long-lived arrow/tail exchanges are
    // active_requests-shaped, not duration points — not counted here)
    recordSelf(path, status, (System.nanoTime() - t0) / 1e6, tenantOf(ex))
  }

  /** GET/POST /api/v1/arrow — Arrow IPC results over the wire (the
    * Flight DoGet surface without a gRPC dependency; see
    * [[Endpoints.arrowTicket]] for the ticket grammar). The ticket comes
    * from `?ticket=` / `?sql=` on GET or the raw POST body (what a
    * Flight client would put in its Ticket payload). The response is
    * `application/vnd.apache.arrow.stream`, CHUNKED (length 0 →
    * Transfer-Encoding: chunked on the JDK server), STREAMED message by
    * message: the schema goes out first, then each record batch as its
    * partition is computed ([[ArrowResult.ipcMessages]] /
    * `toLocalIterator` — driver memory is bounded by one partition, the
    * same scale shape as the Flight DoGet). Parse/analysis errors
    * resolve BEFORE the body starts and still answer JSON + status; a
    * RUNTIME failure mid-stream stops the body without the IPC
    * end-of-stream marker, so a consumer can tell a truncated result
    * from a complete one (HTTP/1.1 has no mid-body error channel —
    * gRPC's error trailers are the richer transport, [[FlightGrpc]]). */
  private def arrowRoute(ex: HttpExchange, qs: String): Unit = {
    val msgs =
      try {
        val ticket =
          if (ex.getRequestMethod == "POST")
            new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          else {
            val p = Endpoints.parseQuery(qs)
            p.get("ticket").orElse(p.get("sql")).getOrElse(
              throw Endpoints.HttpError(400, "missing ticket (or sql) param"))
          }
        ArrowResult.ipcMessages(Endpoints.arrowTicketDf(spark, dir, ticket))
      } catch {
        case e: Endpoints.HttpError => respondJson(ex, e.status, errJson(e.message)); return
        case e: Throwable =>
          respondJson(ex, 500,
            errJson(Option(e.getMessage).getOrElse(e.getClass.getName)))
          return
      }
    ex.getResponseHeaders.set("Content-Type", "application/vnd.apache.arrow.stream")
    ex.sendResponseHeaders(200, 0L) // chunked
    val os = ex.getResponseBody
    try {
      msgs.foreach(os.write)
      // end-of-stream marker ONLY after every batch arrived — its
      // absence marks a truncated stream
      os.write(Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0))
    } finally os.close()
  }

  /** GET /loki/api/v1/tail — LIVE TAIL over the wire (the reference
    * 501s this route; docs/users/logql-reference.md:44). A Structured
    * Streaming query (LiveTail: the same LogQL lowering as batch line
    * queries, narrow per-row stages only) follows the ingest landing
    * dir for the logs table; each poll interval, newly matched lines go
    * out as ONE chunked JSON frame in the Loki tail shape
    * (`{"streams":[…]}` per frame, newline-delimited — the payload a
    * websocket tail delivers per message). Existing landed files replay
    * first, then the tail follows new acceptor POSTs. The exchange ends
    * when the client disconnects (the next flush fails → the streaming
    * query stops) or after `timeout_s` (default 30); either way the
    * query and its bounded tail buffer are torn down. Requires ingest
    * (503 otherwise — there is no landing dir to follow). */
  private def tailRoute(ex: HttpExchange, qs: String): Unit = {
    val (q, buf, timeoutMs) =
      try {
        val layout = ingest.getOrElse(
          throw Endpoints.HttpError(503, "tail requires an ingest layout"))
        val p = Endpoints.parseQuery(qs)
        val query = p.getOrElse("query",
          throw Endpoints.HttpError(400, "missing query"))
        // Validate timeout BEFORE the streaming query starts: a malformed
        // value must answer 400 without ever allocating a query to leak,
        // and a client-controlled timeout is CLAMPED (max 300 s) so a
        // tail exchange cannot pin a pool thread indefinitely.
        val tmo = (p.get("timeout_s").map { s =>
          val d = try s.toDouble catch {
            case _: NumberFormatException =>
              throw Endpoints.HttpError(400, "bad timeout_s: " + s)
          }
          if (d.isNaN || d < 0)
            throw Endpoints.HttpError(400, "bad timeout_s: " + s)
          math.min(d, 300.0)
        }.getOrElse(30.0) * 1000).toLong
        // Cap concurrent tails BELOW the pool size: with a 4-thread pool,
        // at most 2 long-held tail exchanges — ingest POSTs that feed
        // them (and every other route) always have a dispatchable thread.
        if (!tailSlots.tryAcquire())
          throw Endpoints.HttpError(503, "too many concurrent tails")
        // EVERYTHING between acquisition and handing (q, buf, tmo) to
        // the serving loop must release the slot on failure: an
        // exception from mkdirs / readStream setup / LogsTable
        // construction would otherwise be answered by the outer catch
        // with the semaphore still held, and two such failures would
        // 503 every later tail forever.
        try {
          tailFailpoint()
          val path = layout.path("logs")
          new java.io.File(path).mkdirs()
          val stream = spark.readStream
            .schema(graft.schema.Schemas.logs).parquet(path)
          val table = graft.logql.Lowering.LogsTable(
            df = stream,
            promoted = Map("service_name" -> "service_name",
              "severity_text" -> "severity_text", "body" -> "body"),
            seriesLabels = Seq("service_name", "severity_text"),
            hasAttrMap = true,
            attrMapCols = Seq("log_attributes", "resource_attributes"))
          // bounded, evicting buffer (VERDICT r10 #6): per-poll work is
          // O(rows since last poll), resident state capped — never a
          // re-collect of the whole sink per frame
          val b = new graft.streaming.LiveTail.TailBuffer(capacity = 65536)
          (graft.streaming.LiveTail.startBuffered(table, query, b, triggerMs = 200),
            b, tmo)
        } catch { case e: Throwable => tailSlots.release(); throw e }
      } catch {
        case e: Endpoints.HttpError => respondJson(ex, e.status, errJson(e.message)); return
        case e: graft.logql.Ast.Unsupported =>
          respondJson(ex, 400, errJson(e.getMessage)); return
        case e: graft.logql.Ast.ParseError =>
          respondJson(ex, 400, errJson("parse error: " + e.getMessage)); return
        case e: Throwable =>
          respondJson(ex, 500,
            errJson(Option(e.getMessage).getOrElse(e.getClass.getName)))
          return
      }
    try {
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, 0L) // chunked: one frame per flush
      val os = ex.getResponseBody
      val deadline = System.currentTimeMillis() + timeoutMs
      try {
        while (System.currentTimeMillis() < deadline) {
          // drain ONLY what arrived since the last frame — delivered
          // rows leave the buffer, so neither the poll nor the resident
          // state grows with session length
          val rows = buf.drain()
          if (rows.nonEmpty) {
            val delta = spark.createDataFrame(
              java.util.Arrays.asList(rows: _*), buf.schema)
            val frame = ApiJson.lokiTailFrame(delta,
              Seq("service_name", "severity_text")) + "\n"
            os.write(frame.getBytes(StandardCharsets.UTF_8))
            os.flush() // client disconnect surfaces here as IOException
          }
          Thread.sleep(100)
        }
      } catch { case _: java.io.IOException => () /* client went away */ }
      finally { try os.close() catch { case _: java.io.IOException => () } }
    } finally {
      q.stop() // clean disconnect stops the streaming query
      tailSlots.release()
    }
  }

  /** at most 2 of the 4 pool threads may be held by live tails. */
  private val tailSlots = new java.util.concurrent.Semaphore(2)
  /** test failpoint: runs right after a tail slot is acquired, BEFORE
    * the streaming query exists — the exact window where an exception
    * once leaked the slot (ADVICE r8 #2). */
  private[api] var tailFailpoint: () => Unit = () => ()

  // ---- self-monitoring (reference common/self_monitoring: services
  // emit their own telemetry through the NORMAL ingest pipeline into
  // the `_system` tenant / `_monitoring` dataset — dogfooding — with
  // the anti-loop guard that `_system`'s own traffic is never counted,
  // suppress.rs:31-42 / app_metrics.rs should_count_tenant) -----------

  private val SelfTenant = "_system"
  private val SelfDataset = "_monitoring"
  /** buffered request-duration points — (obsTimeNs, metric name, point
    * attributes, ms) — flushed as ONE batch through the idempotent sink
    * every `SelfFlushEvery` requests and on stop() (the OTel-SDK
    * batching shape — a Spark job per request would be absurd). HTTP
    * serves record `http.server.request.duration`; Flight RPCs record
    * semconv `rpc.server.duration` with `rpc.*` attributes (the
    * reference's flight telemetry, src/querier/src/flight.rs:3150). */
  private val selfBuf = scala.collection.mutable
    .ArrayBuffer.empty[(Long, String, Map[String, String], Double)]
  private val SelfFlushEvery = 32

  private def recordPoint(metric: String, attrs: Map[String, String],
      durMs: Double): Unit = {
    // wall-clock observation time, deliberately NOT the injected nowNs:
    // monitoring points are observational (batch ids already derive
    // from the wall clock for the same reason) — the deterministic-now
    // discipline is for QUERY semantics, not for telemetry about the
    // process itself
    val toFlush = selfBuf.synchronized {
      selfBuf += ((System.currentTimeMillis() * 1000000L, metric, attrs, durMs))
      if (selfBuf.size >= SelfFlushEvery) { val s = selfBuf.toSeq; selfBuf.clear(); Some(s) }
      else None
    }
    toFlush.foreach(flushSelf)
  }

  private def recordSelf(path: String, status: Int, durMs: Double,
      tenant: String): Unit = if (ingest.isDefined && tenant != SelfTenant)
    recordPoint("http.server.request.duration",
      Map("http.route" -> path, "http.status" -> status.toString), durMs)

  /** Flight RPC self-monitoring hook ([[startFlight]] wires it): OTel
    * semconv rpc.server attributes, same pipeline, same anti-loop rule
    * (Flight never serves `_system` traffic — tickets read signal
    * tables only). */
  private[api] def recordFlight(method: String, grpcStatus: Int,
      durMs: Double): Unit = if (ingest.isDefined)
    recordPoint("rpc.server.duration",
      Map("rpc.system" -> "grpc",
        "rpc.service" -> "arrow.flight.protocol.FlightService",
        "rpc.method" -> method,
        "rpc.grpc.status_code" -> grpcStatus.toString), durMs)

  private def flushSelf(
      rows: Seq[(Long, String, Map[String, String], Double)]): Unit =
    try {
      val layout = graft.storage.Storage.TableLayout(
        ingest.get.basePath, SelfTenant, SelfDataset)
      import spark.implicits._
      val df = rows.toDF("timestamp", "metric", "attrs", "dur_ms")
        .selectExpr(
          "timestamp", "timestamp AS start_timestamp",
          "'graft-router' AS service_name",
          "metric AS metric_name",
          "'request wall time' AS metric_description",
          "'ms' AS metric_unit",
          "map('service.name', 'graft-router') AS resource_attributes",
          "map() AS scope_attributes",
          "attrs AS attributes",
          "0 AS flags", "CAST(NULL AS STRING) AS exemplars",
          "dur_ms AS value")
      graft.streaming.IngestSink.appendBatch(layout, "metrics_gauge")(
        df, batchBase + batchSeq.incrementAndGet())
    } catch { case _: Throwable => () } // monitoring must never fail a serve

  /** drain any buffered self-metrics (stop() calls this; tests may). */
  private[api] def flushSelfMetrics(): Unit = {
    val s = selfBuf.synchronized { val s = selfBuf.toSeq; selfBuf.clear(); s }
    if (s.nonEmpty) flushSelf(s)
  }

  private def respondJson(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, b.length.toLong)
    val os = ex.getResponseBody
    try os.write(b) finally os.close()
  }

  /** RESULT CACHE for the query GET routes: dashboards poll the same
    * query every few seconds, and with a deterministic `nowNs` the
    * answer only changes when DATA changes — so entries key on
    * (data version, path, qs) and a new ingest batch (or promotion
    * rewrite, or export) naturally invalidates by changing the version.
    * Bounded LRU (256 entries); ops/catalog routes are excluded (their
    * state lives outside the versioned data dirs). Demand recording
    * stays OUTSIDE the cache — a cached serve is still a served query. */
  private val resultCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, String](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, String]): Boolean = size() > 256
      })
  private[api] val cacheHits = new java.util.concurrent.atomic.AtomicLong(0)

  private def cacheable(path: String): Boolean =
    (path.startsWith("/loki/") || path.startsWith("/prometheus/") ||
      path.startsWith("/api/") || path.startsWith("/pyroscope/")) &&
      !path.startsWith("/api/v1/ops") && path != "/api/echo"

  /** memoized served-table fingerprint: a full-tree walk per cacheable
    * GET is O(files) on the driver, and the shell's own writes
    * (`_system` self-monitoring flushes, `attribute_stats` demand
    * flushes) land under basePath — excluded here so the cache stops
    * self-invalidating. The memo refreshes after a short TTL (covers
    * out-of-band writers) and is dropped eagerly by the shell's OWN
    * ingest path, so an ingest batch invalidates cached answers
    * immediately. */
  private val ServedVerTtlNanos = 2L * 1000 * 1000 * 1000
  @volatile private var servedVerMemo: (String, Long) = ("", Long.MinValue)
  private def servedDataVersion(basePath: String): String = {
    val now = System.nanoTime()
    val (v, at) = servedVerMemo
    if (v.nonEmpty && now - at < ServedVerTtlNanos) v
    else {
      val nv = graft.storage.LocalCache.dataVersion(basePath,
        exclude = Set("_system", "attribute_stats"))
      servedVerMemo = (nv, now)
      nv
    }
  }
  private[api] def invalidateServedVersion(): Unit =
    servedVerMemo = ("", Long.MinValue)

  private def cachedRoute(path: String, qs: String): Option[String] = {
    if (!cacheable(path)) return route(path, qs)
    val ver = ingest.map(l => servedDataVersion(l.basePath)).getOrElse("static")
    val key = s"$ver|$path?$qs"
    Option(resultCache.get(key)) match {
      case Some(hit) => cacheHits.incrementAndGet(); Some(hit)
      case None =>
        val r = route(path, qs)
        r.foreach(resultCache.put(key, _))
        r
    }
  }

  private val TagValues = "^/api/search/tag/([^/]+)/values$".r
  private val TagValuesV2 = "^/api/v2/search/tag/([^/]+)/values$".r
  private val LokiLabelValues = "^/loki/api/v1/label/([^/]+)/values$".r
  private val PromLabelValues = "^/prometheus/api/v1/label/([^/]+)/values$".r
  private val TraceById = "^/api(?:/v2)?/traces/([^/]+)$".r

  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  private def route(path: String, qs: String): Option[String] = path match {
    // the reference NESTS the Tempo router under /tempo (lib.rs:230),
    // while stock Tempo serves the same paths bare — answer both
    case p if p.startsWith("/tempo/api/") =>
      route(p.stripPrefix("/tempo"), qs)
    case "/health" => Some("""{"status":"ok"}""")
    case "/api/v1/openapi.json" => Some(Endpoints.openapi())
    // Loki (reference endpoints/logql.rs route table)
    // log-query routes serve the ACCEPTOR-LANDED store when ingest is
    // configured (the tail route already follows it), falling back to
    // the read-only dir otherwise — so a shell that ingests also answers
    // for what it ingested, promoted columns resolving live
    case "/loki/api/v1/query_range" =>
      Some(Endpoints.lokiQueryRange(served, dir, qs, nowNs, landedLogsTable))
    case "/loki/api/v1/query" =>
      Some(Endpoints.lokiInstantQuery(served, dir, qs, nowNs, landedLogsTable))
    case "/loki/api/v1/labels" =>
      Some(Endpoints.lokiLabels(served, dir, qs, nowNs))
    case LokiLabelValues(name) =>
      Some(Endpoints.lokiLabelValues(served, dir, dec(name), qs, nowNs))
    case "/loki/api/v1/series" =>
      Some(Endpoints.lokiSeries(served, dir, qs, nowNs))
    case "/loki/api/v1/index/volume" =>
      Some(Endpoints.lokiIndexVolume(served, dir, qs, nowNs))
    case "/loki/api/v1/detected_fields" =>
      Some(Endpoints.lokiDetectedFields(served, dir, qs))
    // Prometheus (reference endpoints/promql.rs route table)
    case "/prometheus/api/v1/query_range" =>
      Some(Endpoints.promQueryRange(served, dir, qs))
    case "/prometheus/api/v1/query" =>
      Some(Endpoints.promInstantQuery(served, dir, qs, nowNs / 1000000000L))
    case "/prometheus/api/v1/labels" =>
      Some(Endpoints.promLabels)
    case PromLabelValues(name) =>
      Some(Endpoints.promLabelValues(served, dir, dec(name)))
    case "/prometheus/api/v1/series" =>
      Some(Endpoints.promSeries(served, dir, qs, nowNs / 1000000000L))
    case "/prometheus/api/v1/label_stats" =>
      Some(Endpoints.promLabelStats(served, dir))
    // Tempo (reference endpoints/tempo.rs route table)
    case "/api/echo" => Some("echo")
    case "/ready" => Some("ready")
    case "/api/status/buildinfo" => Some(Endpoints.tempoBuildinfo())
    case "/loki/api/v1/status/buildinfo" => Some(Endpoints.lokiBuildinfo())
    case "/prometheus/api/v1/status/buildinfo" =>
      Some(Endpoints.promBuildinfo())
    case "/api/metrics/query" =>
      Some(Endpoints.tempoMetricsInstant(served, dir, qs, nowNs))
    case "/api/metrics/query_range" =>
      Some(Endpoints.tempoMetricsQueryRange(served, dir, qs))
    case "/api/search" =>
      Some(Endpoints.tempoSearch(served, dir, qs))
    case "/api/search/tags" | "/api/v2/search/tags" =>
      Some(Endpoints.tempoSearchTags(served, dir))
    case TagValues(tag) =>
      Some(Endpoints.tempoTagValues(served, dir, dec(tag)))
    case TagValuesV2(tag) =>
      Some(Endpoints.tempoTagValuesV2(served, dir, dec(tag)))
    case TraceById(id) =>
      Some(Endpoints.tempoTraceById(served, dir, dec(id)))
    // Pyroscope (reference endpoints/pyroscope.rs route table)
    case "/pyroscope/render" =>
      Some(Endpoints.pyroscopeRender(served, dir, qs))
    case "/pyroscope/render-diff" =>
      Some(Endpoints.pyroscopeRenderDiff(served, dir, qs))
    case "/pyroscope/profile-types" =>
      Some(Endpoints.pyroscopeProfileTypes(served, dir))
    case "/pyroscope/label-names" =>
      Some(Endpoints.pyroscopeLabelNames())
    case "/pyroscope/label-values" =>
      Some(Endpoints.pyroscopeLabelValues(served, dir,
        Endpoints.parseQuery(qs).getOrElse("label", "")))
    case ProfilesByTrace(id) =>
      Some(Endpoints.profilesByTrace(served, dir, dec(id)))
    // ops (reference endpoints/ops.rs — compactor control surface)
    case "/api/v1/ops/compact/status" =>
      Some(Endpoints.opsCompactStatus(spark, opsLayout))
    // Iceberg REST catalog (read-only, over the exported metadata)
    case "/iceberg/v1/config" => Some(Endpoints.icebergConfig())
    case "/iceberg/v1/namespaces" =>
      Some(Endpoints.icebergNamespaces(opsLayout))
    case IcebergNsTables(ns) =>
      Some(Endpoints.icebergTablesList(opsLayout, ns))
    case IcebergTable(ns, t) =>
      Some(Endpoints.icebergLoadTable(opsLayout, ns, dec(t)))
    case _ => None
  }

  /** Query-demand recording (reference attr_promotion.rs: served
    * queries are the promotion signal): every successfully served Loki
    * query's unpromoted-label demand flushes to the ingest layout's
    * advisory `attribute_stats` table. Advisory only — a recording
    * failure never fails the serve — and self-quieting: once a key is
    * promoted (a `label_<key>` column exists on the stored logs table),
    * the same query stops counting demand for it, which is how the
    * loop converges. The demand is worked out on the driver against the
    * memoized landed table's columns; a query that demands nothing runs
    * no Spark job and reads no schema. */
  private[api] def recordDemand(path: String, qs: String): Unit =
    if (ingest.isDefined &&
      (path == "/loki/api/v1/query_range" || path == "/loki/api/v1/query"))
      try {
        Endpoints.parseQuery(qs).get("query").foreach { text =>
          val demanded = graft.logql.QueryDemand.demandedLabels(promotedSet,
            graft.logql.Parser.parse(text))
          if (demanded.nonEmpty) graft.logql.QueryDemand.flush(
            graft.logql.QueryDemand.counts(spark, demanded), ingest.get)
        }
      } catch { case _: Throwable => () }

  private val BaseLabels = Set("service_name", "severity_text")

  /** columns already served without a map probe: the landed logs
    * table's real columns plus the keys behind its `label_<key>`
    * materializations (base labels if nothing has landed yet). */
  private def promotedSet: Set[String] =
    landedLogsTable.fold(BaseLabels) { t =>
      val cols = t.df.columns.toSet
      cols ++ cols.collect {
        case c if c.startsWith("label_") => c.stripPrefix("label_")
      }
    }

  /** the acceptor-landed gen-2 logs table; a promotion rewrite (or any
    * append) between two requests changes resolution LIVE — the table
    * rebuilds when the data version moves (the promoted map derives
    * from the on-disk `label_<key>` columns), and the memo keeps a
    * stable store from paying schema inference per request. */
  private val landedCache = scala.collection.concurrent
    .TrieMap[String, (String, graft.logql.Lowering.LogsTable)]()
  private def landedLogsTable: Option[graft.logql.Lowering.LogsTable] =
    ingest.flatMap { layout =>
      val p = layout.path("logs")
      if (!new java.io.File(p).isDirectory) None
      else try {
        val ver = graft.storage.LocalCache.dataVersion(p)
        landedCache.get(p) match {
          case Some((v, t)) if v == ver => Some(t)
          case _ =>
            val df = served.read.parquet(p)
            val promotedCols = df.columns.filter(_.startsWith("label_"))
              .map(c => c.stripPrefix("label_") -> c).toMap
            val t = graft.logql.Lowering.LogsTable(
              df = df,
              promoted = Map("service_name" -> "service_name",
                "severity_text" -> "severity_text", "body" -> "body") ++ promotedCols,
              seriesLabels = Seq("service_name", "severity_text"),
              hasAttrMap = true,
              attrMapCols = Seq("log_attributes", "resource_attributes",
                "scope_attributes").filter(df.columns.contains))
            landedCache.put(p, (ver, t))
            Some(t)
        }
      } catch { case _: Throwable => None }
    }

  /** the ops routes act on the INGEST layout (there is no compactor for
    * the read-only testdata dir). */
  private def opsLayout: graft.storage.Storage.TableLayout =
    ingest.getOrElse(
      throw Endpoints.HttpError(503, "ops routes require an ingest layout"))

  private val ProfilesByTrace = "^/api/profiles/trace/([^/]+)$".r
  private val IcebergNsTables = "^/iceberg/v1/namespaces/([^/]+)/tables$".r
  private val IcebergTable = "^/iceberg/v1/namespaces/([^/]+)/tables/([^/]+)$".r

  /** POST acceptor routes (reference src/acceptor/src/lib.rs). Each
    * wraps the request body as a 1-row payload frame so decode runs
    * through the same executor-side wire parsers as the streaming
    * acceptor, then lands via the idempotent batch sink (per-request
    * batch ids). */
  private def ingestRoute(path: String, qs: String,
      body: Array[Byte], contentType: String): Option[String] = {
    def layout = ingest.getOrElse(
      throw Endpoints.HttpError(503, "ingest not configured"))
    def payloadDf = {
      import spark.implicits._
      spark.createDataset(Seq(body)).toDF("payload")
    }
    def land(table: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      graft.streaming.IngestSink.appendBatch(layout, table)(
        rows, batchBase + batchSeq.incrementAndGet())
      // landed data must be visible to the next cacheable GET at once —
      // drop the memoized fingerprint rather than wait out its TTL
      invalidateServedVersion()
    }
    // OTLP/HTTP decodes by content type (reference acceptor lib.rs:516,
    // otlp_http_content_type_is_json :708 — protobuf is the default
    // when no content type is present)
    val isJson = contentType.toLowerCase(java.util.Locale.ROOT)
      .contains("application/json")
    path match {
      case "/v1/logs" =>
        land("logs", if (isJson) graft.sources.OtlpJson.logs(payloadDf)
          else graft.sources.Otlp.logs(payloadDf))
        Some("""{"partialSuccess":{}}""")
      case "/v1/traces" =>
        land("traces", if (isJson) graft.sources.OtlpJson.traces(payloadDf)
          else graft.sources.Otlp.traces(payloadDf))
        Some("""{"partialSuccess":{}}""")
      case "/v1/metrics" =>
        val (gauge, sum) =
          if (isJson) graft.sources.OtlpJson.metrics(payloadDf)
          else graft.sources.Otlp.metrics(payloadDf)
        land("metrics_gauge", gauge)
        land("metrics_sum", sum)
        land("metrics_histogram",
          if (isJson) graft.sources.OtlpJson.histograms(payloadDf)
          else graft.sources.Otlp.histograms(payloadDf))
        // exponential histograms land protobuf-only (protojson senders
        // of native histograms are rare; the JSON path rejects nothing
        // — exp-hist entries simply do not match its schema)
        if (!isJson) {
          land("metrics_exponential_histogram",
            graft.sources.Otlp.expHistograms(payloadDf))
          land("metrics_summary", graft.sources.Otlp.summaries(payloadDf))
        }
        Some("""{"partialSuccess":{}}""")
      case "/v1development/profiles" =>
        land("profiles", graft.sources.Otlp.profiles(payloadDf))
        Some("""{"partialSuccess":{}}""")
      case "/api/v1/write" => // Prometheus remote_write (snappy+proto)
        // 2.0 negotiates via the proto= content-type parameter
        // (Prometheus 3.x; 1.0 prometheus.WriteRequest is the default)
        val rows =
          if (contentType.contains("io.prometheus.write.v2.Request"))
            graft.sources.PromRemoteWrite.rowsV2(payloadDf)
          else graft.sources.PromRemoteWrite.rows(payloadDf)
        graft.sources.PromRemoteWrite.convert(rows).foreach {
          case (table, df) => land(table, df)
        }
        Some("""{}""")
      case "/ingest" => // Pyroscope pprof upload: ?name=<service>
        val name = Endpoints.parseQuery(qs).get("name").filter(_.nonEmpty)
          .getOrElse(throw Endpoints.HttpError(400, "missing name"))
        import spark.implicits._
        val payloads = Seq((body, name)).toDF("payload", "service_name")
        land("profiles", graft.sources.Pprof.profiles(payloads))
        Some("""{"status":"ok"}""")
      case _ => None
    }
  }

  // ---- management + identity surface (reference endpoints/
  // {management,tenant,session}.rs). The reference gates management
  // behind human OAuth sessions with tenant-admin memberships; sessions
  // and user accounts are driver-scoped out, so the adaptation is:
  // an ADMIN key manages any tenant (is_instance_admin), an UNSCOPED
  // tenant key manages its own tenant, and a SCOPED key (a machine
  // ingest credential) is always 403 — the same posture as
  // management.rs:59's "human session required" for non-admin
  // principals. ------------------------------------------------------

  private val ManageKeysR = "^/api/v1/manage/tenants/([^/]+)/api-keys$".r
  private val ManageKeyR =
    "^/api/v1/manage/tenants/([^/]+)/api-keys/([^/]+)$".r
  private val ManageDsR = "^/api/v1/manage/tenants/([^/]+)/datasets$".r
  private val ManageDs1R =
    "^/api/v1/manage/tenants/([^/]+)/datasets/([^/]+)$".r
  private val TenantR = "^/api/v1/tenants/([^/]+)$".r
  private val TenantTablesR = "^/api/v1/tenants/([^/]+)/tables$".r
  private val TenantSchemasR = "^/api/v1/tenants/([^/]+)/schemas$".r

  /** the configured default schema set (tenant_api.rs
    * get_available_table_schemas / iceberg_schemas.rs all_from_config
    * with every family enabled): name = schema_type = table_name, with
    * the reference's fixed descriptions. */
  private val availableSchemas: Seq[(String, String)] = Seq(
    "traces" -> "OpenTelemetry traces and spans",
    "logs" -> "OpenTelemetry log entries",
    "metrics_gauge" -> "OpenTelemetry gauge metrics",
    "metrics_sum" -> "OpenTelemetry sum/counter metrics",
    "metrics_histogram" -> "OpenTelemetry histogram metrics",
    "metrics_exponential_histogram" ->
      "OpenTelemetry exponential histogram metrics",
    "metrics_summary" -> "OpenTelemetry summary metrics",
    "profiles" -> "OpenTelemetry profiles")

  private def schemaInfoJson: String = availableSchemas.map { case (n, d) =>
    s"""{"name":${ApiJson.jstr(n)},"schema_type":${ApiJson.jstr(n)},""" +
      s""""description":${ApiJson.jstr(d)}}"""
  }.mkString(",")

  /** authorize_tenant (management.rs:55): admin passes anywhere; an
    * unscoped key passes for its own tenant; everything else 403. */
  private def manageAuthz(auth: Option[(String, TenantCatalog.Principal)],
      tenantId: String): Option[(Int, String)] = auth match {
    case None => Some(401 -> "Authentication required for management")
    case Some((_, p)) if p.isAdmin => None
    case Some((_, p)) if !p.tenant.contains(tenantId) =>
      Some(403 -> "Tenant context does not match path")
    case Some((_, p)) if p.scopes.isDefined =>
      Some(403 -> "Management requires an unscoped administrative credential")
    case _ => None
  }

  private def jopt(v: Option[String]): String =
    v.map(ApiJson.jstr).getOrElse("null")

  private def parseBody(ex: HttpExchange)
      : com.fasterxml.jackson.databind.JsonNode = {
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      catch { case e: Exception =>
        throw Endpoints.HttpError(400, "invalid JSON body: " + e.getMessage) }
    if (root == null || !root.isObject)
      throw Endpoints.HttpError(400, "invalid JSON body: object expected")
    root
  }

  private def optText(n: com.fasterxml.jackson.databind.JsonNode,
      field: String): Option[String] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText)

  private def manageRoute(ex: HttpExchange, path: String,
      auth: Option[(String, TenantCatalog.Principal)]): (Int, String) =
    try {
      def deny(r: Option[(Int, String)]): Unit =
        r.foreach { case (st, m) => throw Endpoints.HttpError(st, m) }
      def validId(raw: String): String =
        TenantCatalog.validateId(raw) match {
          case Right(v) => v
          case Left(m) => throw Endpoints.HttpError(400, m)
        }
      (ex.getRequestMethod, path) match {
        // ---- session.rs whoami: the caller's own tenant, datasets and
        // default dataset; API-key principals carry no user and no
        // memberships (whoami_returns_only_own_tenant_and_datasets)
        case ("GET", "/api/v1/whoami") =>
          val t = auth.map(_._1)
            .getOrElse(ingest.map(_.tenant).getOrElse("default"))
          val cat = catalog.getTenant(t)
          val name = cat.map(_.name).getOrElse(t)
          val dflt = cat.flatMap(_.defaultDataset)
          val ds = catalog.listDatasets(t).map { case (_, n) =>
            s"""{"id":${ApiJson.jstr(n)},"slug":${ApiJson.jstr(n)},""" +
              s""""is_default":${dflt.contains(n)}}"""
          }
          // a SESSION-authenticated caller carries its user and
          // memberships (session.rs whoami); API-key principals don't
          val (userJson, memJson) =
            Option(ex.getAttribute("session_user")).map(_.toString)
              .flatMap(catalog.getUser) match {
              case Some(u) =>
                val ms =
                  if (u.instanceAdmin)
                    (catalog.configTenantIds.toSeq ++
                      catalog.listMembershipsForUser(u.id).map(_._1))
                      .distinct.sorted.map(tid => (tid, "admin"))
                  else catalog.listMembershipsForUser(u.id)
                val uj = s""""user":{"id":${ApiJson.jstr(u.id)},""" +
                  s""""email":${ApiJson.jstr(u.email)},""" +
                  s""""display_name":${jopt(u.displayName)},""" +
                  s""""is_instance_admin":${u.instanceAdmin}},"""
                (uj, ms.map { case (tid, r) =>
                  s"""{"tenant_id":${ApiJson.jstr(tid)},""" +
                    s""""role":${ApiJson.jstr(r)}}"""
                }.mkString(","))
              case None => ("", "")
            }
          200 -> (s"""{$userJson"tenant":{"id":${ApiJson.jstr(t)},""" +
            s""""slug":${ApiJson.jstr(t)},"name":${ApiJson.jstr(name)}},""" +
            s""""datasets":[${ds.mkString(",")}],""" +
            s""""default_dataset":${jopt(dflt)},"memberships":[$memJson]}""")

        // ---- admin.rs create_user: instance-admin only; validation
        // order (email, password length, role, tenant existence) and
        // status split (400/404/409/201) per the reference
        case ("POST", "/users") =>
          if (!auth.exists(_._2.isAdmin))
            throw Endpoints.HttpError(403,
              "creating users requires an instance-admin credential")
          val b = parseBody(ex)
          val email = optText(b, "email").map(_.trim).getOrElse("")
          if (email.isEmpty)
            throw Endpoints.HttpError(400, "email must not be empty")
          val password = optText(b, "password").getOrElse("")
          if (password.length < 12)
            throw Endpoints.HttpError(400,
              "password must be at least 12 characters")
          val role = optText(b, "role").getOrElse("admin")
          if (!TenantCatalog.MembershipRoles.contains(role))
            throw Endpoints.HttpError(400,
              s"invalid role '$role': expected admin, member, or viewer")
          val tenant = optText(b, "tenant").getOrElse(
            throw Endpoints.HttpError(400, "tenant must not be empty"))
          if (catalog.getTenant(tenant).isEmpty &&
              !catalog.configTenantIds.contains(tenant))
            throw Endpoints.HttpError(404, s"Tenant '$tenant' not found")
          val instanceAdmin =
            Option(b.get("instance_admin")).exists(_.asBoolean(false))
          // hash here — the plaintext never touches the catalog
          val phc = AuthTokens.hashPassword(password)
          val user = catalog.createUser(email,
            optText(b, "display_name"), phc, instanceAdmin,
            System.currentTimeMillis()) match {
            case Left((st, m)) => throw Endpoints.HttpError(st, m)
            case Right(u) => u
          }
          catalog.upsertMembership(user.id, tenant, role)
          201 -> (s"""{"id":${ApiJson.jstr(user.id)},""" +
            s""""email":${ApiJson.jstr(user.email)},""" +
            user.displayName.map(d =>
              s""""display_name":${ApiJson.jstr(d)},""").getOrElse("") +
            s""""instance_admin":${user.instanceAdmin},""" +
            s""""created_at":${ApiJson.jstr(
              java.time.Instant.ofEpochMilli(user.createdAtMs).toString)}}""")
        // ---- tenant.rs: listing is filtered to the caller's own
        // tenant; a foreign tenant id in the path is 403
        case ("GET", "/api/v1/tenants") =>
          val t = auth.map(_._1)
            .getOrElse(ingest.map(_.tenant).getOrElse("default"))
          200 -> (s"""{"tenants":[{"tenant_id":${ApiJson.jstr(t)},""" +
            s""""schema":null,"custom_schemas":null,"enabled":true}],""" +
            s""""default_tenant":${ApiJson.jstr(t)}}""")
        case ("GET", TenantR(tid)) =>
          val t = auth.map(_._1)
            .getOrElse(ingest.map(_.tenant).getOrElse("default"))
          if (tid != t && !auth.exists(_._2.isAdmin))
            403 -> errJson("Requested tenant does not match authenticated tenant")
          else 200 -> (s"""{"tenant_id":${ApiJson.jstr(tid)},""" +
            """"schema":null,"custom_schemas":null,"enabled":true}""")
        case ("GET", TenantTablesR(tid)) =>
          val t = auth.map(_._1)
            .getOrElse(ingest.map(_.tenant).getOrElse("default"))
          if (tid != t && !auth.exists(_._2.isAdmin))
            403 -> errJson("Requested tenant does not match authenticated tenant")
          else {
            // the tenant's landed tables (tenant_api.rs list_tables
            // schema_type/description mapping)
            val names = ingest.filter(_.tenant == tid).toSeq.flatMap { l =>
              val base = new java.io.File(s"${l.basePath}/${l.tenant}/${l.dataset}")
              Option(base.listFiles()).toSeq.flatten
                .filter(_.isDirectory).map(_.getName).sorted
            }
            val tables = names.map { n =>
              val (st, d) = n match {
                case "traces" => ("traces", "OpenTelemetry traces and spans")
                case "logs" => ("logs", "OpenTelemetry log entries")
                case "metrics_gauge" =>
                  ("metrics_gauge", "OpenTelemetry gauge metrics")
                case "metrics_sum" =>
                  ("metrics_sum", "OpenTelemetry sum/counter metrics")
                case "metrics_histogram" =>
                  ("metrics_histogram", "OpenTelemetry histogram metrics")
                case _ => ("custom", "Custom table")
              }
              s"""{"name":${ApiJson.jstr(n)},"schema_type":${ApiJson.jstr(st)},""" +
                s""""description":${ApiJson.jstr(d)}}"""
            }
            200 -> (s"""{"tables":[${tables.mkString(",")}],""" +
              s""""tenant_id":${ApiJson.jstr(tid)}}""")
          }
        // ---- tenant.rs:153 list_tenant_schemas: the AVAILABLE table
        // schemas for a tenant (the configured default set — what
        // create_default_tables would land), same TableInfo shape as
        // /tables but config-derived rather than filesystem-derived; a
        // foreign tenant id in the path is 403 (forbidden_tenant)
        case ("GET", TenantSchemasR(tid)) =>
          val t = auth.map(_._1)
            .getOrElse(ingest.map(_.tenant).getOrElse("default"))
          if (tid != t && !auth.exists(_._2.isAdmin))
            403 -> errJson("Requested tenant does not match authenticated tenant")
          else 200 -> (s"""{"tables":[$schemaInfoJson],""" +
            s""""tenant_id":${ApiJson.jstr(tid)}}""")
        // ---- tenant.rs:191 list_available_schemas: every table schema
        // type this deployment can create (default configuration)
        case ("GET", "/api/v1/schemas/available") =>
          200 -> s"""{"schemas":[$schemaInfoJson]}"""
        // ---- management.rs create_tenant: instance admin only
        case ("POST", "/api/v1/manage/tenants") =>
          if (!auth.exists(_._2.isAdmin))
            throw Endpoints.HttpError(403, "Instance administrator required")
          val b = parseBody(ex)
          val id = validId(optText(b, "id").getOrElse(""))
          val dflt = optText(b, "default_dataset").map(validId)
          val name = optText(b, "name").map(_.trim).getOrElse("")
          if (name.isEmpty)
            throw Endpoints.HttpError(400, "Tenant name is required")
          catalog.createTenant(id, name, dflt) match {
            case Left((st, m)) => throw Endpoints.HttpError(st, m)
            case Right(v) => 201 -> s"""{"id":${ApiJson.jstr(v)}}"""
          }
        case ("GET", ManageDsR(tid)) =>
          deny(manageAuthz(auth, tid))
          val ds = catalog.listDatasets(tid).map { case (id, n) =>
            s"""{"id":${ApiJson.jstr(id)},"name":${ApiJson.jstr(n)}}"""
          }
          200 -> s"[${ds.mkString(",")}]"
        case ("POST", ManageDsR(tid)) =>
          deny(manageAuthz(auth, tid))
          val name = validId(optText(parseBody(ex), "name").getOrElse(""))
          catalog.createDataset(tid, name) match {
            case Left((st, m)) => throw Endpoints.HttpError(st, m)
            case Right(id) => 201 ->
              s"""{"id":${ApiJson.jstr(id)},"name":${ApiJson.jstr(name)}}"""
          }
        case ("DELETE", ManageDs1R(tid, dsn)) =>
          deny(manageAuthz(auth, tid))
          catalog.deleteDataset(tid, dec(dsn)) match {
            case Left((st, m)) => throw Endpoints.HttpError(st, m)
            case Right(_) => 204 -> ""
          }
        case ("GET", ManageKeysR(tid)) =>
          deny(manageAuthz(auth, tid))
          val ks = catalog.listApiKeys(tid).map { k =>
            s"""{"id":${ApiJson.jstr(k.id)},"name":${jopt(k.name)},""" +
              s""""dataset_id":${jopt(k.datasetId)},""" +
              s""""scopes":${k.scopes.map(_.map(ApiJson.jstr)
                .mkString("[", ",", "]")).getOrElse("null")},""" +
              s""""revoked":${k.revoked}}"""
          }
          200 -> s"[${ks.mkString(",")}]"
        case ("POST", ManageKeysR(tid)) =>
          deny(manageAuthz(auth, tid))
          val b = parseBody(ex)
          val scopes = Option(b.get("scopes")).filter(_.isArray)
            .map(a => (0 until a.size()).map(a.get(_).asText))
            .getOrElse(Seq.empty)
          if (scopes.isEmpty ||
            scopes.exists(!TenantCatalog.IngestScopes.contains(_)))
            throw Endpoints.HttpError(400,
              "At least one valid ingestion scope is required")
          val dsId = optText(b, "dataset_id")
          dsId.foreach { d =>
            if (!catalog.datasetExists(tid, d))
              throw Endpoints.HttpError(400, "Dataset does not exist")
          }
          val nm = optText(b, "name")
          val (id, secret) = catalog.createApiKey(tid, nm, dsId, scopes)
          // the raw secret appears exactly ONCE, in this 201
          201 -> (s"""{"id":${ApiJson.jstr(id)},"key":${ApiJson.jstr(secret)},""" +
            s""""name":${jopt(nm)},"dataset_id":${jopt(dsId)},""" +
            s""""scopes":${scopes.map(ApiJson.jstr).mkString("[", ",", "]")}}""")
        case ("DELETE", ManageKeyR(tid, kid)) =>
          deny(manageAuthz(auth, tid))
          catalog.getApiKey(dec(kid)) match {
            case Some(k) if k.tenantId == tid =>
              catalog.revokeApiKey(k.id); 204 -> ""
            case _ => throw Endpoints.HttpError(404, "API key not found")
          }
        case _ => 404 -> errJson("not found: " + path)
      }
    } catch {
      case e: Endpoints.HttpError => e.status -> errJson(e.message)
      case e: Throwable =>
        500 -> errJson(Option(e.getMessage).getOrElse(e.getClass.getName))
    }

  /** minimal server-rendered login page: posts the SAME JSON body the
    * SPA sends to POST /ui/session, then follows `?next=` (default /ui).
    * No framework, no build step — the page exists so the session and
    * consent flows are completable by a plain browser. */
  private val loginPageHtml: String =
    """<!doctype html><title>Sign in</title>
      |<body style="font-family:system-ui;max-width:24rem;margin:4rem auto">
      |<h1>Sign in</h1>
      |<form id="f"><label>Email<br><input id="email" type="email" required
      | style="width:100%"></label><br><br>
      |<label>Password<br><input id="pw" type="password" required
      | style="width:100%"></label><br><br>
      |<button>Sign in</button> <span id="err" style="color:#b00"></span></form>
      |<script>
      |document.getElementById('f').addEventListener('submit', async (e) => {
      |  e.preventDefault();
      |  const r = await fetch('/ui/session', {method: 'POST',
      |    headers: {'Content-Type': 'application/json'},
      |    body: JSON.stringify({
      |      email: document.getElementById('email').value,
      |      password: document.getElementById('pw').value})});
      |  if (r.ok) {
      |    const next = new URLSearchParams(location.search).get('next');
      |    location.href = next || '/ui';
      |  } else {
      |    const b = await r.json().catch(() => ({}));
      |    document.getElementById('err').textContent =
      |      b.error || ('sign-in failed (' + r.status + ')');
      |  }
      |});
      |</script>""".stripMargin

  /** the consent screen (reference: the SPA's /oauth/consent page): reads
    * the authorize echo from its own query string, loads the context
    * (client name + grantable tenants) over the session cookie — a 401
    * bounces to the login page with `next` back here — and posts the
    * decision, navigating to the returned redirect. */
  private val consentPageHtml: String =
    """<!doctype html><title>Authorize access</title>
      |<body style="font-family:system-ui;max-width:28rem;margin:4rem auto">
      |<h1>Authorize access</h1>
      |<p id="who">Loading…</p>
      |<label>Grant access to tenant<br><select id="tenant" style="width:100%">
      |</select></label><br><br>
      |<button id="approve">Approve</button>
      |<button id="deny">Deny</button> <span id="err" style="color:#b00"></span>
      |<script>
      |const q = new URLSearchParams(location.search);
      |(async () => {
      |  const r = await fetch('/oauth/consent/context?client_id=' +
      |    encodeURIComponent(q.get('client_id') || ''));
      |  if (r.status === 401) {
      |    location.href = '/ui/login?next=' +
      |      encodeURIComponent(location.pathname + location.search);
      |    return;
      |  }
      |  const ctx = await r.json();
      |  document.getElementById('who').textContent =
      |    (ctx.client_name || 'A client') + ' requests read access.';
      |  for (const t of (ctx.tenants || [])) {
      |    const o = document.createElement('option');
      |    o.value = t.id; o.textContent = t.id + ' (' + t.role + ')';
      |    document.getElementById('tenant').appendChild(o);
      |  }
      |})();
      |async function decide(approved) {
      |  const r = await fetch('/oauth/authorize/decision', {method: 'POST',
      |    headers: {'Content-Type': 'application/json'},
      |    body: JSON.stringify({
      |      client_id: q.get('client_id'), redirect_uri: q.get('redirect_uri'),
      |      code_challenge: q.get('code_challenge'),
      |      code_challenge_method: q.get('code_challenge_method'),
      |      scope: q.get('scope') || undefined,
      |      state: q.get('state') || undefined,
      |      resource: q.get('resource') || undefined,
      |      tenant: document.getElementById('tenant').value,
      |      approved})});
      |  const b = await r.json().catch(() => ({}));
      |  if (r.ok && b.redirect) location.href = b.redirect;
      |  else document.getElementById('err').textContent =
      |    b.error_description || b.error || ('failed (' + r.status + ')');
      |}
      |document.getElementById('approve').onclick = () => decide(true);
      |document.getElementById('deny').onclick = () => decide(false);
      |</script>""".stripMargin

  // ---- UI browser sessions (reference endpoints/session.rs: POST/
  // DELETE /ui/session, public — login itself cannot demand a
  // credential). The cookie carries only an opaque high-entropy token;
  // its sha256 digest and the session row live in the catalog. --------

  private def sessionRoute(ex: HttpExchange): Unit = {
    import scala.jdk.CollectionConverters._
    val nowMs = System.currentTimeMillis()
    ex.getRequestMethod match {
      case "POST" =>
        val (st, body, cookie) =
          try {
            val b = parseBody(ex)
            val email = optText(b, "email").getOrElse("")
            val password = optText(b, "password").getOrElse("")
            val reqTenant = optText(b, "tenant").map(_.trim).filter(_.nonEmpty)
            val reqDataset = optText(b, "dataset").map(_.trim).filter(_.nonEmpty)
            // validate ids BEFORE credentials (session.rs:117-131)
            val badId = (reqTenant.toSeq ++ reqDataset.toSeq)
              .flatMap(TenantCatalog.validateId(_).left.toOption).headOption
            badId match {
              case Some(m) => (400, errJson(m), None)
              case None =>
                catalog.getUserByEmail(email).filterNot(_.disabled) match {
                  case None =>
                    (401, errJson("Invalid email or password"), None)
                  case Some(user)
                    if !AuthTokens.verifyPassword(password, user.passwordHash) =>
                    (401, errJson("Invalid email or password"), None)
                  case Some(user) =>
                    // memberships for the picker: instance admins see
                    // every tenant as admin (session.rs
                    // list_session_memberships)
                    val allMs: Seq[(String, String)] =
                      if (user.instanceAdmin)
                        (catalog.configTenantIds.toSeq ++
                          catalog.listMembershipsForUser(user.id).map(_._1))
                          .distinct.sorted.map(t => (t, "admin"))
                      else catalog.listMembershipsForUser(user.id)
                    val tenant: Either[(Int, String), Option[String]] =
                      reqTenant match {
                        case Some(t)
                          if !user.instanceAdmin &&
                            !allMs.exists(_._1 == t) =>
                          Left(403 -> "User is not a member of this tenant")
                        case Some(t) => Right(Some(t))
                        case None => allMs match {
                          case Seq() =>
                            Left(403 -> "User has no tenant memberships")
                          case Seq((only, _)) => Right(Some(only))
                          case _ => Right(None) // UI presents a picker
                        }
                      }
                    tenant match {
                      case Left((s0, m)) => (s0, errJson(m), None)
                      case Right(tOpt) =>
                        val token = AuthTokens.generateSessionToken()
                        catalog.createSession(user.id,
                          AuthTokens.hashToken(token),
                          nowMs + 12L * 3600 * 1000)
                        val memJson = allMs.map { case (t, r) =>
                          val name = catalog.getTenant(t).map(_.name).getOrElse(t)
                          s"""{"tenant_id":${ApiJson.jstr(t)},""" +
                            s""""name":${ApiJson.jstr(name)},""" +
                            s""""role":${ApiJson.jstr(r)}}"""
                        }
                        val ds = tOpt.flatMap(t => reqDataset.orElse(
                          catalog.getTenant(t).flatMap(_.defaultDataset)))
                        val bodyJson =
                          s"""{"tenant":${tOpt.map(ApiJson.jstr).getOrElse("null")},""" +
                            s""""dataset":${ds.map(ApiJson.jstr).getOrElse("null")},""" +
                            s""""memberships":[${memJson.mkString(",")}]}"""
                        (200, bodyJson, Some(
                          s"${AuthTokens.SessionCookie}=$token; HttpOnly; " +
                            "Secure; SameSite=Strict; Path=/; Max-Age=43200"))
                    }
                }
            }
          } catch { case e: Throwable =>
            (500, errJson(Option(e.getMessage).getOrElse("login failed")), None)
          }
        cookie.foreach(c => ex.getResponseHeaders.add("Set-Cookie", c))
        respondJson(ex, st, body)
      case "DELETE" =>
        // revoke whatever valid session the cookie names; always clear
        // the cookie and answer 204 (session.rs delete_session)
        val cookies = Option(ex.getRequestHeaders.get("Cookie"))
          .map(_.asScala.toSeq).getOrElse(Seq.empty)
        AuthTokens.sessionTokenFromCookies(cookies).foreach { tok =>
          catalog.getValidSession(AuthTokens.hashToken(tok), nowMs)
            .foreach(s => catalog.revokeSession(s.id))
        }
        ex.getResponseHeaders.add("Set-Cookie",
          s"${AuthTokens.SessionCookie}=; HttpOnly; SameSite=Strict; " +
            "Path=/; Max-Age=0")
        ex.sendResponseHeaders(204, -1L)
        ex.getResponseBody.close()
      case _ =>
        respondJson(ex, 405, errJson("method not allowed"))
    }
  }

  // ---- OAuth 2.1 authorization server (reference endpoints/oauth.rs):
  // RFC 8414 metadata, RFC 7591 Dynamic Client Registration, the
  // authorization-code flow with MANDATORY PKCE (S256), the consent
  // context/decision endpoints (browser-session-authenticated), and
  // the token endpoint (authorization_code + refresh_token grants,
  // single-use codes, refresh rotation). The consent SCREEN itself is
  // the UI crate's SPA page (driver-scoped out); every endpoint it
  // calls is served here. --------------------------------------------

  private def oauthErr(error: String, desc: String): String =
    s"""{"error":${ApiJson.jstr(error)},""" +
      s""""error_description":${ApiJson.jstr(desc)}}"""

  /** append query params to a redirect URI, preserving any it already
    * carries (oauth.rs:123 redirect_with_params; form-urlencoded values). */
  private def redirectWithParams(base: String,
      params: Seq[(String, String)]): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val sep = if (base.contains('?')) "&" else "?"
    base + sep + params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }
      .mkString("&")
  }

  /** resolve the consenting user from the browser session cookie; the
    * two consent endpoints are NOT public (oauth.rs:15-16). */
  private def oauthSessionUser(ex: HttpExchange)
      : Either[(Int, String), TenantCatalog.User] = {
    import scala.jdk.CollectionConverters._
    val cookies = Option(ex.getRequestHeaders.get("Cookie"))
      .map(_.asScala.toSeq).getOrElse(Seq.empty)
    AuthTokens.sessionTokenFromCookies(cookies) match {
      case None =>
        Left(401 -> oauthErr("login_required", "no active session"))
      case Some(tok) =>
        catalog.getValidSession(AuthTokens.hashToken(tok),
            System.currentTimeMillis()) match {
          case None => Left(401 -> oauthErr("login_required",
            "session is invalid or expired"))
          case Some(s) => catalog.getUser(s.userId).toRight(
            401 -> oauthErr("login_required", "session user not found"))
        }
    }
  }

  /** oauth.rs:103 granted_read_scopes: absent scope grants all four
    * read scopes; a present scope grants its read-scope intersection,
    * and an intersection of nothing is an invalid request, never a
    * licence to grant everything. */
  private def grantedReadScopes(requested: Option[String]): Option[Seq[String]] =
    requested match {
      case None => Some(TenantCatalog.ReadScopes)
      case Some(s) =>
        val granted = s.split("\\s+").filter(TenantCatalog.ReadScopes.contains)
        if (granted.isEmpty) None else Some(granted.toSeq)
    }

  /** mint an access + refresh token pair for a grant and render the
    * RFC 6749 §5.1 response (oauth.rs issue_tokens; TTLs are the
    * reference defaults — access 1 h, refresh 30 d). */
  private def issueTokens(clientId: String, userId: String, tenant: String,
      scopes: Seq[String], resource: Option[String], nowMs: Long): String = {
    val access = AuthTokens.generateAccessToken()
    catalog.createAccessToken(AuthTokens.hashToken(access),
      TenantCatalog.TokenGrant(clientId, userId, tenant, scopes, resource,
        nowMs + 3600L * 1000, revoked = false))
    val refresh = AuthTokens.generateRefreshToken()
    catalog.createRefreshToken(AuthTokens.hashToken(refresh),
      TenantCatalog.TokenGrant(clientId, userId, tenant, scopes, resource,
        nowMs + 30L * 86400 * 1000, revoked = false))
    s"""{"access_token":${ApiJson.jstr(access)},"token_type":"Bearer",""" +
      s""""expires_in":3600,"refresh_token":${ApiJson.jstr(refresh)},""" +
      s""""scope":${ApiJson.jstr(scopes.mkString(" "))}}"""
  }

  /** OAuth 2.1 / RFC 8252 §7.3 redirect-URI rule (oauth.rs:196
    * is_valid_redirect_uri): absolute with an authority, https for any
    * host, http only for loopback. */
  private def validRedirectUri(u: String): Boolean =
    try {
      val p = java.net.URI.create(u)
      val host = Option(p.getHost).getOrElse("")
      p.getScheme match {
        case "https" => host.nonEmpty
        case "http" =>
          Set("localhost", "127.0.0.1", "[::1]", "::1").contains(host)
        case _ => false
      }
    } catch { case _: Exception => false }

  private def oauthRoute(ex: HttpExchange, path: String): (Int, String) =
    try {
      (ex.getRequestMethod, path) match {
        case ("GET", "/.well-known/oauth-authorization-server") =>
          // issuer derives from the request's Host (the reference reads
          // its configured issuer_url; a local shell IS its own issuer)
          val host = Option(ex.getRequestHeaders.getFirst("Host"))
            .getOrElse(s"127.0.0.1:${server.getAddress.getPort}")
          val issuer = s"http://$host"
          200 -> (s"""{"issuer":${ApiJson.jstr(issuer)},""" +
            s""""authorization_endpoint":${ApiJson.jstr(issuer + "/oauth/authorize")},""" +
            s""""token_endpoint":${ApiJson.jstr(issuer + "/oauth/token")},""" +
            s""""registration_endpoint":${ApiJson.jstr(issuer + "/oauth/register")},""" +
            s""""scopes_supported":${TenantCatalog.ReadScopes
              .map(ApiJson.jstr).mkString("[", ",", "]")},""" +
            """"response_types_supported":["code"],""" +
            """"grant_types_supported":["authorization_code","refresh_token"],""" +
            """"code_challenge_methods_supported":["S256"],""" +
            """"token_endpoint_auth_methods_supported":["none"]}""")
        case ("POST", "/oauth/register") =>
          val b = parseBody(ex)
          val uris = Option(b.get("redirect_uris")).filter(_.isArray)
            .map(a => (0 until a.size()).map(a.get(_).asText))
            .getOrElse(Seq.empty)
          // anonymous-caller bounds (oauth.rs:216-220: the endpoint is
          // unauthenticated, so registration size is capped)
          if (uris.isEmpty)
            return 400 -> oauthErr("invalid_redirect_uri",
              "at least one redirect_uri is required")
          if (uris.length > 8)
            return 400 -> oauthErr("invalid_client_metadata",
              "at most 8 redirect_uris are allowed")
          if (uris.exists(_.length > 2048))
            return 400 -> oauthErr("invalid_redirect_uri",
              "redirect_uri is too long")
          val name = optText(b, "client_name")
          if (name.exists(_.length > 256))
            return 400 -> oauthErr("invalid_client_metadata",
              "client_name must be at most 256 characters")
          val badUri = uris.find(!validRedirectUri(_))
          if (badUri.isDefined)
            return 400 -> oauthErr("invalid_redirect_uri",
              s"redirect_uri is not a valid absolute http(s) URL: ${badUri.get}")
          val grants = Option(b.get("grant_types")).filter(_.isArray)
            .map(a => (0 until a.size()).map(a.get(_).asText))
          val c = catalog.registerOAuthClient(name, uris, grants,
            optText(b, "scope")) match {
            case Left((st, m)) =>
              return st -> oauthErr("invalid_client_metadata", m)
            case Right(c0) => c0
          }
          // public PKCE client, never a secret (oauth.rs:266)
          201 -> (s"""{"client_id":${ApiJson.jstr(c.id)},""" +
            c.name.map(n => s""""client_name":${ApiJson.jstr(n)},""").getOrElse("") +
            s""""redirect_uris":${c.redirectUris.map(ApiJson.jstr)
              .mkString("[", ",", "]")},""" +
            c.grantTypes.map(g =>
              s""""grant_types":${g.map(ApiJson.jstr).mkString("[", ",", "]")},""")
              .getOrElse("") +
            c.scope.map(s0 => s""""scope":${ApiJson.jstr(s0)},""").getOrElse("") +
            """"token_endpoint_auth_method":"none"}""")
        // ---- authorization endpoint (oauth.rs:319): client and
        // redirect_uri validate BEFORE anything redirects (errors here
        // cannot be sent to an unverified URI → direct 400s); after
        // that, failures report TO the redirect target per RFC 6749
        // §4.1.2.1; a valid request bounces to the consent screen
        case ("GET", "/oauth/authorize") =>
          val p = Endpoints.parseQuery(
            Option(ex.getRequestURI.getRawQuery).getOrElse(""))
          val clientId = p.getOrElse("client_id",
            return 400 -> oauthErr("invalid_request", "missing client_id"))
          val client = catalog.getOAuthClient(clientId).getOrElse(
            return 400 -> oauthErr("invalid_client", "unknown client_id"))
          val redirectUri = p.getOrElse("redirect_uri",
            return 400 -> oauthErr("invalid_request", "missing redirect_uri"))
          if (!client.redirectUris.contains(redirectUri))
            return 400 -> oauthErr("invalid_request",
              "redirect_uri is not registered for this client")
          val stateParam = p.getOrElse("state", "")
          if (!p.get("response_type").contains("code")) {
            ex.getResponseHeaders.add("Location", redirectWithParams(
              redirectUri, Seq("error" -> "unsupported_response_type",
                "state" -> stateParam)))
            return 302 -> ""
          }
          val pkceOk = p.get("code_challenge").exists(_.nonEmpty) &&
            p.getOrElse("code_challenge_method", "S256") == "S256"
          if (!pkceOk) {
            ex.getResponseHeaders.add("Location", redirectWithParams(
              redirectUri, Seq("error" -> "invalid_request",
                "state" -> stateParam)))
            return 302 -> ""
          }
          // hand off to the consent screen, echoing the validated
          // request; the decision endpoint re-validates everything
          val echo = Seq("client_id" -> clientId,
            "redirect_uri" -> redirectUri) ++
            p.get("code_challenge").map("code_challenge" -> _) ++
            Seq("code_challenge_method" -> "S256") ++
            p.get("scope").map("scope" -> _) ++
            p.get("state").map("state" -> _) ++
            p.get("resource").map("resource" -> _)
          ex.getResponseHeaders.add("Location",
            redirectWithParams("/oauth/consent", echo))
          302 -> ""

        // ---- consent context (oauth.rs:640): session-authenticated;
        // the requesting client's name and the tenants the user may grant
        case ("GET", "/oauth/consent/context") =>
          val user = oauthSessionUser(ex) match {
            case Left(e) => return e
            case Right(u) => u
          }
          val p = Endpoints.parseQuery(
            Option(ex.getRequestURI.getRawQuery).getOrElse(""))
          val client = p.get("client_id").flatMap(catalog.getOAuthClient)
            .getOrElse(return 400 ->
              oauthErr("invalid_client", "unknown client_id"))
          val tenants =
            if (user.instanceAdmin)
              (catalog.configTenantIds.toSeq ++
                catalog.listMembershipsForUser(user.id).map(_._1))
                .distinct.sorted.map(t => (t, "admin"))
            else catalog.listMembershipsForUser(user.id)
          200 -> (s"""{${client.name.map(n =>
              s""""client_name":${ApiJson.jstr(n)},""").getOrElse("")}""" +
            s""""tenants":[${tenants.map { case (t, r) =>
              s"""{"id":${ApiJson.jstr(t)},"role":${ApiJson.jstr(r)}}"""
            }.mkString(",")}]}""")

        // ---- consent decision (oauth.rs:447): session-authenticated;
        // nothing from the SPA is trusted — client, redirect URI, PKCE,
        // membership, resource, and scope all re-validate; approval
        // mints the SINGLE-USE code bound to all of them
        case ("POST", "/oauth/authorize/decision") =>
          val user = oauthSessionUser(ex) match {
            case Left(e) => return e
            case Right(u) => u
          }
          val b = parseBody(ex)
          val clientId = optText(b, "client_id").getOrElse("")
          val client = catalog.getOAuthClient(clientId).getOrElse(
            return 400 -> oauthErr("invalid_client", "unknown client_id"))
          val redirectUri = optText(b, "redirect_uri").getOrElse("")
          if (!client.redirectUris.contains(redirectUri))
            return 400 -> oauthErr("invalid_request",
              "redirect_uri is not registered for this client")
          val challenge = optText(b, "code_challenge").getOrElse("")
          if (challenge.isEmpty ||
              optText(b, "code_challenge_method").getOrElse("S256") != "S256")
            return 400 -> oauthErr("invalid_request",
              "a S256 code_challenge is required")
          val stateParam = optText(b, "state").getOrElse("")
          val approved = Option(b.get("approved")).exists(_.asBoolean(false))
          if (!approved) {
            val url = redirectWithParams(redirectUri,
              Seq("error" -> "access_denied", "state" -> stateParam))
            return 200 -> s"""{"redirect":${ApiJson.jstr(url)}}"""
          }
          val tenant = optText(b, "tenant").getOrElse("")
          val isMember = catalog.getMembership(user.id, tenant).isDefined
          val grantable = isMember || (user.instanceAdmin &&
            (catalog.getTenant(tenant).isDefined ||
              catalog.configTenantIds.contains(tenant)))
          if (!grantable)
            return 403 -> oauthErr("access_denied",
              "not a member of the selected tenant")
          // RFC 8707 audience binding: this shell serves no configured
          // MCP resource, so a client-supplied resource cannot choose
          // its own audience (oauth.rs:553 the (Some, None) arm)
          if (optText(b, "resource").isDefined)
            return 400 -> oauthErr("invalid_target",
              "this server does not serve a configured MCP resource")
          val scopes = grantedReadScopes(optText(b, "scope")).getOrElse(
            return 400 -> oauthErr("invalid_scope",
              "requested scope contains no supported read scope"))
          val code = AuthTokens.generateAuthCode()
          catalog.createAuthCode(AuthTokens.hashToken(code), clientId,
            user.id, tenant, scopes, redirectUri, challenge,
            resource = None,
            expiresAtMs = System.currentTimeMillis() + 60000L) // 60 s TTL
          val url = redirectWithParams(redirectUri,
            Seq("code" -> code, "state" -> stateParam))
          200 -> s"""{"redirect":${ApiJson.jstr(url)}}"""

        // ---- token endpoint (oauth.rs:754): public clients only, form
        // body; authorization_code (mandatory PKCE, single-use, client
        // and redirect_uri must match the grant) + refresh_token
        // (rotation: the presented token is single-use)
        case ("POST", "/oauth/token") =>
          val form = Endpoints.parseQuery(new String(
            ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
          ex.getResponseHeaders.add("Cache-Control", "no-store")
          val nowMs = System.currentTimeMillis()
          form.getOrElse("grant_type", "") match {
            case "authorization_code" =>
              val code = form.getOrElse("code",
                return 400 -> oauthErr("invalid_request", "missing code"))
              val verifier = form.getOrElse("code_verifier",
                return 400 -> oauthErr("invalid_request",
                  "missing code_verifier"))
              val grant = catalog.consumeAuthCode(
                AuthTokens.hashToken(code), nowMs).getOrElse(
                return 400 -> oauthErr("invalid_grant",
                  "authorization code is invalid or expired"))
              val clientId = form.getOrElse("client_id",
                return 400 -> oauthErr("invalid_request",
                  "missing client_id"))
              if (clientId != grant.clientId)
                return 400 -> oauthErr("invalid_grant",
                  "client_id does not match the authorization code")
              val redirectUri = form.getOrElse("redirect_uri",
                return 400 -> oauthErr("invalid_request",
                  "missing redirect_uri"))
              if (redirectUri != grant.redirectUri)
                return 400 -> oauthErr("invalid_grant",
                  "redirect_uri does not match the authorization code")
              if (!AuthTokens.verifyPkceS256(verifier, grant.codeChallenge))
                return 400 -> oauthErr("invalid_grant",
                  "PKCE verification failed")
              200 -> issueTokens(grant.clientId, grant.userId,
                grant.tenant, grant.scopes, grant.resource, nowMs)
            case "refresh_token" =>
              val refresh = form.getOrElse("refresh_token",
                return 400 -> oauthErr("invalid_request",
                  "missing refresh_token"))
              val grant = catalog.getValidRefreshToken(
                AuthTokens.hashToken(refresh), nowMs).getOrElse(
                return 400 -> oauthErr("invalid_grant",
                  "refresh token is invalid or expired"))
              val clientId = form.getOrElse("client_id",
                return 400 -> oauthErr("invalid_request",
                  "missing client_id"))
              if (clientId != grant.clientId)
                return 400 -> oauthErr("invalid_grant",
                  "client_id does not match the refresh token")
              // the user and their CURRENT membership are re-checked on
              // every rotation (authenticator.rs:214-238) — a deleted
              // user or revoked membership cannot keep access alive
              // indefinitely through the refresh chain
              tokenUserCheck(grant).foreach { case (_, m) =>
                return 400 -> oauthErr("invalid_grant", m) }
              // rotate BEFORE issuing (OAuth 2.1 §4.3.1)
              catalog.revokeRefreshToken(AuthTokens.hashToken(refresh))
              200 -> issueTokens(grant.clientId, grant.userId,
                grant.tenant, grant.scopes, grant.resource, nowMs)
            case other =>
              400 -> oauthErr("unsupported_grant_type",
                s"unsupported grant_type: $other")
          }
        case _ => 404 -> errJson("not found: " + path)
      }
    } catch {
      // early-exit `return`s inside by-name args (getOrElse) compile to
      // NonLocalReturnControl — let them complete the method instead of
      // masquerading as a 500
      case e: scala.runtime.NonLocalReturnControl[_] => throw e
      case e: Endpoints.HttpError =>
        e.status -> oauthErr("invalid_client_metadata", e.message)
      case e: Throwable =>
        500 -> oauthErr("server_error",
          Option(e.getMessage).getOrElse(e.getClass.getName))
    }

  private def errJson(msg: String): String = {
    val sb = new StringBuilder("{\"status\":\"error\",\"error\":\"")
    msg.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb ++= "\"}"
    sb.toString
  }
}

object HttpShell {
  /** sha256 hex of an API key — keys are stored and compared hashed
    * (reference `authenticator.rs` hash_api_key), so neither the config
    * map nor a heap dump ever exposes raw credentials. */
  def hashApiKey(key: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
}
