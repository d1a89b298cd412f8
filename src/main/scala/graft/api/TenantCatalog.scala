package graft.api

import scala.collection.mutable

/** The tenant/dataset/API-key catalog behind the management surface
  * (reference `src/common/src/catalog/` — there a SQL database reached
  * through sqlx; here an in-process, synchronized store, because the
  * driver scopes external databases out and the catalog is control-plane
  * METADATA, not data: the data path stays on the Storage layout).
  *
  * Two provenances, mirroring the reference's precedence rules
  * (`authenticator.rs` checks config tenants first, then the database):
  *  - CONFIG-backed keys/tenants: the immutable constructor map — these
  *    authenticate but are not listed, cannot be revoked, and their
  *    tenant ids are reserved (creating one again answers 409, exactly
  *    management.rs:141 "A configuration-backed tenant already uses
  *    this ID").
  *  - CATALOG-backed tenants/datasets/keys: created over the wire via
  *    `/api/v1/manage/...`; keys store only their sha256 hash
  *    (management.rs:497 hashes before upsert; the raw secret appears
  *    exactly once, in the 201 body).
  *
  * All raw key material is hashed with [[HttpShell.hashApiKey]] before
  * it reaches this class.
  */
final class TenantCatalog(
    /** sha256-hex-of-key → owning tenant (config-backed, unscoped). */
    configKeys: Map[String, String],
    /** sha256 hashes of INSTANCE-ADMIN keys (the `is_instance_admin`
      * principal of management.rs:117 — may create tenants and manage
      * any tenant). */
    adminKeyHashes: Set[String] = Set.empty,
    /** durable catalog state: a JSON snapshot rewritten ATOMICALLY
      * (temp + move) after every mutation and replayed on construction,
      * so tenants/datasets/keys minted over the wire survive a restart
      * — the reference keeps this state in its catalog DATABASE;
      * config-backed keys stay config and are never written here.
      * None = in-memory (test shells, ephemeral serving). */
    persistPath: Option[java.nio.file.Path] = None) {

  import TenantCatalog._

  private val tenants = mutable.LinkedHashMap.empty[String, Tenant]
  private val keysById = mutable.LinkedHashMap.empty[String, ApiKey]
  /** per-tenant datasets in creation order: name → id. */
  private val datasetsByTenant =
    mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, String]]

  loadPersisted()

  private def newId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  // ---- durability ---------------------------------------------------

  private def loadPersisted(): Unit = persistPath.foreach { p =>
    if (java.nio.file.Files.isRegularFile(p)) {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(p))
      def arr(f: String) = {
        val n = root.get(f)
        if (n == null || !n.isArray) Seq.empty
        else (0 until n.size()).map(n.get)
      }
      def opt(n: com.fasterxml.jackson.databind.JsonNode, f: String) =
        Option(n.get(f)).filterNot(_.isNull).map(_.asText)
      arr("tenants").foreach { t =>
        tenants.put(t.get("id").asText,
          Tenant(t.get("id").asText, t.get("name").asText,
            opt(t, "default_dataset")))
      }
      arr("datasets").foreach { d =>
        datasetsByTenant.getOrElseUpdate(d.get("tenant").asText,
          mutable.LinkedHashMap.empty)
          .put(d.get("name").asText, d.get("id").asText)
      }
      arr("keys").foreach { k =>
        val scopes = Option(k.get("scopes")).filterNot(_.isNull).map(a =>
          (0 until a.size()).map(a.get(_).asText))
        keysById.put(k.get("id").asText,
          ApiKey(k.get("id").asText, k.get("tenant").asText,
            k.get("hash").asText, opt(k, "name"), opt(k, "dataset_id"),
            scopes, k.get("revoked").asBoolean))
      }
    }
  }

  /** serialize-then-atomic-move, called with the lock held: a crash
    * leaves either the previous snapshot or the new one, never a torn
    * file. */
  private def persist(): Unit = persistPath.foreach { p =>
    def js(s: String) = ApiJson.jstr(s)
    def jo(s: Option[String]) = s.map(js).getOrElse("null")
    val ts = tenants.values.map(t =>
      s"""{"id":${js(t.id)},"name":${js(t.name)},""" +
        s""""default_dataset":${jo(t.defaultDataset)}}""")
    val ds = datasetsByTenant.flatMap { case (tn, m) =>
      m.map { case (name, id) =>
        s"""{"tenant":${js(tn)},"name":${js(name)},"id":${js(id)}}"""
      }
    }
    val ks = keysById.values.map(k =>
      s"""{"id":${js(k.id)},"tenant":${js(k.tenantId)},""" +
        s""""hash":${js(k.hash)},"name":${jo(k.name)},""" +
        s""""dataset_id":${jo(k.datasetId)},""" +
        s""""scopes":${k.scopes.map(_.map(js).mkString("[", ",", "]"))
          .getOrElse("null")},"revoked":${k.revoked}}""")
    val body = s"""{"tenants":[${ts.mkString(",")}],""" +
      s""""datasets":[${ds.mkString(",")}],"keys":[${ks.mkString(",")}]}"""
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resolve a presented key hash to its principal: admin keys first,
    * then config keys (legacy unscoped), then live catalog keys —
    * a revoked key does not authenticate at all (401, not 403). */
  def resolve(hash: String): Option[Principal] = synchronized {
    if (adminKeyHashes.contains(hash))
      Some(Principal(tenant = None, scopes = None, datasetId = None,
        isAdmin = true))
    else configKeys.get(hash) match {
      case Some(t) =>
        Some(Principal(Some(t), scopes = None, datasetId = None,
          isAdmin = false))
      case None =>
        keysById.values.find(k => k.hash == hash && !k.revoked).map(k =>
          Principal(Some(k.tenantId), k.scopes, k.datasetId, isAdmin = false))
    }
  }

  def configTenantIds: Set[String] = configKeys.values.toSet

  def getTenant(id: String): Option[Tenant] =
    synchronized(tenants.get(id))

  /** management.rs create_tenant body semantics (validation at the
    * endpoint layer; this is the catalog's uniqueness + transactional
    * default-dataset step). */
  def createTenant(id: String, name: String,
      defaultDataset: Option[String]): Either[(Int, String), String] =
    synchronized {
      if (configKeys.values.exists(_ == id))
        Left(409 -> "A configuration-backed tenant already uses this ID")
      else if (tenants.contains(id))
        Left(409 -> "Tenant already exists")
      else {
        // tenant row and default dataset land atomically (we hold the
        // lock), the management.rs:154 comment's invariant: a tenant
        // whose default dataset has no row would fail closed
        tenants.put(id, Tenant(id, name, defaultDataset))
        defaultDataset.foreach { d =>
          datasetsByTenant.getOrElseUpdate(id,
            mutable.LinkedHashMap.empty).put(d, newId())
        }
        persist()
        Right(id)
      }
    }

  def listDatasets(tenant: String): Seq[(String, String)] = synchronized {
    datasetsByTenant.get(tenant).map(_.toSeq.map {
      case (name, id) => (id, name)
    }).getOrElse(Seq.empty)
  }

  def createDataset(tenant: String,
      name: String): Either[(Int, String), String] = synchronized {
    val ds = datasetsByTenant.getOrElseUpdate(tenant,
      mutable.LinkedHashMap.empty)
    if (ds.contains(name)) Left(409 -> "Unable to create dataset")
    else { val id = newId(); ds.put(name, id); persist(); Right(id) }
  }

  def deleteDataset(tenant: String,
      name: String): Either[(Int, String), Unit] = synchronized {
    if (tenants.get(tenant).exists(_.defaultDataset.contains(name)))
      Left(409 -> "The default dataset cannot be deleted")
    else datasetsByTenant.get(tenant) match {
      case Some(ds) if ds.contains(name) =>
        ds.remove(name); persist(); Right(())
      case _ => Left(404 -> "Dataset not found")
    }
  }

  def datasetExists(tenant: String, name: String): Boolean = synchronized {
    datasetsByTenant.get(tenant).exists(_.contains(name))
  }

  /** Mint a scoped key: returns (key id, RAW secret) — the only moment
    * the secret exists server-side; storage keeps the hash. */
  def createApiKey(tenant: String, name: Option[String],
      datasetId: Option[String], scopes: Seq[String]): (String, String) =
    synchronized {
      val secret = "sdbk_" + newId()
      val id = newId()
      keysById.put(id, ApiKey(id, tenant, HttpShell.hashApiKey(secret),
        name, datasetId, Some(scopes), revoked = false))
      persist()
      (id, secret)
    }

  def listApiKeys(tenant: String): Seq[ApiKey] = synchronized {
    keysById.values.filter(_.tenantId == tenant).toSeq
  }

  def getApiKey(id: String): Option[ApiKey] =
    synchronized(keysById.get(id))

  /** Revocation is a tombstone, not a delete — the key stays listable
    * as revoked (management.rs revoke sets revoked_at). */
  def revokeApiKey(id: String): Unit = synchronized {
    keysById.get(id).foreach(k => keysById.put(id, k.copy(revoked = true)))
    persist()
  }

  // ---- OAuth dynamic clients (RFC 7591; reference catalog
  // register_oauth_client) -------------------------------------------

  private val oauthClients = mutable.LinkedHashMap.empty[String, OAuthClient]

  /** `/oauth/register` is PUBLIC by spec, so registration is the one
    * unauthenticated write surface — cap how many clients an anonymous
    * caller can persist (each registration lands on disk on ingest
    * shells; unbounded growth is a trivial disk/memory DoS). */
  val MaxOAuthClients = 128

  def registerOAuthClient(name: Option[String], redirectUris: Seq[String],
      grantTypes: Option[Seq[String]],
      scope: Option[String]): Either[(Int, String), OAuthClient] =
    synchronized {
      if (oauthClients.size >= MaxOAuthClients)
        Left(429 -> s"client registry is full ($MaxOAuthClients clients)")
      else {
        val c = OAuthClient(newId(), name, redirectUris, grantTypes, scope)
        oauthClients.put(c.id, c)
        persistOAuth()
        Right(c)
      }
    }

  def getOAuthClient(id: String): Option[OAuthClient] =
    synchronized(oauthClients.get(id))

  /** OAuth clients persist beside the tenant state (same snapshot
    * discipline, separate file so the two surfaces stay independently
    * greppable). */
  private def persistOAuth(): Unit = persistPath.foreach { p =>
    def js(s: String) = ApiJson.jstr(s)
    val cs = oauthClients.values.map { c =>
      s"""{"id":${js(c.id)},"name":${c.name.map(js).getOrElse("null")},""" +
        s""""redirect_uris":${c.redirectUris.map(js).mkString("[", ",", "]")},""" +
        s""""grant_types":${c.grantTypes.map(_.map(js).mkString("[", ",", "]"))
          .getOrElse("null")},""" +
        s""""scope":${c.scope.map(js).getOrElse("null")}}"""
    }
    val f = p.resolveSibling("oauth_clients.json")
    Option(f.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      s"""{"clients":[${cs.mkString(",")}]}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, f,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- human users, memberships, browser sessions, OAuth grants
  // (reference catalog users/user_sessions/tenant_memberships/
  // oauth_* tables — sqlite there, the same snapshot discipline as the
  // tenant state here) ------------------------------------------------

  private val users = mutable.LinkedHashMap.empty[String, User]
  private val memberships = mutable.LinkedHashMap.empty[(String, String), String]
  private val sessions = mutable.LinkedHashMap.empty[String, Session]
  private val authCodes = mutable.LinkedHashMap.empty[String, CodeGrant]
  private val accessTokens = mutable.LinkedHashMap.empty[String, TokenGrant]
  private val refreshTokens = mutable.LinkedHashMap.empty[String, TokenGrant]

  /** emails are CANONICALIZED (trim + lowercase) on both create and
    * lookup, like the reference's admin.rs — 'Ada@x.io' and 'ada@x.io'
    * are the same account, and login works on any case variant. */
  private def canonEmail(email: String): String = email.trim.toLowerCase

  /** admin.rs create_user catalog step: unique (canonical) email →
    * conflict. The plaintext password never reaches this class (hashed
    * at the endpoint layer, admin.rs:996 "the plaintext never touches
    * the catalog"). */
  def createUser(email: String, displayName: Option[String],
      passwordHash: String, instanceAdmin: Boolean,
      nowMs: Long): Either[(Int, String), User] = synchronized {
    val e = canonEmail(email)
    if (users.values.exists(_.email == e))
      Left(409 -> s"a user with email '$e' already exists")
    else {
      val u = User(newId(), e, displayName, passwordHash,
        instanceAdmin, nowMs, disabled = false)
      users.put(u.id, u)
      persistAuth()
      Right(u)
    }
  }

  def getUser(id: String): Option[User] = synchronized(users.get(id))
  def getUserByEmail(email: String): Option[User] = {
    val e = canonEmail(email)
    synchronized(users.values.find(_.email == e))
  }

  def upsertMembership(userId: String, tenant: String,
      role: String): Unit = synchronized {
    memberships.put((userId, tenant), role)
    persistAuth()
  }

  def getMembership(userId: String, tenant: String): Option[String] =
    synchronized(memberships.get((userId, tenant)))

  /** revoke a membership: OAuth access/refresh tokens granted for this
    * (user, tenant) lose access at their NEXT use — the authenticator
    * re-resolves the membership per request (authenticator.rs:214-238),
    * so nothing needs to hunt down issued tokens. */
  def removeMembership(userId: String, tenant: String): Unit = synchronized {
    memberships.remove((userId, tenant))
    persistAuth()
  }

  def listMembershipsForUser(userId: String): Seq[(String, String)] =
    synchronized(memberships.collect {
      case ((u, t), role) if u == userId => (t, role)
    }.toSeq)

  def createSession(userId: String, tokenHash: String,
      expiresAtMs: Long): Session = synchronized {
    val s = Session(newId(), userId, tokenHash, expiresAtMs,
      revoked = false)
    sessions.put(s.id, s)
    persistAuth()
    s
  }

  def getValidSession(tokenHash: String, nowMs: Long): Option[Session] =
    synchronized(sessions.values.find(s =>
      s.tokenHash == tokenHash && !s.revoked && s.expiresAtMs > nowMs))

  def revokeSession(id: String): Unit = synchronized {
    sessions.get(id).foreach(s => sessions.put(id, s.copy(revoked = true)))
    persistAuth()
  }

  def createAuthCode(codeHash: String, clientId: String, userId: String,
      tenant: String, scopes: Seq[String], redirectUri: String,
      codeChallenge: String, resource: Option[String],
      expiresAtMs: Long): Unit = synchronized {
    authCodes.put(codeHash, CodeGrant(clientId, userId, tenant, scopes,
      redirectUri, codeChallenge, resource, expiresAtMs, consumed = false))
    persistAuth()
  }

  /** Redeem atomically — SINGLE-USE: the first consume wins, any replay
    * (or an expired/unknown code) returns None (oauth.rs:782
    * consume_authorization_code). */
  def consumeAuthCode(codeHash: String, nowMs: Long): Option[CodeGrant] =
    synchronized {
      authCodes.get(codeHash) match {
        case Some(g) if !g.consumed && g.expiresAtMs > nowMs =>
          authCodes.put(codeHash, g.copy(consumed = true))
          persistAuth()
          Some(g)
        case _ => None
      }
    }

  def createAccessToken(tokenHash: String, g: TokenGrant): Unit =
    synchronized { accessTokens.put(tokenHash, g); persistAuth() }

  def getValidAccessToken(tokenHash: String, nowMs: Long): Option[TokenGrant] =
    synchronized(accessTokens.get(tokenHash)
      .filter(g => !g.revoked && g.expiresAtMs > nowMs))

  def createRefreshToken(tokenHash: String, g: TokenGrant): Unit =
    synchronized { refreshTokens.put(tokenHash, g); persistAuth() }

  def getValidRefreshToken(tokenHash: String, nowMs: Long): Option[TokenGrant] =
    synchronized(refreshTokens.get(tokenHash)
      .filter(g => !g.revoked && g.expiresAtMs > nowMs))

  /** OAuth 2.1 §4.3.1 rotation: the presented refresh token is
    * single-use. */
  def revokeRefreshToken(tokenHash: String): Unit = synchronized {
    refreshTokens.get(tokenHash).foreach(g =>
      refreshTokens.put(tokenHash, g.copy(revoked = true)))
    persistAuth()
  }

  private def persistAuth(): Unit = persistPath.foreach { p =>
    def js(s: String) = ApiJson.jstr(s)
    def jo(s: Option[String]) = s.map(js).getOrElse("null")
    val us = users.values.map(u =>
      s"""{"id":${js(u.id)},"email":${js(u.email)},""" +
        s""""display_name":${jo(u.displayName)},""" +
        s""""password_hash":${js(u.passwordHash)},""" +
        s""""instance_admin":${u.instanceAdmin},""" +
        s""""created_at_ms":${u.createdAtMs},"disabled":${u.disabled}}""")
    val ms = memberships.map { case ((u, t), r) =>
      s"""{"user":${js(u)},"tenant":${js(t)},"role":${js(r)}}"""
    }
    val ss = sessions.values.map(s =>
      s"""{"id":${js(s.id)},"user":${js(s.userId)},""" +
        s""""token_hash":${js(s.tokenHash)},""" +
        s""""expires_at_ms":${s.expiresAtMs},"revoked":${s.revoked}}""")
    def grantJson(h: String, g: CodeGrant) =
      s"""{"hash":${js(h)},"client":${js(g.clientId)},""" +
        s""""user":${js(g.userId)},"tenant":${js(g.tenant)},""" +
        s""""scopes":${g.scopes.map(js).mkString("[", ",", "]")},""" +
        s""""redirect_uri":${js(g.redirectUri)},""" +
        s""""code_challenge":${js(g.codeChallenge)},""" +
        s""""resource":${jo(g.resource)},""" +
        s""""expires_at_ms":${g.expiresAtMs},"consumed":${g.consumed}}"""
    def tokJson(h: String, g: TokenGrant) =
      s"""{"hash":${js(h)},"client":${js(g.clientId)},""" +
        s""""user":${js(g.userId)},"tenant":${js(g.tenant)},""" +
        s""""scopes":${g.scopes.map(js).mkString("[", ",", "]")},""" +
        s""""resource":${jo(g.resource)},""" +
        s""""expires_at_ms":${g.expiresAtMs},"revoked":${g.revoked}}"""
    val body =
      s"""{"users":[${us.mkString(",")}],""" +
        s""""memberships":[${ms.mkString(",")}],""" +
        s""""sessions":[${ss.mkString(",")}],""" +
        s""""codes":[${authCodes.map { case (h, g) => grantJson(h, g) }.mkString(",")}],""" +
        s""""access_tokens":[${accessTokens.map { case (h, g) => tokJson(h, g) }.mkString(",")}],""" +
        s""""refresh_tokens":[${refreshTokens.map { case (h, g) => tokJson(h, g) }.mkString(",")}]}"""
    val f = p.resolveSibling("auth_state.json")
    Option(f.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, f,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def loadAuth(): Unit = persistPath.foreach { p =>
    val f = p.resolveSibling("auth_state.json")
    if (java.nio.file.Files.isRegularFile(f)) {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(f))
      def arr(field: String) = {
        val n = root.get(field)
        if (n == null || !n.isArray) Seq.empty
        else (0 until n.size()).map(n.get)
      }
      def opt(n: com.fasterxml.jackson.databind.JsonNode, field: String) =
        Option(n.get(field)).filterNot(_.isNull).map(_.asText)
      def strs(n: com.fasterxml.jackson.databind.JsonNode, field: String) = {
        val a = n.get(field)
        if (a == null || !a.isArray) Seq.empty[String]
        else (0 until a.size()).map(a.get(_).asText)
      }
      arr("users").foreach { u =>
        users.put(u.get("id").asText, User(u.get("id").asText,
          u.get("email").asText, opt(u, "display_name"),
          u.get("password_hash").asText,
          u.get("instance_admin").asBoolean,
          u.get("created_at_ms").asLong, u.get("disabled").asBoolean))
      }
      arr("memberships").foreach { m =>
        memberships.put((m.get("user").asText, m.get("tenant").asText),
          m.get("role").asText)
      }
      arr("sessions").foreach { s =>
        sessions.put(s.get("id").asText, Session(s.get("id").asText,
          s.get("user").asText, s.get("token_hash").asText,
          s.get("expires_at_ms").asLong, s.get("revoked").asBoolean))
      }
      arr("codes").foreach { c =>
        authCodes.put(c.get("hash").asText, CodeGrant(
          c.get("client").asText, c.get("user").asText,
          c.get("tenant").asText, strs(c, "scopes"),
          c.get("redirect_uri").asText, c.get("code_challenge").asText,
          opt(c, "resource"), c.get("expires_at_ms").asLong,
          c.get("consumed").asBoolean))
      }
      def loadTok(field: String,
          into: mutable.LinkedHashMap[String, TokenGrant]): Unit =
        arr(field).foreach { t =>
          into.put(t.get("hash").asText, TokenGrant(
            t.get("client").asText, t.get("user").asText,
            t.get("tenant").asText, strs(t, "scopes"),
            opt(t, "resource"), t.get("expires_at_ms").asLong,
            t.get("revoked").asBoolean))
        }
      loadTok("access_tokens", accessTokens)
      loadTok("refresh_tokens", refreshTokens)
    }
  }
  loadAuth()

  private def loadOAuth(): Unit = persistPath.foreach { p =>
    val f = p.resolveSibling("oauth_clients.json")
    if (java.nio.file.Files.isRegularFile(f)) {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(f))
      val n = root.get("clients")
      if (n != null && n.isArray) (0 until n.size()).map(n.get).foreach { c =>
        def strs(f2: String) = Option(c.get(f2)).filterNot(_.isNull).map(a =>
          (0 until a.size()).map(a.get(_).asText))
        oauthClients.put(c.get("id").asText, OAuthClient(
          c.get("id").asText,
          Option(c.get("name")).filterNot(_.isNull).map(_.asText),
          strs("redirect_uris").getOrElse(Seq.empty),
          strs("grant_types"),
          Option(c.get("scope")).filterNot(_.isNull).map(_.asText)))
      }
    }
  }
  loadOAuth()
}

object TenantCatalog {
  /** The four ingestion scopes a managed key may carry
    * (management.rs:19 INGEST_SCOPES). */
  val IngestScopes: Set[String] =
    Set("metrics:write", "logs:write", "traces:write", "profiles:write")

  /** What a resolved credential may do. `tenant=None` only for
    * instance-admin keys (they act on the tenant named in the path /
    * header). `scopes=None` = legacy unrestricted key (auth/mod.rs
    * can_ingest/can_read: absent scopes allow everything; present
    * scopes must contain the exact `<signal>:read|write`); `HttpShell`
    * enforces the scopes in its request check. */
  final case class Principal(tenant: Option[String],
      scopes: Option[Seq[String]], datasetId: Option[String],
      isAdmin: Boolean)

  final case class Tenant(id: String, name: String,
      defaultDataset: Option[String])

  final case class ApiKey(id: String, tenantId: String, hash: String,
      name: Option[String], datasetId: Option[String],
      scopes: Option[Seq[String]], revoked: Boolean)

  /** An RFC 7591 dynamically-registered PUBLIC client (PKCE, no
    * secret; `token_endpoint_auth_method` is always "none" —
    * oauth.rs:266). */
  final case class OAuthClient(id: String, name: Option[String],
      redirectUris: Seq[String], grantTypes: Option[Seq[String]],
      scope: Option[String])

  /** The per-signal read scopes the OAuth surface grants
    * (auth/mod.rs:22 READ_SCOPES). */
  val ReadScopes: Seq[String] =
    Seq("metrics:read", "logs:read", "traces:read", "profiles:read")

  /** Tenant membership roles (catalog MembershipRole: admin, member,
    * viewer). */
  val MembershipRoles: Set[String] = Set("admin", "member", "viewer")

  /** A human user (catalog users table; the password never persists —
    * only its PHC hash, admin.rs:996). */
  final case class User(id: String, email: String,
      displayName: Option[String], passwordHash: String,
      instanceAdmin: Boolean, createdAtMs: Long, disabled: Boolean)

  /** A browser session: only the token's sha256 digest is stored
    * (session.rs module doc). */
  final case class Session(id: String, userId: String, tokenHash: String,
      expiresAtMs: Long, revoked: Boolean)

  /** A minted single-use authorization code's binding (oauth.rs
    * create_authorization_code): client, user, tenant, scopes, redirect
    * URI, PKCE challenge, audience. */
  final case class CodeGrant(clientId: String, userId: String,
      tenant: String, scopes: Seq[String], redirectUri: String,
      codeChallenge: String, resource: Option[String],
      expiresAtMs: Long, consumed: Boolean)

  /** An issued access/refresh token's grant. */
  final case class TokenGrant(clientId: String, userId: String,
      tenant: String, scopes: Seq[String], resource: Option[String],
      expiresAtMs: Long, revoked: Boolean)

  /** Reference `validation.rs validate_id`: trim, non-empty, ≤64 chars,
    * ASCII alphanumerics plus `-`/`_` only (the charset rules out path
    * traversal and injection by construction). Returns the trimmed id
    * or the reference's error message. */
  def validateId(raw: String): Either[String, String] = {
    val t = raw.trim
    if (t.isEmpty) Left("ID cannot be empty")
    else if (t.length > 64)
      Left(s"ID exceeds maximum length (${t.length} > 64)")
    else {
      val bad = t.filterNot(c =>
        (c < 128 && c.isLetterOrDigit) || c == '-' || c == '_').distinct
      if (bad.nonEmpty) Left(s"ID contains invalid characters: '$bad'")
      else Right(t)
    }
  }
}
