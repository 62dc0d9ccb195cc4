package graft.catalog

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import graft.core._
import graft.manifest.ManifestIO
import graft.read.{IcebergRead, ReadOptions}
import graft.write.{IcebergWrite, TableWriteOptions}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

/**
 * Iceberg REST catalog client: config, OAuth2 client-credentials, namespace
 * ops, table lifecycle, optimistic-concurrency commits with retry — plus
 * DataFrame read/append through the catalog.
 *
 * (reference: src/catalog/rest/api/catalog_api.cpp:224-617 endpoints,
 * src/catalog/rest/storage/authorization/oauth2.cpp token flow,
 * src/iceberg_attach.cpp ATTACH options,
 * src/catalog/rest/transaction/iceberg_transaction.cpp:184-534 commit with
 * assert-requirements + retry.)
 */
case class CatalogOptions(
    warehouse: Option[String] = None,
    token: Option[String] = None,
    oauth2ServerUri: Option[String] = None,
    clientId: Option[String] = None,
    clientSecret: Option[String] = None,
    scope: Option[String] = None,
    maxCommitRetries: Int = 3,
    /** Reuse a cached LoadTableResult for this long (ms) before re-fetching —
      * the reference's `max_table_staleness` ATTACH option
      * (iceberg_attach.cpp:230-237). 0 = always fresh. */
    maxTableStalenessMs: Long = 0L,
    /** SigV4 request signing for AWS-hosted catalogs (Glue, S3 Tables) —
      * the reference's `authorization_type 'sigv4'` ATTACH option
      * (src/catalog/rest/storage/authorization/sigv4.cpp). Takes precedence
      * over bearer/OAuth2 auth when set. */
    sigv4: Option[SigV4Credentials] = None,
    /** `X-Iceberg-Access-Delegation` sent on table load/create — catalogs
      * like Polaris only vend storage credentials when the client
      * advertises it. "vended-credentials" by default like the reference
      * (`access_delegation_mode` ATTACH option, iceberg_attach.hpp:35
      * default VENDED_CREDENTIALS); None disables the header. */
    accessDelegationMode: Option[String] = Some("vended-credentials"),
    /** Offload scan planning to the catalog (POST .../plan) when it
      * advertises the endpoint — the reference's default, disabled by its
      * `iceberg_use_server_side_scan_planning` setting
      * (iceberg_scan_plan_provider.cpp:50-62). false = always plan
      * client-side. */
    serverSidePlanning: Boolean = true,
    /** Transport-level transient-failure budget: 429/502/503/504
      * responses are retried in place with exponential backoff (base
      * `transientRetryBaseMs`, doubling per attempt, a numeric
      * `Retry-After` header taking precedence) before surfacing. Real
      * REST catalogs sit behind gateways that throw these under load;
      * the Iceberg REST spec marks them retryable. Distinct from
      * `maxCommitRetries`, which re-stages a commit after a semantic
      * 409 conflict. */
    maxTransientRetries: Int = 4,
    transientRetryBaseMs: Long = 100L)

class RestCatalogException(val status: Int, msg: String) extends RuntimeException(s"HTTP $status: $msg")

/** A commit POST was answered by a gateway error (502/504) AND a fresh
  * reload could not find the attempted snapshot: the commit may still be
  * applied server-side (the backend can have processed the request after
  * the gateway gave up), so neither success nor failure can be assumed and
  * blindly re-staging risks silent row duplication. Mirrors the
  * reference's CommitStateUnknown outcome
  * (src/catalog/rest/transaction/iceberg_transaction.cpp): non-409
  * commit failures are surfaced, never retried as if failed-clean. */
class CommitStateUnknownException(status: Int, msg: String)
  extends RestCatalogException(status, s"commit state unknown: $msg")

class RestCatalog(baseUri: String, opts: CatalogOptions = CatalogOptions()) extends Logging {
  private val mapper = new ObjectMapper()
  private val F = JsonNodeFactory.instance
  private val http = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()
  private val base = baseUri.stripSuffix("/")

  // ---------- auth ----------
  @volatile private var cachedToken: Option[(String, Long)] = None // (token, expiryMs)

  private def bearer(): Option[String] = {
    opts.token.orElse {
      (opts.clientId, opts.clientSecret) match {
        case (Some(id), Some(secret)) =>
          cachedToken match {
            case Some((t, exp)) if System.currentTimeMillis() < exp - 30000 => Some(t)
            case _ =>
              val tokenUri = opts.oauth2ServerUri.getOrElse(s"$base/v1/oauth/tokens")
              val form = s"grant_type=client_credentials&client_id=$id&client_secret=$secret" +
                opts.scope.map(s => s"&scope=$s").getOrElse("")
              val req = HttpRequest.newBuilder(URI.create(tokenUri))
                .header("Content-Type", "application/x-www-form-urlencoded")
                .POST(HttpRequest.BodyPublishers.ofString(form)).build()
              val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
              if (resp.statusCode() >= 300) throw new RestCatalogException(resp.statusCode(), resp.body())
              val node = mapper.readTree(resp.body())
              val token = node.get("access_token").asText()
              val expiresIn = Option(node.get("expires_in")).map(_.asLong()).getOrElse(3600L)
              cachedToken = Some((token, System.currentTimeMillis() + expiresIn * 1000))
              Some(token)
          }
        case _ => None
      }
    }
  }

  private def request(method: String, path: String, body: Option[String] = None,
      headers: Map[String, String] = Map.empty): JsonNode =
    requestAttempt(method, path, body, retryAuth = true, headers)

  /** Header for endpoints that may vend storage credentials. */
  private def delegationHeader: Map[String, String] =
    opts.accessDelegationMode.map("X-Iceberg-Access-Delegation" -> _).toMap

  private def requestAttempt(method: String, path: String, body: Option[String],
      retryAuth: Boolean, headers: Map[String, String] = Map.empty): JsonNode = {
    // /v1/config always goes to the ATTACH uri; every other route honors a
    // server-sent `uri` override from the config response (catalogs can
    // redirect clients to a regional/data-plane endpoint — reference
    // iceberg_catalog.cpp:408-412). The config fetch itself must not
    // consult the override, or resolving it would recurse.
    val effBase = if (path.startsWith("/v1/config")) base else effectiveBase
    val uri = URI.create(s"$effBase$path")
    val b = HttpRequest.newBuilder(uri)
      .header("Content-Type", "application/json")
    headers.foreach { case (k, v) => b.header(k, v) }
    opts.sigv4 match {
      case Some(creds) =>
        val payload = body.map(_.getBytes(StandardCharsets.UTF_8))
          .getOrElse(if (method == "POST") "{}".getBytes(StandardCharsets.UTF_8)
                     else Array.empty[Byte])
        SigV4.sign(method, uri, Map("content-type" -> "application/json"), payload, creds)
          .foreach { case (k, v) => b.header(k, v) }
      case None =>
        bearer().foreach(t => b.header("Authorization", s"Bearer $t"))
    }
    val req = (method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body.getOrElse("{}")))
      case "HEAD" => b.method("HEAD", HttpRequest.BodyPublishers.noBody())
    }).build()
    // Transient gateway failures retry in place with exponential backoff;
    // a numeric Retry-After overrides the computed delay (clamped to >= 0:
    // a malformed negative header must not turn a retryable response into
    // an IllegalArgumentException from Thread.sleep). The retryable set
    // depends on idempotency: 429/503 mean the server explicitly did NOT
    // process the request, so any method may resend; 502/504 are gateway
    // ambiguity — the backend may have processed the request before the
    // gateway gave up — so only idempotent methods (GET/HEAD/DELETE)
    // resend blindly. A POST answered 502/504 surfaces to the caller;
    // commit call sites resolve the ambiguity by reloading the table and
    // checking whether the attempted snapshot landed (never re-staging
    // blind, which would duplicate rows).
    val idempotent = method != "POST"
    val retryable: Int => Boolean =
      st => st == 429 || st == 503 || (idempotent && (st == 502 || st == 504))
    var resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    var transientAttempt = 0
    while (retryable(resp.statusCode()) && transientAttempt < opts.maxTransientRetries) {
      val retryAfterMs = {
        val ra = resp.headers().firstValue("Retry-After")
        if (ra.isPresent) ra.get.trim.toLongOption.filter(_ >= 0).map(_ * 1000L) else None
      }
      val backoff = retryAfterMs.getOrElse(opts.transientRetryBaseMs << transientAttempt)
      Thread.sleep(math.min(backoff, 10000L))
      transientAttempt += 1
      resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    }
    // A 401 under client-credentials means the server dropped our token
    // early (revocation, restart): reacquire ONCE and retry (reference
    // test_oauth2_token_reacquire). Static user tokens can't be reacquired
    // — surface those as-is.
    if (resp.statusCode() == 401 && retryAuth && opts.token.isEmpty && cachedToken.isDefined) {
      cachedToken = None
      return requestAttempt(method, path, body, retryAuth = false, headers)
    }
    if (resp.statusCode() >= 300) throw new RestCatalogException(resp.statusCode(), resp.body())
    if (resp.body() == null || resp.body().isEmpty) F.objectNode() else mapper.readTree(resp.body())
  }

  /** Multi-level namespaces join with the unit separator per the REST spec,
    * percent-encoded (%1F) — a raw 0x1F is illegal in a URI. Levels are
    * percent-encoded as PATH segments: URLEncoder form-encodes ' ' as '+',
    * which a spec-compliant server would decode as a literal plus, so it
    * is corrected to %20. */
  private def pathSegment(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  private def nsPath(ns: Seq[String]): String =
    ns.map(pathSegment).mkString("%1F")

  // ---------- config & prefix ----------

  /** Catalog config resolved ONCE (first prefixed request). Real IRC
    * catalogs (Polaris, Glue IRC, S3 Tables, Lakekeeper) return a `prefix`
    * in `GET /v1/config` that must be spliced into every subsequent route
    * as `/v1/{prefix}/...` (reference catalog_api.cpp:167-278 —
    * `AddPrefixComponents(catalog.prefix)` on every endpoint; spec routes
    * are `/v1/{prefix}/namespaces/...`). A config fetch failure degrades to
    * no prefix with a warning so bare servers that don't serve /v1/config
    * keep working. */
  private lazy val rawConfig: Option[JsonNode] =
    try Some(request("GET", "/v1/config" + opts.warehouse.map(w => s"?warehouse=$w").getOrElse("")))
    catch {
      // Only "this server has no config endpoint" degrades to the bare,
      // prefix-less routes. A transient failure (5xx, auth, network) must
      // NOT be cached as no-prefix for the client's lifetime — a failed
      // lazy initializer re-runs on the next access, so rethrowing keeps
      // the config retryable.
      case e: RestCatalogException if e.status == 404 || e.status == 501 =>
        logWarning(s"[graft-catalog] GET /v1/config -> ${e.status}; assuming no prefix")
        None
    }

  private lazy val resolvedConfig: Map[String, String] =
    rawConfig.map(n => jsonToMap(n.get("defaults")) ++ jsonToMap(n.get("overrides")))
      .getOrElse(Map.empty)

  /** Routes the server advertises in config `endpoints`; servers that omit
    * the field get the spec's default endpoint set, which has NO HEAD
    * routes (reference iceberg_catalog.cpp:416-429 — advertised endpoints
    * win, AddDefaultSupportedEndpoints otherwise). */
  private lazy val supportedUrls: Set[String] =
    rawConfig.flatMap(n => Option(n.get("endpoints")).filterNot(_.isNull)).map { arr =>
      val it = arr.elements(); val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    }.getOrElse(RestCatalog.defaultEndpoints)

  private def requireEndpoint(route: String): Unit =
    if (!supportedUrls.contains(route))
      throw new UnsupportedOperationException(
        s"This Iceberg REST catalog server does not support '$route'")

  /** "/v1" or "/v1/{prefix}" — the root every catalog route (except
    * /v1/config and /v1/oauth/tokens, which the spec leaves unprefixed)
    * hangs off. A prefix may contain '/' (several path components); each
    * component is percent-encoded separately, like the reference's
    * AddPrefixComponents. */
  private lazy val apiRoot: String =
    ("/v1" +: resolvedConfig.get("prefix").filter(_.nonEmpty).toSeq
      .flatMap(_.split("/").toSeq.filter(_.nonEmpty)).map(pathSegment)).mkString("/")

  /** The prefix this client splices into routes (test/debug probe). */
  def resolvedPrefix: Option[String] = resolvedConfig.get("prefix").filter(_.nonEmpty)

  /** Base URI for catalog routes: the config response's `uri` override when
    * the server sent one, else the ATTACH uri. */
  private lazy val effectiveBase: String =
    resolvedConfig.get("uri").map(_.stripSuffix("/")).getOrElse(base)

  private def jsonToMap(n: JsonNode): Map[String, String] =
    if (n == null) Map.empty
    else {
      val it = n.properties().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asText()) }
      b.result()
    }

  def config(): Map[String, String] = {
    val node = request("GET", "/v1/config" + opts.warehouse.map(w => s"?warehouse=$w").getOrElse(""))
    jsonToMap(node.get("defaults")) ++ jsonToMap(node.get("overrides"))
  }

  // ---------- namespaces ----------

  /** Paged GET loop: follow `next-page-token` until the server stops
    * returning one (reference IRCAPI::GetTables/GetSchemas — large
    * catalogs return thousands of entries across pages; reading only the
    * first silently truncates). Listing 403/404 degrade to empty with a
    * warning, like the reference, so one unauthorized schema doesn't break
    * catalog browsing — but 401 (bad/expired credentials) surfaces as an
    * exception: an auth misconfiguration must not read as an empty
    * catalog. */
  private def pagedList[T](basePath: String, extract: JsonNode => Seq[T]): Seq[T] = {
    val out = Seq.newBuilder[T]
    var pageToken: Option[String] = None
    val seenTokens = scala.collection.mutable.Set.empty[String]
    var first = true
    while (first || pageToken.isDefined) {
      first = false
      val sep = if (basePath.contains("?")) "&" else "?"
      val path = basePath + pageToken.map(t =>
        sep + "pageToken=" + java.net.URLEncoder.encode(t, "UTF-8")).getOrElse("")
      val node =
        try request("GET", path)
        catch {
          case e: RestCatalogException if Seq(403, 404).contains(e.status) =>
            logWarning(s"[graft-catalog] GET $path -> ${e.status}; returning partial listing")
            return out.result()
        }
      out ++= extract(node)
      val next = Option(node.get("next-page-token")).filterNot(_.isNull).map(_.asText())
        .filter(_.nonEmpty)
      // Loop guard: a broken paginator that re-issues ANY previously seen
      // token (echoing the current one, or cycling A→B→A) would otherwise
      // spin forever. Surface the truncation as a warning and return what
      // was read — same degrade-don't-hang policy as the 403/404 partial
      // listing above.
      if (next.isDefined && !seenTokens.add(next.get)) {
        logWarning(s"[graft-catalog] GET $path returned an already-seen pageToken " +
          s"(${next.get}); stopping pagination with a possibly-truncated listing")
        pageToken = None
      } else pageToken = next
    }
    out.result()
  }

  def listNamespaces(): Seq[Seq[String]] =
    pagedList(s"$apiRoot/namespaces", { node =>
      val out = Seq.newBuilder[Seq[String]]
      val it = node.get("namespaces").elements()
      while (it.hasNext) {
        val arr = it.next()
        val parts = Seq.newBuilder[String]
        val pit = arr.elements()
        while (pit.hasNext) parts += pit.next().asText()
        out += parts.result()
      }
      out.result()
    })

  def createNamespace(ns: Seq[String], properties: Map[String, String] = Map.empty): Unit = {
    val o = F.objectNode()
    val arr = o.putArray("namespace"); ns.foreach(arr.add)
    val props = o.putObject("properties"); properties.foreach { case (k, v) => props.put(k, v) }
    request("POST", s"$apiRoot/namespaces", Some(mapper.writeValueAsString(o)))
  }

  def dropNamespace(ns: Seq[String]): Unit =
    request("DELETE", s"$apiRoot/namespaces/${nsPath(ns)}")

  def namespaceProperties(ns: Seq[String]): Map[String, String] = {
    requireEndpoint("GET /v1/{prefix}/namespaces/{namespace}")
    val node = request("GET", s"$apiRoot/namespaces/${nsPath(ns)}")
    val p = node.get("properties")
    if (p == null) Map.empty
    else {
      val it = p.properties().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asText()) }
      b.result()
    }
  }

  def updateNamespaceProperties(ns: Seq[String], updates: Map[String, String],
      removals: Seq[String] = Nil): Unit = {
    requireEndpoint("POST /v1/{prefix}/namespaces/{namespace}/properties")
    val o = F.objectNode()
    val rm = o.putArray("removals"); removals.foreach(rm.add)
    val up = o.putObject("updates"); updates.foreach { case (k, v) => up.put(k, v) }
    request("POST", s"$apiRoot/namespaces/${nsPath(ns)}/properties", Some(mapper.writeValueAsString(o)))
  }

  // ---------- tables ----------

  def listTables(ns: Seq[String]): Seq[String] =
    pagedList(s"$apiRoot/namespaces/${nsPath(ns)}/tables", { node =>
      val out = Seq.newBuilder[String]
      val it = node.get("identifiers").elements()
      while (it.hasNext) out += it.next().get("name").asText()
      out.result()
    })

  case class LoadedTable(metadata: TableMetadata, metadataLocation: String, config: Map[String, String])

  // Staleness-bounded load cache: busy catalogs (dashboards re-reading the
  // same tables) skip the round-trip when the cached result is younger than
  // maxTableStalenessMs. Writes through THIS client invalidate eagerly so a
  // read-your-writes session never sees its own stale data.
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, LoadedTable)]()
  private def cacheKey(ns: Seq[String], name: String) = nsPath(ns) + "\u0000" + name
  private def invalidate(ns: Seq[String], name: String): Unit =
    tableCache.remove(cacheKey(ns, name))

  def loadTable(ns: Seq[String], name: String): LoadedTable = {
    val key = cacheKey(ns, name)
    if (opts.maxTableStalenessMs > 0) {
      val hit = tableCache.get(key)
      if (hit != null && System.currentTimeMillis() - hit._1 <= opts.maxTableStalenessMs)
        return hit._2
    }
    val node = request("GET", s"$apiRoot/namespaces/${nsPath(ns)}/tables/$name",
      headers = delegationHeader)
    val t = parseLoadResult(node)
    if (opts.maxTableStalenessMs > 0) tableCache.put(key, (System.currentTimeMillis(), t))
    t
  }

  /** Parse a LoadTableResult (also the debug surface behind the reference's
    * iceberg_load_table_response — iceberg_load_table_response.cpp:68-248). */
  def parseLoadResult(node: JsonNode): LoadedTable = {
    val metaNode = node.get("metadata")
    val loc = Option(node.get("metadata-location")).map(_.asText()).getOrElse("")
    val meta = TableMetadata.parseNode(metaNode, None)
    val cfg = Option(node.get("config")).map { c =>
      val it = c.properties().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asText()) }
      b.result()
    }.getOrElse(Map.empty)
    LoadedTable(meta, loc, cfg)
  }

  /** Existence probe: HEAD when the server advertises the HEAD route
    * (cheaper — no LoadTableResult body), GET otherwise; an unexpected HEAD
    * status falls back to GET rather than erroring (reference
    * catalog_api.cpp:125-190 VerifyResponse / VerifyTableExistence /
    * VerifySchemaExistence; test_minimal_head_requests.test). */
  private def headProbe(path: String, headRoute: String): Option[Boolean] =
    if (!supportedUrls.contains(headRoute)) None
    else statusOf("HEAD", path) match {
      case st if st < 300 => Some(true)
      case 404 => Some(false)
      case _ => None // odd status: fall back to GET, like the reference
    }

  private def statusOf(method: String, path: String): Int =
    try { requestAttempt(method, path, None, retryAuth = true); 200 }
    catch { case e: RestCatalogException => e.status }

  def namespaceExists(ns: Seq[String]): Boolean =
    headProbe(s"$apiRoot/namespaces/${nsPath(ns)}",
        "HEAD /v1/{prefix}/namespaces/{namespace}").getOrElse {
      try { request("GET", s"$apiRoot/namespaces/${nsPath(ns)}"); true }
      catch { case e: RestCatalogException if e.status == 404 => false }
    }

  def tableExists(ns: Seq[String], name: String): Boolean =
    headProbe(s"$apiRoot/namespaces/${nsPath(ns)}/tables/$name",
        "HEAD /v1/{prefix}/namespaces/{namespace}/tables/{table}").getOrElse {
      // GET fallback routes through loadTable: the staleness cache is
      // consulted AND warmed, and the fetched LoadTableResult (with the
      // delegation header) isn't thrown away before the load that almost
      // always follows an exists probe.
      try { loadTable(ns, name); true }
      catch { case e: RestCatalogException if e.status == 404 => false }
    }

  def createTable(ns: Seq[String], name: String, schema: IcebergSchema,
      location: String, partitionSpec: Option[PartitionSpec] = None,
      properties: Map[String, String] = Map.empty,
      stageCreate: Boolean = false): LoadedTable = {
    val o = F.objectNode()
    o.put("name", name)
    o.put("location", location)
    // stage-create: the server stages the table (invisible to loads/lists)
    // until a later commit carrying assert-create materializes it together
    // with its first data — CTAS becomes ONE atomic commit (reference
    // iceberg_create_table_request.cpp:217-224,
    // iceberg_table_set.cpp:281-298).
    if (stageCreate) o.put("stage-create", true)
    o.set[JsonNode]("schema", schema.toJson)
    partitionSpec.foreach { sp =>
      val so = o.putObject("partition-spec")
      so.put("spec-id", sp.specId)
      val fa = so.putArray("fields")
      sp.fields.foreach { f =>
        val fo = F.objectNode()
        fo.put("name", f.name); fo.put("transform", f.transform.toString)
        fo.put("source-id", f.sourceId); fo.put("field-id", f.fieldId)
        fa.add(fo)
      }
    }
    val props = o.putObject("properties"); properties.foreach { case (k, v) => props.put(k, v) }
    val node = request("POST", s"$apiRoot/namespaces/${nsPath(ns)}/tables",
      Some(mapper.writeValueAsString(o)), headers = delegationHeader)
    parseLoadResult(node)
  }

  /** Register an EXISTING table by its metadata-file location (the spec's
    * `POST /v1/{prefix}/namespaces/{namespace}/register` — how a table
    * written path-style, or migrated from another catalog, becomes
    * catalog-managed without rewriting anything). */
  def registerTable(ns: Seq[String], name: String, metadataLocation: String): LoadedTable = {
    requireEndpoint("POST /v1/{prefix}/namespaces/{namespace}/register")
    val o = F.objectNode()
    o.put("name", name)
    o.put("metadata-location", metadataLocation)
    val node = request("POST", s"$apiRoot/namespaces/${nsPath(ns)}/register",
      Some(mapper.writeValueAsString(o)), headers = delegationHeader)
    invalidate(ns, name)
    parseLoadResult(node)
  }

  def dropTable(ns: Seq[String], name: String, purge: Boolean = false): Unit = {
    request("DELETE", s"$apiRoot/namespaces/${nsPath(ns)}/tables/$name${if (purge) "?purgeRequested=true" else ""}")
    invalidate(ns, name)
  }

  def renameTable(ns: Seq[String], from: String, to: String): Unit = {
    invalidate(ns, from); invalidate(ns, to)
    val o = F.objectNode()
    val s = o.putObject("source"); val sArr = s.putArray("namespace"); ns.foreach(sArr.add); s.put("name", from)
    val d = o.putObject("destination"); val dArr = d.putArray("namespace"); ns.foreach(dArr.add); d.put("name", to)
    request("POST", s"$apiRoot/tables/rename", Some(mapper.writeValueAsString(o)))
  }

  // ---------- commits ----------

  /** Commit a new snapshot (already written to storage) with
    * assert-ref-snapshot-id optimistic concurrency; on 409 the caller's
    * rebase function recomputes the snapshot against fresh metadata. */
  /** The full initial-metadata update list for committing a STAGED create.
    * Compliant servers (Polaris/Lakekeeper) do not persist staged state —
    * they rebuild the table entirely from the commit's updates — so the
    * assert-create commit must carry assign-uuid / upgrade-format-version /
    * add-schema / set-current-schema / add-spec / set-default-spec /
    * add-sort-order / set-default-sort-order / set-location /
    * set-properties ahead of the snapshot updates (reference
    * iceberg_table_set.cpp:294-313 TableAssignUUID..TableSetProperties). */
  private[graft] def initialMetadataUpdates(meta: TableMetadata): Seq[ObjectNode] = {
    val ups = Seq.newBuilder[ObjectNode]
    def node(action: String)(f: ObjectNode => Unit): Unit = {
      val u = F.objectNode(); u.put("action", action); f(u); ups += u
    }
    node("assign-uuid")(_.put("uuid", meta.tableUuid))
    node("upgrade-format-version")(_.put("format-version", meta.formatVersion))
    val schema = meta.currentSchema
    node("add-schema") { u =>
      u.set[JsonNode]("schema", schema.toJson); u.put("last-column-id", meta.lastColumnId)
    }
    node("set-current-schema")(_.put("schema-id", schema.schemaId))
    val spec = meta.defaultSpec
    node("add-spec") { u =>
      val so = u.putObject("spec")
      so.put("spec-id", spec.specId)
      val fa = so.putArray("fields")
      spec.fields.foreach { f =>
        val fo = F.objectNode()
        fo.put("name", f.name); fo.put("transform", f.transform.toString)
        fo.put("source-id", f.sourceId); fo.put("field-id", f.fieldId)
        fa.add(fo)
      }
    }
    node("set-default-spec")(_.put("spec-id", spec.specId))
    val order = meta.sortOrder(meta.defaultSortOrderId).getOrElse(SortOrder(0, Nil))
    node("add-sort-order") { u =>
      val oo = u.putObject("sort-order")
      oo.put("order-id", order.orderId)
      val fa = oo.putArray("fields")
      order.fields.foreach { f =>
        val fo = F.objectNode()
        fo.put("transform", f.transform.toString); fo.put("source-id", f.sourceId)
        fo.put("direction", if (f.ascending) "asc" else "desc")
        fo.put("null-order", if (f.nullsFirst) "nulls-first" else "nulls-last")
        fa.add(fo)
      }
    }
    node("set-default-sort-order")(_.put("sort-order-id", order.orderId))
    node("set-location")(_.put("location", meta.location))
    if (meta.properties.nonEmpty) node("set-properties") { u =>
      val p = u.putObject("updates"); meta.properties.foreach { case (k, v) => p.put(k, v) }
    }
    ups.result()
  }

  /** Fill `requirements` + `updates` arrays for one table's snapshot commit
    * (shared by the single-table and multi-table transaction bodies).
    * `preUpdates` (initial metadata for staged creates) precede add-snapshot;
    * `extraUpdates` follow it. */
  private def fillCommitBody(o: ObjectNode, expectedRefSnapshot: Option[Long],
      snapshot: SnapshotInfo, extraUpdates: Seq[ObjectNode],
      assertCreate: Boolean = false, preUpdates: Seq[ObjectNode] = Nil): Unit = {
    val reqs = o.putArray("requirements")
    val r = F.objectNode()
    if (assertCreate) {
      // Committing a STAGED create: the requirement is that the table does
      // not exist yet, not a snapshot assertion.
      r.put("type", "assert-create")
    } else {
      r.put("type", "assert-ref-snapshot-id"); r.put("ref", "main")
      expectedRefSnapshot match {
        case Some(id) => r.put("snapshot-id", id)
        case None => r.putNull("snapshot-id")
      }
    }
    reqs.add(r)
    val ups = o.putArray("updates")
    preUpdates.foreach(ups.add)
    val add = F.objectNode()
    add.put("action", "add-snapshot")
    val snapNode = add.putObject("snapshot")
    snapNode.put("snapshot-id", snapshot.snapshotId)
    snapshot.parentSnapshotId.foreach(p => snapNode.put("parent-snapshot-id", p))
    snapNode.put("sequence-number", snapshot.sequenceNumber)
    snapNode.put("timestamp-ms", snapshot.timestampMs)
    snapNode.put("manifest-list", snapshot.manifestList)
    val summ = snapNode.putObject("summary"); snapshot.summary.foreach { case (k, v) => summ.put(k, v) }
    snapshot.schemaId.foreach(id => snapNode.put("schema-id", id))
    ups.add(add)
    val ref = F.objectNode()
    ref.put("action", "set-snapshot-ref"); ref.put("ref-name", "main")
    ref.put("type", "branch"); ref.put("snapshot-id", snapshot.snapshotId)
    ups.add(ref)
    extraUpdates.foreach(ups.add)
  }

  /** Register a table-statistics file via the `set-statistics` update
    * action (reference REST binding
    * src/rest_catalog/objects/set_statistics_update.cpp: action +
    * statistics + deprecated duplicate snapshot-id). No requirement is
    * asserted — statistics registration is last-wins per snapshot. */
  def setStatistics(ns: Seq[String], name: String, sf: StatisticsFile): LoadedTable = {
    val o = F.objectNode()
    o.putArray("requirements")
    val ups = o.putArray("updates")
    val u = F.objectNode()
    u.put("action", "set-statistics")
    u.put("snapshot-id", sf.snapshotId)
    u.set[ObjectNode]("statistics", TableMetadata.statisticsFileToJson(sf))
    ups.add(u)
    val node = request("POST", s"$apiRoot/namespaces/${nsPath(ns)}/tables/$name", Some(mapper.writeValueAsString(o)))
    invalidate(ns, name)
    parseLoadResult(node)
  }

  def commitSnapshot(ns: Seq[String], name: String, expectedRefSnapshot: Option[Long],
      snapshot: SnapshotInfo, extraUpdates: Seq[ObjectNode] = Nil,
      assertCreate: Boolean = false, preUpdates: Seq[ObjectNode] = Nil): LoadedTable = {
    val o = F.objectNode()
    fillCommitBody(o, expectedRefSnapshot, snapshot, extraUpdates, assertCreate, preUpdates)
    val node =
      try request("POST", s"$apiRoot/namespaces/${nsPath(ns)}/tables/$name", Some(mapper.writeValueAsString(o)))
      catch {
        // 502/504 on a commit POST is ambiguous (the backend may have
        // applied the commit after the gateway gave up — transport-level
        // retry is deliberately NOT done for non-idempotent POSTs, see
        // requestAttempt). Resolve by reloading: if our snapshot-id is in
        // the fresh metadata the commit landed and this IS a success;
        // otherwise surface commit-state-unknown so callers' 409 re-stage
        // loops don't append the same data twice.
        case e: RestCatalogException if e.status == 502 || e.status == 504 =>
          invalidate(ns, name)
          val reloaded =
            try loadTable(ns, name)
            catch { case _: Exception => throw new CommitStateUnknownException(e.status, e.getMessage) }
          if (reloaded.metadata.snapshots.exists(_.snapshotId == snapshot.snapshotId)) return reloaded
          throw new CommitStateUnknownException(e.status, e.getMessage)
      }
    invalidate(ns, name)
    parseLoadResult(node)
  }

  // ---------- multi-table transactions ----------

  /** One table's staged snapshot inside a multi-table transaction. */
  case class TableChange(ns: Seq[String], name: String,
      expectedRefSnapshot: Option[Long], snapshot: SnapshotInfo,
      extraUpdates: Seq[ObjectNode] = Nil)

  /** Atomic multi-table commit: POST /v1/transactions/commit carrying every
    * table's requirements + updates; the server applies all or none
    * (reference iceberg_transaction.cpp:577-610 CommitMultiTableUpdate,
    * catalog_api.cpp commit-transaction endpoint). On 409 the CALLER
    * restages each table against fresh metadata and retries — file writes
    * (manifests, manifest lists) are already durable and reusable. */
  def commitTransaction(changes: Seq[TableChange]): Unit = {
    val o = F.objectNode()
    val arr = o.putArray("table-changes")
    changes.foreach { c =>
      val t = F.objectNode()
      val ident = t.putObject("identifier")
      val nsArr = ident.putArray("namespace"); c.ns.foreach(nsArr.add)
      ident.put("name", c.name)
      fillCommitBody(t, c.expectedRefSnapshot, c.snapshot, c.extraUpdates)
      arr.add(t)
    }
    try request("POST", s"$apiRoot/transactions/commit", Some(mapper.writeValueAsString(o)))
    catch {
      // Same gateway-ambiguity resolution as commitSnapshot, atomically:
      // the transaction applied ALL tables' snapshots or none, so checking
      // every change distinguishes landed from unknown.
      case e: RestCatalogException if e.status == 502 || e.status == 504 =>
        changes.foreach(c => invalidate(c.ns, c.name))
        val landed =
          try changes.forall(c =>
            loadTable(c.ns, c.name).metadata.snapshots.exists(_.snapshotId == c.snapshot.snapshotId))
          catch { case _: Exception => throw new CommitStateUnknownException(e.status, e.getMessage) }
        if (!landed) throw new CommitStateUnknownException(e.status, e.getMessage)
    }
    changes.foreach(c => invalidate(c.ns, c.name))
  }

  /** Append several DataFrames to several tables in ONE atomic transaction.
    * Stages each table's data+manifests, then commits all changes together;
    * on conflict, restages every table against fresh metadata (bounded by
    * maxCommitRetries, mirroring the reference's retry/backoff loop). */
  def appendAllDF(writes: Seq[(DataFrame, Seq[String], String)]): Unit = {
    require(writes.nonEmpty, "appendAllDF needs at least one table")
    val conf = writes.head._1.sparkSession.sessionState.newHadoopConf()
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= opts.maxCommitRetries) {
      val changes = writes.map { case (df, ns, name) =>
        val meta = loadTable(ns, name).metadata
        val (entries, _) = IcebergWrite.writeDataFiles(df, meta, conf)
        val (snapshot, _) = IcebergWrite.buildSnapshotFiles(meta, entries, Nil, "append", conf)
        TableChange(ns, name, meta.currentSnapshotId, snapshot)
      }
      try {
        commitTransaction(changes)
        return
      } catch {
        case e: RestCatalogException if e.status == 409 =>
          lastErr = e; attempt += 1
          writes.foreach { case (_, ns, name) => invalidate(ns, name) }
      }
    }
    throw new IllegalStateException(s"Transaction failed after ${opts.maxCommitRetries} retries", lastErr)
  }

  // ---------- vended credentials ----------

  /** Map vended storage credentials from a LoadTableResult `config` onto a
    * Hadoop Configuration (per-table scoped `fs.s3a.*`), so executors can
    * open the table's files (reference
    * src/catalog/rest/storage/iceberg_table_secret_provider.cpp). */
  def applyVendedCredentials(conf: org.apache.hadoop.conf.Configuration,
      config: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val mapping = Map(
      "s3.access-key-id" -> "fs.s3a.access.key",
      "s3.secret-access-key" -> "fs.s3a.secret.key",
      "s3.session-token" -> "fs.s3a.session.token",
      "s3.endpoint" -> "fs.s3a.endpoint",
      "s3.path-style-access" -> "fs.s3a.path.style.access",
      "client.region" -> "fs.s3a.endpoint.region")
    config.foreach { case (k, v) => mapping.get(k).foreach(h => conf.set(h, v)) }
    if (config.get("s3.session-token").isDefined)
      conf.set("fs.s3a.aws.credentials.provider",
        "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider")
    conf
  }

  // ---------- DataFrame integration ----------

  /** Read a catalog table as a DataFrame (scan machinery shared with
    * path-based reads). */
  /** Route advertised for server-side scan planning (spec names). */
  private val PlanEndpoint = "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan"

  /** Load a catalog table as a DataFrame. Planning side selection mirrors
    * the reference's `IcebergScanPlanProvider::Create`
    * (src/planning/scan_plan/iceberg_scan_plan_provider.cpp:40-80):
    * server-side when the catalog advertises the plan endpoint and the
    * table's `scan-planning-mode` config doesn't force `client`, falling
    * back to client planning when the server answers 406 (planning not
    * supported for this table). Reads that feed writes or project row
    * lineage ALWAYS plan client-side — the reference's optimizer forces
    * the same (src/planning/iceberg_optimizer.cpp:27-75): a DML needs
    * file/position metadata and sequence numbers the plan response does
    * not carry. */
  def loadDF(spark: SparkSession, ns: Seq[String], name: String,
      readOpts: ReadOptions = ReadOptions()): DataFrame = {
    val t = loadTable(ns, name)
    val conf = applyVendedCredentials(spark.sessionState.newHadoopConf(), t.config)
    RestCatalog.lastScanConf = Some(conf)
    val mode = t.config.getOrElse("scan-planning-mode", "").toLowerCase
    val requiresLocal = readOpts.keepFileMeta || readOpts.withRowLineage ||
      readOpts.lookup != graft.core.SnapshotLookup.Latest
    val serverEligible = opts.serverSidePlanning && !requiresLocal &&
      mode != "client" && supportedUrls.contains(PlanEndpoint)
    if (serverEligible) {
      planTableScan(spark, ns, name, t, conf, readOpts) match {
        case Some(df) => return df
        case None => // 406: table not plannable server-side — client path.
      }
    }
    IcebergRead.loadWithMetadata(spark, t.metadata, conf, readOpts)
  }

  /** Server-side scan planning, explicit entry point: POST /plan and build
    * the DataFrame from the returned file-scan tasks — manifest IO stays on
    * the catalog server. Throws when the server declines (406). */
  def loadDFServerPlanned(spark: SparkSession, ns: Seq[String], name: String,
      readOpts: ReadOptions = ReadOptions()): DataFrame = {
    val t = loadTable(ns, name)
    val conf = applyVendedCredentials(spark.sessionState.newHadoopConf(), t.config)
    planTableScan(spark, ns, name, t, conf, readOpts).getOrElse(
      throw new UnsupportedOperationException(
        s"catalog declined server-side scan planning for ${nsPath(ns)}.$name"))
  }

  /** The planTableScan protocol (reference api/iceberg_scan_planning.cpp):
    * POST /plan; a `completed` result carries scan tasks inline, a
    * `submitted` result carries a plan-id to poll (GET /plan/{id},
    * exponential backoff 100 ms → 1 s); `failed`/`cancelled` raise.
    * `plan-tasks` shard identifiers are fetched via POST /tasks (each may
    * return further shards; duplicates are an error, like the reference's
    * PlanTasksContainer). On any error after a plan-id was issued, the plan
    * is cancelled best-effort (DELETE /plan/{id}). Returns None on 406 —
    * the server does not support planning for this table.
    *
    * Task mapping mirrors the reference's MakeManifests: data files enter
    * the scan at sequence 0, delete files at sequence 1, so positional and
    * equality deletes (strictly-older rule) apply to every data file the
    * server associated them with; partition values parse through the JSON
    * single-value rules so partition-scoped equality-delete grouping and
    * identity-partition constants behave exactly as in client planning. */
  private def planTableScan(spark: SparkSession, ns: Seq[String], name: String,
      t: LoadedTable, conf: org.apache.hadoop.conf.Configuration,
      readOpts: ReadOptions): Option[DataFrame] = {
    val meta = t.metadata
    val planBase = s"$apiRoot/namespaces/${nsPath(ns)}/tables/$name/plan"
    val req = F.objectNode()
    meta.currentSnapshotId.foreach(id => req.put("snapshot-id", id))
    req.put("case-sensitive", true)
    var node: JsonNode =
      try request("POST", planBase, Some(mapper.writeValueAsString(req)),
        Map("Idempotency-Key" -> java.util.UUID.randomUUID().toString))
      catch {
        case e: RestCatalogException if e.status == 406 => return None
      }
    var planId: Option[String] =
      Option(node.get("plan-id")).filterNot(_.isNull).map(_.asText())
    try {
      var delayMs = 100L
      var status = Option(node.get("status")).orElse(Option(node.get("plan-status")))
        .map(_.asText()).getOrElse("completed")
      while (status == "submitted") {
        val id = planId.getOrElse(
          throw new IllegalStateException("submitted scan plan carries no plan-id"))
        Thread.sleep(delayMs)
        delayMs = math.min(delayMs * 2, 1000L)
        node = request("GET", s"$planBase/${pathSegment(id)}")
        Option(node.get("plan-id")).filterNot(_.isNull).foreach(n => planId = Some(n.asText()))
        status = Option(node.get("status")).orElse(Option(node.get("plan-status")))
          .map(_.asText()).getOrElse("completed")
      }
      status match {
        case "completed" => ()
        case "failed" => throw new IllegalStateException(
          s"server-side scan planning failed: $node")
        case "cancelled" => throw new IllegalStateException(
          "server-side scan planning was cancelled by the server")
        case other => throw new IllegalStateException(
          s"unknown scan-planning status '$other'")
      }

      val dataFiles = Seq.newBuilder[graft.read.PlannedFile]
      val deleteFiles = Seq.newBuilder[graft.read.PlannedFile]
      val seenPlanTasks = scala.collection.mutable.LinkedHashSet.empty[String]
      val pendingPlanTasks = scala.collection.mutable.Queue.empty[String]

      def parsePartition(n: JsonNode, specId: Int): Seq[Any] = {
        val fields = meta.spec(specId).fields
        val arr = Option(n).filterNot(_.isNull).toSeq.flatMap { a =>
          val it = a.elements(); val b = Seq.newBuilder[JsonNode]
          while (it.hasNext) b += it.next(); b.result()
        }
        fields.zipWithIndex.map { case (pf, i) =>
          val src = meta.currentSchema.idToField.get(pf.sourceId).map(_.fieldType)
          (arr.lift(i), src) match {
            case (Some(v), Some(st)) =>
              IcebergRead.jsonSingleValue(v, pf.transform.resultType(st)).orNull
            case _ => null
          }
        }
      }
      def parseTaskFile(n: JsonNode, content: Int, seq: Long): graft.read.PlannedFile = {
        val path = n.get("file-path").asText()
        val specId = Option(n.get("spec-id")).map(_.asInt()).getOrElse(meta.defaultSpecId)
        graft.read.PlannedFile(
          graft.manifest.DataFileInfo(
            // Spec ContentFile carries the string enum; tolerate the
            // numeric manifest form too.
            content = Option(n.get("content")).filterNot(_.isNull).map {
              case c if c.isTextual => c.asText() match {
                case "position-deletes" => 1
                case "equality-deletes" => 2
                case _ => 0
              }
              case c => c.asInt()
            }.getOrElse(content),
            filePath = path,
            fileFormat = Option(n.get("file-format")).map(_.asText().toLowerCase).getOrElse("parquet"),
            partitionValues = parsePartition(n.get("partition"), specId),
            recordCount = Option(n.get("record-count")).map(_.asLong()).getOrElse(0L),
            fileSizeInBytes = Option(n.get("file-size-in-bytes")).map(_.asLong()).getOrElse(0L),
            columnSizes = Map.empty, valueCounts = Map.empty,
            nullValueCounts = Map.empty, nanValueCounts = Map.empty,
            lowerBounds = Map.empty, upperBounds = Map.empty,
            splitOffsets = Nil,
            equalityIds = Option(n.get("equality-ids")).map { a =>
              val it = a.elements(); val b = Seq.newBuilder[Int]
              while (it.hasNext) b += it.next().asInt(); b.result()
            }.getOrElse(Nil),
            sortOrderId = None,
            referencedDataFile = Option(n.get("referenced-data-file")).map(_.asText()),
            contentOffset = Option(n.get("content-offset")).filterNot(_.isNull).map(_.asLong()),
            contentSizeInBytes = Option(n.get("content-size-in-bytes")).filterNot(_.isNull).map(_.asLong())),
          TableMetadata.resolvePath(meta.location, path, null),
          specId,
          seq,
          graft.manifest.EntryStatus.Existing,
          None)
      }
      // One ScanTasks payload: top-level `delete-files` referenced by index
      // from each task's `delete-file-references` (spec shape), plus the
      // nested per-task `delete-files` legacy shape; `plan-tasks` enqueue
      // further fetches.
      def appendTasks(o: JsonNode): Unit = {
        val localDeletes = Option(o.get("delete-files")).filterNot(_.isNull).map { dels =>
          val it = dels.elements(); val b = Seq.newBuilder[graft.read.PlannedFile]
          while (it.hasNext) b += parseTaskFile(it.next(), 1, seq = 1L)
          b.result()
        }.getOrElse(Nil)
        deleteFiles ++= localDeletes
        Option(o.get("file-scan-tasks")).filterNot(_.isNull).foreach { tasks =>
          val it = tasks.elements()
          while (it.hasNext) {
            val task = it.next()
            dataFiles += parseTaskFile(task.get("data-file"), 0, seq = 0L)
            Option(task.get("delete-file-references")).filterNot(_.isNull).foreach { refs =>
              val rit = refs.elements()
              while (rit.hasNext) {
                val idx = rit.next().asInt()
                require(idx >= 0 && idx < localDeletes.size,
                  s"delete-file reference $idx out of range (${localDeletes.size} delete files)")
              }
            }
            Option(task.get("delete-files")).filterNot(_.isNull).foreach { dels =>
              val dit = dels.elements()
              while (dit.hasNext) deleteFiles += parseTaskFile(dit.next(), 1, seq = 1L)
            }
          }
        }
        Option(o.get("plan-tasks")).filterNot(_.isNull).foreach { pts =>
          val it = pts.elements()
          while (it.hasNext) {
            val id = it.next().asText()
            require(seenPlanTasks.add(id), s"duplicate plan-task identifier '$id'")
            pendingPlanTasks += id
          }
        }
      }
      appendTasks(node)
      while (pendingPlanTasks.nonEmpty) {
        val taskId = pendingPlanTasks.dequeue()
        val body = F.objectNode(); body.put("plan-task", taskId)
        val resp = request("POST",
          s"$apiRoot/namespaces/${nsPath(ns)}/tables/$name/tasks",
          Some(mapper.writeValueAsString(body)),
          Map("Idempotency-Key" -> java.util.UUID.randomUUID().toString))
        appendTasks(resp)
      }

      val data = dataFiles.result()
      val dels = deleteFiles.result().distinctBy(_.recordedPath)
      val plan = graft.read.ScanPlan(meta, meta.currentSnapshot, meta.currentSchema,
        data, dels, data.size, dels.size, 0, 0)
      var df = IcebergRead.assemble(spark, plan, conf, readOpts.copy(filterSql = None))
      readOpts.filterSql.foreach(f => df = df.where(org.apache.spark.sql.functions.expr(f)))
      Some(df)
    } catch {
      case e: Throwable =>
        // Best-effort cancel; never mask the planning failure.
        planId.foreach { id =>
          try request("DELETE", s"$planBase/${pathSegment(id)}",
            headers = Map("Idempotency-Key" -> java.util.UUID.randomUUID().toString))
          catch { case _: Exception => () }
        }
        throw e
    }
  }

  /** Append a DataFrame to a catalog table: write data files + manifests to
    * the table location, then REST-commit with retry on conflict
    * (reference iceberg_transaction.cpp:369-489 retry loop). */
  /** [[graft.write.Dml.TableOps]] committing through this catalog: DELETE /
    * UPDATE / MERGE on a REST-named table stage their delete+data files
    * under the table's location, then commit one snapshot via assert-ref +
    * add-snapshot. Single-attempt: a 409 surfaces to the caller, who re-runs
    * the statement against fresh metadata (re-staging a row-level operation
    * means re-computing its matched rows). */
  def tableOps(ns: Seq[String], name: String): graft.write.Dml.TableOps =
    new graft.write.Dml.TableOps {
      def load(conf: org.apache.hadoop.conf.Configuration): TableMetadata =
        loadTable(ns, name).metadata
      def commit(meta: TableMetadata, addedData: Seq[graft.manifest.ManifestEntry],
          addedDeletes: Seq[graft.manifest.ManifestEntry], operation: String,
          conf: org.apache.hadoop.conf.Configuration,
          removedDataPaths: Set[String], removedDvRefs: Set[String],
          preassignedSnapshotId: Option[Long],
          deleteSpec: Option[graft.core.PartitionSpec]): TableMetadata = {
        val (snapshot, _) = IcebergWrite.buildSnapshotFiles(meta, addedData, addedDeletes,
          operation, conf, removedDataPaths = removedDataPaths, removedDvRefs = removedDvRefs,
          preassignedSnapshotId = preassignedSnapshotId, deleteSpec = deleteSpec)
        commitSnapshot(ns, name, meta.currentSnapshotId, snapshot).metadata
      }
    }

  /** CTAS through the catalog. With `stageCreate` the create request is
    * staged server-side (table invisible to loads/lists) and the data
    * commit carries assert-create, so table + first snapshot appear in ONE
    * atomic commit — a concurrent CREATE of the same name loses cleanly at
    * commit time instead of racing between our create and append
    * (reference iceberg_table_set.cpp:281-298, catalog_api.cpp:587-596;
    * test_drop_and_create_table_in_a_transaction.test shape). Without it,
    * create-then-append (two commits). */
  def ctasDF(df: DataFrame, ns: Seq[String], name: String, location: String,
      properties: Map[String, String] = Map.empty,
      stageCreate: Boolean = false): LoadedTable = {
    val schema = IcebergTypes.fromSpark(df.schema)
    if (!stageCreate) {
      createTable(ns, name, schema, location, None, properties)
      appendDF(df, ns, name)
    } else {
      val staged = createTable(ns, name, schema, location, None, properties,
        stageCreate = true)
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val meta = staged.metadata
      val (entries, _) = IcebergWrite.writeDataFiles(df, meta, conf)
      val (snapshot, _) = IcebergWrite.buildSnapshotFiles(meta, entries, Nil, "append", conf)
      commitSnapshot(ns, name, None, snapshot, assertCreate = true,
        preUpdates = initialMetadataUpdates(meta))
    }
  }

  def appendDF(df: DataFrame, ns: Seq[String], name: String): LoadedTable = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= opts.maxCommitRetries) {
      val t = loadTable(ns, name)
      val meta = t.metadata
      val (entries, _) = IcebergWrite.writeDataFiles(df, meta, conf)
      val (snapshot, _) = IcebergWrite.buildSnapshotFiles(meta, entries, Nil, "append", conf)
      try {
        return commitSnapshot(ns, name, meta.currentSnapshotId, snapshot)
      } catch {
        case e: RestCatalogException if e.status == 409 =>
          // conflict: drop any staleness-cached entry, reload, and rewrite
          // manifests against fresh metadata
          lastErr = e; attempt += 1; invalidate(ns, name)
      }
    }
    throw new IllegalStateException(s"Commit failed after ${opts.maxCommitRetries} retries", lastErr)
  }
}

object RestCatalog {
  /** The REST spec's default endpoint set, used when the server's config
    * response has no `endpoints` field. NO HEAD routes — HEAD probes are
    * strictly opt-in by advertisement (reference
    * iceberg_catalog.cpp:266-296 AddDefaultSupportedEndpoints). */
  val defaultEndpoints: Set[String] = Set(
    "GET /v1/{prefix}/namespaces",
    "POST /v1/{prefix}/namespaces",
    "GET /v1/{prefix}/namespaces/{namespace}",
    "DELETE /v1/{prefix}/namespaces/{namespace}",
    "POST /v1/{prefix}/namespaces/{namespace}/properties",
    "GET /v1/{prefix}/namespaces/{namespace}/tables",
    "POST /v1/{prefix}/namespaces/{namespace}/tables",
    "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}",
    "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}",
    "DELETE /v1/{prefix}/namespaces/{namespace}/tables/{table}",
    "POST /v1/{prefix}/namespaces/{namespace}/register",
    "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/metrics",
    "POST /v1/{prefix}/tables/rename",
    "POST /v1/{prefix}/transactions/commit")

  /** Test probe: the Hadoop conf (with vended credentials applied) that the
    * most recent catalog-routed scan actually used — lets tests assert the
    * LoadTableResult `config` reached the executors' FileIO, not just that
    * the mapping function works in isolation. */
  @volatile var lastScanConf: Option[org.apache.hadoop.conf.Configuration] = None
}
