package graft.sources.rest

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

/** Deterministic in-process REST stub (JDK HttpServer, zero deps) used by
  * specs and the q_rest_* queries. Serves `nRows` rows
  * {id, name: "Item<id>", value: id * 0.5} — the mock-adapter fixture
  * shape from the reference's orchestrator tests
  * (tests/index.test.ts:47-60) — under both pagination protocols, with
  * optional injected failures to exercise retry.
  *
  * GET /rows?limit=N&offset=M         (offset mode)
  * GET /cursor-rows?limit=N&offset=T  (cursor mode; nextOffset token)
  * GET /flaky-rows                    (first `failures` requests → 500)
  * GET /slow-rows?delayMs=D           (each page delayed; timeout tests)
  *
  * Server-side filters (every endpoint): `f_<field>_<op>=<value>` query
  * params — the stand-in for a real adapter's native filtered query
  * (reference adapters/postgresql/src/index.ts:165-170 compiles filters
  * into SQL; hubspot:370-398 into the search POST body). Filters apply
  * BEFORE pagination, like a database would. Ops: eq neq gt gte lt lte
  * contains starts in isnull notnull.
  */
object StubServer {
  @volatile private var server: HttpServer = _
  @volatile private var boundPort: Int = -1
  val requestCount = new AtomicInteger(0)
  val failuresLeft = new AtomicInteger(0)

  // OAuth2 state: the current token generation; any older bearer → 401.
  // tokenAutoExpireEvery > 0 expires the token after every N authorized
  // data requests, forcing the client through refresh-on-401 mid-scan.
  val tokenGen = new AtomicInteger(1)
  val tokenFetches = new AtomicInteger(0)
  @volatile var tokenAutoExpireEvery: Int = 0
  private val authedSinceRotate = new AtomicInteger(0)
  def currentToken: String = s"tok${tokenGen.get()}"
  def expireToken(): Unit = { tokenGen.incrementAndGet(); authedSinceRotate.set(0) }

  // 429 state: next `n` data requests answer 429 with Retry-After header
  val rateLimited429Left = new AtomicInteger(0)
  @volatile var retryAfterSeconds: Int = 1

  def port: Int = synchronized {
    if (server == null) start()
    boundPort
  }

  def url(path: String): String = s"http://127.0.0.1:$port$path"

  private def rowJson(id: Long): String =
    s"""{"id": $id, "name": "Item$id", "value": ${id.toDouble * 0.5}}"""

  /** Count of rows actually serialized into responses — specs assert the
    * pushdown fetched FEWER rows, not just the right final result.
    */
  val rowsServed = new AtomicInteger(0)

  /** Apply one `f_<field>_<op>` filter to a row id (fields are closed
    * formulas over the id). Unknown fields/ops reject the row loudly via
    * IllegalArgumentException → 400, so a bad compiled filter can't
    * silently pass everything.
    */
  private def rowMatches(id: Long, key: String, value: String): Boolean = {
    val dec = java.net.URLDecoder.decode(value, "UTF-8")
    val parts = key.split("_") // f_<field>_<op>; stub fields have no '_'
    require(parts.length == 3, s"bad filter key: $key")
    val (field, op) = (parts(1), parts(2))
    def cmp: Int = field match {
      case "id"    => java.lang.Long.compare(id, dec.toLong)
      case "value" => java.lang.Double.compare(id.toDouble * 0.5, dec.toDouble)
      case "name"  => s"Item$id".compareTo(dec)
      case f       => throw new IllegalArgumentException(s"unknown field $f")
    }
    def str: String = field match {
      case "id" => id.toString; case "value" => (id.toDouble * 0.5).toString
      case "name" => s"Item$id"; case f => throw new IllegalArgumentException(s"unknown field $f")
    }
    op match {
      case "eq"  => cmp == 0
      case "neq" => cmp != 0
      case "gt"  => cmp > 0
      case "gte" => cmp >= 0
      case "lt"  => cmp < 0
      case "lte" => cmp <= 0
      case "contains" => str.contains(dec)
      case "starts"   => str.startsWith(dec)
      case "in"       => dec.split(",").contains(str)
      case "isnull"   => false // stub fields are never null
      case "notnull"  => true
      case o => throw new IllegalArgumentException(s"unknown op $o")
    }
  }

  private def pageJson(ids: Seq[Long], next: Option[Long], cursorMode: Boolean): String = {
    rowsServed.addAndGet(ids.size)
    val rows = ids.map(rowJson).mkString("[", ",", "]")
    val nextPart = next match {
      case Some(tok) if cursorMode => s""","nextOffset": "$tok""""
      case _ => ""
    }
    s"""{"data": $rows$nextPart}"""
  }

  private def handler(nRows: Long, cursorMode: Boolean, flaky: Boolean,
                      slow: Boolean = false, requireAuth: Boolean = false,
                      with429: Boolean = false, pageMode: Boolean = false,
                      linkHeader: Boolean = false): HttpHandler =
    (ex: HttpExchange) => {
      requestCount.incrementAndGet()
      val params = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
        .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
      if (flaky && failuresLeft.getAndDecrement() > 0) {
        ex.sendResponseHeaders(500, -1); ex.close()
      } else if (requireAuth &&
          Option(ex.getRequestHeaders.getFirst("Authorization"))
            .forall(_ != s"Bearer $currentToken")) {
        ex.sendResponseHeaders(401, -1); ex.close() // expired/missing bearer
      } else if (with429 && rateLimited429Left.getAndDecrement() > 0) {
        ex.getResponseHeaders.set("Retry-After", retryAfterSeconds.toString)
        ex.sendResponseHeaders(429, -1); ex.close()
      } else try {
        if (requireAuth && tokenAutoExpireEvery > 0 &&
            authedSinceRotate.incrementAndGet() >= tokenAutoExpireEvery)
          expireToken() // rotate AFTER serving: next request's bearer is stale
        if (slow) Thread.sleep(params.getOrElse("delayMs", "200").toLong)
        val filters = params.filter(_._1.startsWith("f_"))
        // incremental read: If-Modified-Since carries the watermark; stub
        // rows "modify" at time = id, so only ids > watermark come back
        // (reference adapters/xero/src/index.ts:321-324)
        val since = Option(ex.getRequestHeaders.getFirst("If-Modified-Since"))
          .map(_.toLong).getOrElse(Long.MinValue)
        // filter BEFORE paginating, as the adapters' native queries do
        val all = (1L to nRows).filter(_ > since)
          .filter(id => filters.forall { case (k, v) => rowMatches(id, k, v) })
        val limit = params.getOrElse("limit", "100").toInt
        val (ids, next) =
          if (cursorMode) {
            val startTok = params.getOrElse("offset", Long.MinValue.toString).toLong
            val rest = all.dropWhile(_ < startTok)
            (rest.take(limit), rest.drop(limit).headOption)
          } else if (pageMode) {
            // page-number pagination (reference adapters/zoho: per_page +
            // page params); /link-rows additionally advertises the next
            // page in a Link response header (reference adapters/github)
            val page = params.getOrElse("page", "1").toInt
            val off = (page - 1) * limit
            // GitHub's real parameter order — page BEFORE per_page — so a
            // client regex that grabs the last "page=" digits would
            // misparse per_page as the page number
            if (linkHeader && off + limit < all.size)
              ex.getResponseHeaders.set("Link",
                s"""<${url(ex.getRequestURI.getPath)}?page=${page + 1}&per_page=$limit>; rel="next", """ +
                  s"""<${url(ex.getRequestURI.getPath)}?page=${(all.size + limit - 1) / limit}&per_page=$limit>; rel="last"""")
            (all.slice(off, off + limit), None)
          } else {
            val off = params.getOrElse("offset", "0").toInt
            (all.slice(off, off + limit), None)
          }
        val body = pageJson(ids, next, cursorMode).getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      } catch {
        case _: Exception => ex.sendResponseHeaders(400, -1); ex.close()
      }
    }

  def start(nRows: Long = 250): Unit = synchronized {
    if (server != null) return
    // the JDK server writes a page's headers and body separately; without
    // TCP_NODELAY every page waits out the client's delayed ACK (the
    // server reads this property once, when it first starts)
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/rows", handler(nRows, cursorMode = false, flaky = false))
    server.createContext("/cursor-rows", handler(nRows, cursorMode = true, flaky = false))
    server.createContext("/flaky-rows", handler(nRows, cursorMode = false, flaky = true))
    server.createContext("/slow-rows", handler(nRows, cursorMode = false, flaky = false, slow = true))
    server.createContext("/protected-rows",
      handler(nRows, cursorMode = false, flaky = false, requireAuth = true))
    server.createContext("/limited-rows",
      handler(nRows, cursorMode = false, flaky = false, with429 = true))
    server.createContext("/page-rows",
      handler(nRows, cursorMode = false, flaky = false, pageMode = true))
    server.createContext("/link-rows",
      handler(nRows, cursorMode = false, flaky = false, pageMode = true, linkHeader = true))
    // OAuth2 token endpoint: POST/GET → {"access_token": "tokN", ...}
    // (reference adapters/hubspot/src/index.ts:300-335 refresh flow)
    server.createContext("/oauth/token", (ex: HttpExchange) => {
      tokenFetches.incrementAndGet()
      val body =
        s"""{"access_token": "$currentToken", "token_type": "bearer", "expires_in": 3600}"""
          .getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    // daemon executor + daemon-spawned dispatcher so a forgotten stub can
    // never keep the Verify/Bench JVM alive after main returns
    server.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-rest-stub"); t.setDaemon(true); t
    }))
    val starter = new Thread(() => server.start(), "graft-rest-stub-start")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    boundPort = server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null; boundPort = -1 }
  }
}
