package graft.sources.rest

import java.util.{Map => JMap}
import scala.collection.JavaConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Paginated-REST DataSourceV2 — the one custom Catalyst-adjacent
  * component (SURVEY §7.3): it reproduces the reference's serial page
  * loop semantics (getDataSerially, reference src/index.ts:171-308)
  * inside a DSv2 `PartitionReader`, with the engine-side behaviors:
  *
  *  - offset and cursor pagination protocols (src/index.ts:226-231);
  *    stop on total-limit, short page (offset mode) or missing cursor
  *    (src/index.ts:273-282)
  *  - bounded retry with interval (fetchData, src/index.ts:36-90)
  *  - wall-clock timeout that KEEPS partial data (src/index.ts:256-262)
  *  - rate limiting via minimum inter-request interval
  *    (src/index.ts:234-243)
  *  - page-size clamp maxItemsPerPage (src/index.ts:145-161)
  *
  * Pushdown: required-column pruning (the adapters' client-side
  * re-projection, P2), limit pushdown (stops the page loop early), and
  * filter pushdown — the SURVEY §2.2 conjunctive operator set compiled
  * into `f_<field>_<op>=<value>` query params, mirroring how each
  * reference adapter compiles `filters` into its native query
  * (adapters/postgresql/src/index.ts:165-170,
  * adapters/hubspot/src/index.ts:370-398). All filters are also kept
  * engine-side (residual re-apply), so a server that ignores them
  * costs bandwidth, never correctness.
  * A cursor chain is inherently serial, so the scan is ONE
  * InputPartition; at 100 TB this source is an ingest edge — land to
  * parquet once, then everything downstream is partitioned columnar.
  *
  * Wire protocol (JSON): `GET url?limit=N&offset=M` →
  * `{"data": [{...}, ...], "nextOffset": "tok"?}` — nextOffset only in
  * cursor mode.
  *
  * Options: url, schema (DDL, required), pageType=offset|cursor|page|link
  * (page = Zoho-style page-number arithmetic; link = GitHub-style Link
  * rel="next" header chain),
  * itemsPerPage, maxItemsPerPage, totalLimit, maxRetries,
  * retryIntervalMs, requestsPerSecond, timeoutMs,
  * oauthTokenUrl (OAuth2 bearer fetch + refresh-on-401, O8),
  * modifiedAfter (incremental-read watermark → If-Modified-Since),
  * parallelism (offset mode + finite totalLimit: N offset-range
  * partitions paged concurrently — the distributed-ingest scale path).
  */
class RestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType.fromDDL(Option(options.get("schema"))
      .getOrElse(throw new IllegalArgumentException("graft-rest requires a 'schema' DDL option")))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new RestTable(schema, properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = true
}

final class RestTable(schema: StructType, props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"graft-rest:${props.getOrElse("url", "?")}"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RestScanBuilder(schema, props ++ options.asScala)
}

final class RestScanBuilder(fullSchema: StructType, opts: Map[String, String])
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownFilters {

  import org.apache.spark.sql.sources._

  private var prunedSchema: StructType = fullSchema
  private var pushedLimit: Int = -1
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    prunedSchema = requiredSchema

  override def pushLimit(limit: Int): Boolean = { pushedLimit = limit; true }

  /** Compile one Catalyst source filter to a `f_<field>_<op>=<value>`
    * query param — the SURVEY §2.2 operator set, the same compilation
    * every reference adapter does into its native query language
    * (adapters/postgresql/src/index.ts:165-170 → SQL WHERE;
    * adapters/hubspot/src/index.ts:370-398 → search-API propertyName/
    * operator/value triples). None = not expressible remotely.
    */
  private def compile(f: Filter): Option[String] = {
    def enc(v: Any): String =
      java.net.URLEncoder.encode(String.valueOf(v), "UTF-8")
    f match {
      case EqualTo(a, v)            => Some(s"f_${a}_eq=${enc(v)}")
      case Not(EqualTo(a, v))       => Some(s"f_${a}_neq=${enc(v)}")
      case GreaterThan(a, v)        => Some(s"f_${a}_gt=${enc(v)}")
      case GreaterThanOrEqual(a, v) => Some(s"f_${a}_gte=${enc(v)}")
      case LessThan(a, v)           => Some(s"f_${a}_lt=${enc(v)}")
      case LessThanOrEqual(a, v)    => Some(s"f_${a}_lte=${enc(v)}")
      case In(a, vs)                => Some(s"f_${a}_in=${enc(vs.map(String.valueOf).mkString(","))}")
      case IsNull(a)                => Some(s"f_${a}_isnull=1")
      case IsNotNull(a)             => Some(s"f_${a}_notnull=1")
      case StringContains(a, v)     => Some(s"f_${a}_contains=${enc(v)}")
      case StringStartsWith(a, v)   => Some(s"f_${a}_starts=${enc(v)}")
      case _                        => None // OR trees, EndsWith, … stay engine-side
    }
  }

  /** Conjunctive set only (F1): each compilable conjunct becomes a query
    * param. ALL filters are also returned as residual so the engine
    * re-applies them — remote filtering is a bandwidth optimization that
    * must never be a correctness dependency (same belt-and-braces the
    * parquet source uses for row-group pushdown).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => compile(f).isDefined)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new Scan with Batch {
    private val filterQuery = pushed.flatMap(compile).mkString("&")
    override def readSchema(): StructType = prunedSchema
    override def toBatch: Batch = this
    override def description(): String =
      s"graft-rest PushedFilters: [${pushed.mkString(", ")}]"

    /** A cursor chain is inherently serial ⇒ 1 partition. OFFSET
      * pagination is random-access, so with `parallelism = N` and a
      * finite `totalLimit` the offset space [0, totalLimit) splits into
      * N contiguous ranges, one InputPartition each — N executors page
      * their own slice concurrently (each respecting the rate limit, so
      * the aggregate rate is N × requestsPerSecond; divide the budget
      * accordingly). This is the 100× ingest path the reference's
      * serial loop (src/index.ts:171) cannot take.
      */
    override def planInputPartitions(): Array[InputPartition] = {
      val pageType = opts.getOrElse("pagetype", "offset")
      val parallelism = opts.getOrElse("parallelism", "1").toInt
      val totalLimit = opts.get("totallimit").map(_.toLong)
      val effLimit = (totalLimit, pushedLimit) match {
        case (Some(t), l) if l >= 0 => Some(math.min(t, l.toLong))
        case (Some(t), _)           => Some(t)
        case (None, l) if l >= 0    => Some(l.toLong)
        case _                      => None
      }
      if (pageType == "offset" && parallelism > 1 && effLimit.isDefined) {
        val total = effLimit.get
        val per = (total + parallelism - 1) / parallelism
        (0 until parallelism).iterator
          .map(i => (i * per, math.min((i + 1) * per, total)))
          .filter { case (s, e) => e > s }
          .map { case (s, e) =>
            RestPartition(opts, prunedSchema.toDDL, -1, filterQuery,
              startOffset = s, endOffset = e): InputPartition
          }.toArray
      } else
        Array(RestPartition(opts, prunedSchema.toDDL, pushedLimit, filterQuery))
    }

    override def createReaderFactory(): PartitionReaderFactory = RestReaderFactory

    /** STREAMING ingest facet (offset pagination only): the stream
      * offset IS the REST row offset. Each trigger's latestOffset() is
      * discovered by probing the endpoint with one-row pages (doubling +
      * binary search: ~2·log₂N tiny requests, no data transferred), and
      * the batch [start, end) rides the SAME offset-range partition/
      * reader the parallel batch path uses. Under Trigger.AvailableNow
      * this is exactly the reference's "scheduled sync": drain what the
      * API holds now, checkpoint the row offset, stop — restart resumes
      * from the committed offset, never re-pulling landed rows.
      */
    override def toMicroBatchStream(checkpointLocation: String):
        org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      new org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
        import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset}
        require(opts.getOrElse("pagetype", "offset") == "offset",
          "streaming REST ingest requires offset pagination (a cursor chain has no resumable position)")
        private val probeCap = opts.getOrElse("streamproberows", "100000000").toLong
        // one client per stream, not per trigger: RestHttp caches the
        // OAuth bearer, so probes don't re-hit the token endpoint every
        // micro-batch (refresh-on-401 still covers expiry)
        private val probeHttp = RestHttp.fromOpts(opts)
        override def initialOffset(): SOffset = RestStreamOffset(0L)
        override def latestOffset(): SOffset =
          RestStreamOffset(RestProbe.countAvailable(opts("url"), filterQuery, probeCap, probeHttp))
        override def deserializeOffset(json: String): SOffset = RestStreamOffset(json.toLong)
        override def commit(end: SOffset): Unit = ()
        override def stop(): Unit = ()
        override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] = {
          val s = start.asInstanceOf[RestStreamOffset].rows
          val e = end.asInstanceOf[RestStreamOffset].rows
          if (e <= s) Array.empty
          else Array(RestPartition(opts, prunedSchema.toDDL, -1, filterQuery,
            startOffset = s, endOffset = e))
        }
        override def createReaderFactory(): PartitionReaderFactory = RestReaderFactory
      }
  }
}

/** One reader per [[RestPartition]], for the batch scan and the
  * micro-batch stream alike.
  */
private object RestReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rp = p.asInstanceOf[RestPartition]
    val schema = if (rp.schemaDdl.trim.isEmpty) new StructType() // count(): all columns pruned
      else StructType.fromDDL(rp.schemaDdl)
    new RestPartitionReader(rp.opts, schema, rp.limit, rp.filterQuery,
      rp.startOffset, rp.endOffset)
  }
}

/** Stream position = number of REST rows already ingested. */
final case class RestStreamOffset(rows: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = rows.toString
}

/** The shared HTTP request path: OAuth2 bearer fetch + refresh-on-401
  * (once per call, without consuming a retry — reference
  * adapters/hubspot/src/index.ts:300-335), bounded retry with interval
  * (fetchData, src/index.ts:36-90), 429 Retry-After honored over the
  * fixed interval (hubspot:506-510), If-Modified-Since watermark
  * (xero:321-324). Used by BOTH the batch page reader and the streaming
  * probe, so an authenticated or rate-limited endpoint behaves the same
  * at latestOffset() as it does mid-scan.
  */
private[graft] final class RestHttp(oauthTokenUrl: String, maxRetries: Int,
                                    retryIntervalMs: Long, modifiedAfter: String)
    extends Serializable {
  @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private var bearerToken: String = null
  private var lastLinkHdr: String = null

  /** `Link` response header of the last successful [[get]] (null if the
    * server sent none) — the reader's link pageType parses rel="next"
    * out of it, the way the reference's GitHub adapter does.
    */
  def lastLink: String = lastLinkHdr

  private def fetchToken(): String = {
    val conn = new java.net.URL(oauthTokenUrl).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(10000); conn.setReadTimeout(10000)
    if (conn.getResponseCode >= 400)
      throw new java.io.IOException(s"token endpoint HTTP ${conn.getResponseCode}")
    val node = mapper.readTree(new String(conn.getInputStream.readAllBytes(), "UTF-8"))
    val tok = node.get("access_token")
    if (tok == null || tok.isNull)
      throw new java.io.IOException("token endpoint returned no access_token")
    tok.asText()
  }

  /** GET `pageUrl`, returning the response body. `onRequest` fires at
    * the start of every attempt (the reader hangs its rate-limit clock
    * on it).
    */
  def get(pageUrl: String, onRequest: () => Unit = () => ()): String = {
    var attempt = 0
    var refreshedThisCall = false
    var body: String = null
    while (body == null) {
      onRequest()
      var retryAfterMs = -1L
      try {
        if (oauthTokenUrl != null && bearerToken == null) bearerToken = fetchToken()
        val conn = new java.net.URL(pageUrl).openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(10000)
        if (bearerToken != null)
          conn.setRequestProperty("Authorization", s"Bearer $bearerToken")
        if (modifiedAfter != null)
          conn.setRequestProperty("If-Modified-Since", modifiedAfter)
        val code = conn.getResponseCode
        if (code == 401 && oauthTokenUrl != null && !refreshedThisCall) {
          refreshedThisCall = true
          bearerToken = fetchToken() // refresh-on-401, then immediate retry
        } else if (code >= 400) {
          if (code == 429) {
            val ra = conn.getHeaderField("Retry-After")
            if (ra != null) retryAfterMs = ra.trim.toLong * 1000L
          }
          throw new java.io.IOException(s"HTTP $code")
        } else {
          body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
          lastLinkHdr = conn.getHeaderField("Link")
        }
      } catch {
        case e: Exception if attempt < maxRetries =>
          attempt += 1
          Thread.sleep(if (retryAfterMs >= 0) retryAfterMs else retryIntervalMs)
        case e: Exception => throw e
      }
    }
    body
  }
}

private[graft] object RestHttp {
  def fromOpts(opts: Map[String, String]): RestHttp =
    new RestHttp(opts.getOrElse("oauthtokenurl", null),
      opts.getOrElse("maxretries", "0").toInt,
      opts.getOrElse("retryintervalms", "1000").toLong,
      opts.getOrElse("modifiedafter", null))

  /** Bare unauthenticated no-retry client (spec convenience). */
  def anonymous: RestHttp = new RestHttp(null, 0, 1000L, null)
}

/** Row-count discovery for the streaming facet: find the smallest offset
  * with an empty one-row page (= rows available) via doubling + binary
  * search — O(log N) requests, O(1) data. Requests ride the shared
  * [[RestHttp]] path, so auth, retry and Retry-After behave exactly as
  * they do on the batch read of the same source.
  */
private[graft] object RestProbe {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def pageSize(url: String, offset: Long, fq: String, http: RestHttp): Int = {
    val sep = if (fq.isEmpty) "" else s"&$fq"
    val root = mapper.readTree(http.get(s"$url?limit=1&offset=$offset$sep"))
    val d = root.get("data")
    if (d == null) 0 else d.size()
  }

  def countAvailable(url: String, fq: String, cap: Long,
                     http: RestHttp = RestHttp.anonymous): Long = {
    if (pageSize(url, 0L, fq, http) == 0) return 0L
    // invariant: lo has a row (count ≥ lo+1), h is empty (count ≤ h)
    var hi = 1L
    var hiEmpty = false
    while (!hiEmpty && hi < cap) {
      if (pageSize(url, hi, fq, http) == 0) hiEmpty = true else hi *= 2
    }
    if (!hiEmpty) return cap
    var lo = hi / 2
    var h = hi
    while (lo + 1 < h) {
      val mid = lo + (h - lo) / 2
      if (pageSize(url, mid, fq, http) > 0) lo = mid else h = mid
    }
    h
  }
}

final case class RestPartition(opts: Map[String, String], schemaDdl: String, limit: Int,
                               filterQuery: String = "",
                               startOffset: Long = 0L, endOffset: Long = -1L)
    extends InputPartition

/** The page loop, executor-side. With an offset range
  * [startOffset, endOffset) this reader pages exactly its slice (one of
  * N parallel partitions); endOffset = -1 means the classic serial
  * whole-stream loop.
  */
final class RestPartitionReader(opts: Map[String, String], schema: StructType, pushedLimit: Int,
                                filterQuery: String = "",
                                startOffset: Long = 0L, endOffset: Long = -1L)
    extends PartitionReader[InternalRow] {

  private val url = opts("url")
  private val pageType = opts.getOrElse("pagetype", "offset")
  private val maxItemsPerPage = opts.getOrElse("maxitemsperpage", "1000").toInt
  // endpoint clamp negotiation (reference src/index.ts:145-161)
  private val itemsPerPage = math.min(opts.getOrElse("itemsperpage", "100").toInt, maxItemsPerPage)
  private val totalLimit0 = opts.getOrElse("totallimit", "1000000").toLong // DEFAULT_CONFIG, src/index.ts:31-34
  private val totalLimit = if (pushedLimit >= 0) math.min(pushedLimit.toLong, totalLimit0) else totalLimit0
  private val timeoutMs = opts.getOrElse("timeoutms", "30000").toLong // src/index.ts:33
  private val minIntervalMs = opts.get("requestspersecond").map(r => (1000.0 / r.toDouble).toLong).getOrElse(0L)
  // OAuth2 bearer + refresh-on-401, bounded retry, 429 Retry-After and
  // If-Modified-Since all live in the shared RestHttp path (also used by
  // the streaming probe)
  private val http = RestHttp.fromOpts(opts)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val startedAt = System.currentTimeMillis()
  private var lastRequestAt = 0L
  private var offset = startOffset
  private var cursor: String = null
  // link mode: next page number, server-driven via the Link header
  // (reference adapters/github/src/index.ts:195-201)
  private var nextPageNo: Long = 1L
  // [?&] boundary: without it the greedy prefix would claim the LAST
  // "page=" substring in the URL, so "?page=2&per_page=100" would parse
  // per_page's 100 as the next page number
  private val LinkNext = """<[^>]+[?&]page=(\d+)[^>]*>;\s*rel="next"""".r
  private var exhausted = false
  private var emitted = 0L
  private var page: Iterator[com.fasterxml.jackson.databind.JsonNode] = Iterator.empty
  private var current: InternalRow = _

  private def fetchPage(): Unit = {
    // wall-clock budget: keep partial data (src/index.ts:256-262)
    if (System.currentTimeMillis() - startedAt > timeoutMs) { exhausted = true; return }
    // rate limit (src/index.ts:234-243)
    if (minIntervalMs > 0) {
      val wait = lastRequestAt + minIntervalMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
    }
    // cursor mode: the FIRST request carries no offset (the server
    // defines the chain start); offset mode sends the page arithmetic
    // offset-range partitions never request past their slice end
    val pageLimit =
      if (pageType == "offset" && endOffset >= 0)
        math.min(itemsPerPage.toLong, endOffset - offset).toInt
      else itemsPerPage
    if (pageLimit <= 0) { exhausted = true; return }
    val fq = if (filterQuery.isEmpty) "" else s"&$filterQuery"
    val pageUrl = pageType match {
      case "cursor" =>
        if (cursor == null) s"$url?limit=$pageLimit$fq"
        else s"$url?limit=$pageLimit&offset=$cursor$fq"
      case "page" =>
        // page-number pagination, derived arithmetically from the row
        // offset exactly as the reference does (adapters/zoho:393:
        // page = floor(offset/limit) + 1)
        s"$url?limit=$pageLimit&page=${offset / itemsPerPage + 1}$fq"
      case "link" =>
        // server-driven page chain: first page 1, then whatever the
        // previous response's Link rel="next" said
        s"$url?limit=$pageLimit&page=$nextPageNo$fq"
      case _ => s"$url?limit=$pageLimit&offset=$offset$fq"
    }

    val body = http.get(pageUrl, onRequest = () => lastRequestAt = System.currentTimeMillis())

    val root = mapper.readTree(body)
    val data = root.get("data")
    val n = if (data == null) 0 else data.size()
    page = if (n == 0) Iterator.empty else data.elements().asScala
    if (pageType == "cursor") {
      val next = root.get("nextOffset")
      cursor = if (next == null || next.isNull) null else next.asText()
      if (cursor == null) exhausted = true // missing cursor stops (src/index.ts:273-282)
    } else if (pageType == "link") {
      // GitHub-style: absence of a Link rel="next" ends the chain
      // (adapters/github/src/index.ts:195-201)
      LinkNext.findFirstMatchIn(Option(http.lastLink).getOrElse("")) match {
        case Some(m) => nextPageNo = m.group(1).toLong
        case None    => exhausted = true
      }
    } else {
      offset += pageLimit
      if (n < pageLimit) exhausted = true // short page stops
      if (endOffset >= 0 && offset >= endOffset) exhausted = true // slice done
    }
    if (n == 0) exhausted = true
  }

  override def next(): Boolean = {
    if (emitted >= totalLimit) return false // global cap (src/index.ts:284-286)
    while (!page.hasNext && !exhausted) fetchPage()
    if (!page.hasNext) return false
    val node = page.next()
    val values: Array[Any] = schema.fields.map { f =>
      val v = node.get(f.name)
      if (v == null || v.isNull) null
      else f.dataType match {
        case LongType    => v.asLong()
        case IntegerType => v.asInt()
        case DoubleType  => v.asDouble()
        case BooleanType => v.asBoolean()
        case _           => UTF8String.fromString(v.asText())
      }
    }
    current = new GenericInternalRow(values)
    emitted += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
