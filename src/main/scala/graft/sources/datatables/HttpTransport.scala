package graft.sources.datatables

import java.net.{HttpURLConnection, URL}
import java.net.URLEncoder
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Real-wire DataTables transport (S1): one HTTP POST per page,
  * speaking exactly the payload shape the reference client sends
  * (/root/reference/clients/exclusion_requests.py:78-90; base
  * template /root/reference/config.py:23-30):
  *
  * {{{
  * { "draw": 1,
  *   "columns": [ { "data": <idx>, "name": <col>, "searchable": bool,
  *                  "orderable": bool,
  *                  "search": { "value": <str>, "regex": false } }, … ],
  *   "order": [ { "column": <idx>, "dir": "asc"|"desc" } ],
  *   "start": <N>, "length": <N>,
  *   "search": { "value": "", "regex": false } }
  * }}}
  *
  * Faithful details:
  *  - every requested column gets a descriptor with `data` = its
  *    index (the reference builds one per ERC_AVAILABLE_COLUMNS
  *    entry, exclusion_requests.py:79);
  *  - only the searched column carries searchable=true and a
  *    search.value (the reference flips HTSUSCode, :80-82); all
  *    others keep the template's searchable/orderable=false
  *    (config.py:3-12);
  *  - with no pushed order the payload keeps the template default
  *    `order:[{column:0,dir:"desc"}]` (config.py:26); a pushed TopN
  *    maps each sort column to its descriptor index;
  *  - headers: Content-Type: application/json (:85-86) plus the
  *    session headers from [[SessionBootstrap.SessionState]] (Cookie,
  *    RequestVerificationToken, Origin, Referer — the authenticated
  *    endpoints reject requests without them).
  *
  * The response is the DataTables envelope: `data` (array of
  * row-arrays) serves fetch(); `recordsFiltered` serves count() via a
  * single 1-row probe. Serializable — holds only strings — so each
  * task fetches its own page ([[DataTablesPartition]] → one POST).
  */
object HttpTransport {
  val connectTimeoutMs = 15000
  val readTimeoutMs = 60000

  /** The one HttpURLConnection request both portal clients make
    * (page fetches here, bootstrap and login in
    * [[UrlConnectionHttpClient]]): headers set in the given order,
    * the body (if any) sent with a fixed length, and this object's
    * timeouts — HttpURLConnection defaults to INFINITE ones, so a
    * stalled server would wedge the Spark task (or the driver, via
    * the count() probe in planInputPartitions, or the login) forever.
    * Redirects follow the JDK default unless `followRedirects` is
    * false. Returns the connection with the request sent; the caller
    * reads the response.
    */
  private[datatables] def send(method: String, url: String,
    headers: Seq[(String, String)], body: Option[Array[Byte]],
    followRedirects: Boolean = true): HttpURLConnection = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    if (!followRedirects) conn.setInstanceFollowRedirects(false)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    body.foreach { bytes =>
      conn.setDoOutput(true)
      conn.setFixedLengthStreamingMode(bytes.length)
      val out = conn.getOutputStream
      try out.write(bytes) finally out.close()
    }
    conn
  }

  private[datatables] def readText(in: java.io.InputStream): String =
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
}

case class HttpTransport(
  endpoint: String,
  columns: Seq[String],
  sessionHeaders: Map[String, String]) extends DataTablesTransport {

  /** The exact JSON body for one page request. Exposed so the wire
    * spec can assert payload shape independent of any server.
    */
  def payload(req: PageRequest): String = {
    val colIdx = req.columns.zipWithIndex.toMap
    val cols: List[JValue] = req.columns.zipWithIndex.toList.map { case (c, i) =>
      val searched = req.searchColumn.contains(c)
      ("data" -> i) ~ ("name" -> c) ~
        ("searchable" -> searched) ~ ("orderable" -> false) ~
        ("search" ->
          (("value" -> (if (searched) req.searchValue.getOrElse("") else "")) ~
            ("regex" -> false)))
    }
    val order: List[JValue] =
      if (req.order.isEmpty) List(("column" -> 0) ~ ("dir" -> "desc"))
      else req.order.toList.map { case (c, asc) =>
        // the protocol orders by descriptor INDEX — a sort column
        // absent from the descriptors cannot be encoded; failing
        // loudly beats silently sorting by column 0 (the scan builder
        // always includes pushed sort columns in fetchCols)
        val idx = colIdx.getOrElse(c, throw new IllegalArgumentException(
          s"order column '$c' not among request columns ${req.columns}"))
        ("column" -> idx) ~ ("dir" -> (if (asc) "asc" else "desc"))
      }
    val body =
      ("draw" -> 1) ~ ("columns" -> cols) ~ ("order" -> order) ~
        ("start" -> req.start) ~ ("length" -> req.length) ~
        ("search" -> (("value" -> "") ~ ("regex" -> false)))
    JsonMethods.compact(JsonMethods.render(body))
  }

  /** getInputStream throws on an error status (≥ 400) — what
    * [[RetryingTransport]] retries the portal's 503s on.
    */
  private def post(body: String): String =
    HttpTransport.readText(HttpTransport.send("POST", endpoint,
      ("Content-Type" -> "application/json") +: sessionHeaders.toSeq,
      Some(body.getBytes("UTF-8"))).getInputStream)

  override def count(sc: Option[String], sv: Option[String]): Long =
    JsonMethods.parse(post(payload(PageRequest(columns, sc, sv, 0, 1)))) \
      "recordsFiltered" match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case other =>
        throw new IllegalStateException(s"recordsFiltered missing: $other")
    }

  override def fetch(req: PageRequest): Seq[Seq[String]] =
    JsonMethods.parse(post(payload(req))) \ "data" match {
      case JArray(rows) => rows.map {
        case JArray(cells) => cells.map {
          case JString(v) => v
          case JNull => null
          // non-string cells arrive stringified, like the reference's
          // str() coercion at parse time
          case other => JsonMethods.compact(JsonMethods.render(other))
        }
        case other =>
          throw new IllegalStateException(s"row is not an array: $other")
      }
      case other => throw new IllegalStateException(s"data missing: $other")
    }
}

/** [[SessionBootstrap.HttpClient]] over HttpURLConnection, for the
  * CSRF/login handshake ahead of the authenticated endpoints.
  * Redirects are NOT followed — the login response's Location header
  * is the token re-scrape target (SessionBootstrap login step;
  * reference :56-75). Multiple same-name response headers (Set-Cookie)
  * are comma-joined, matching how the reference's HTTP library hands
  * them to _format_cookie_string's ','-split.
  */
object UrlConnectionHttpClient extends SessionBootstrap.HttpClient {

  private def exchange(method: String, url: String,
    form: Option[Map[String, String]],
    headers: Map[String, String]): SessionBootstrap.HttpResponse = {
    val body = form.map(_.map { case (k, v) =>
      URLEncoder.encode(k, "UTF-8") + "=" + URLEncoder.encode(v, "UTF-8")
    }.mkString("&").getBytes("UTF-8"))
    val conn = HttpTransport.send(method, url, headers.toSeq, body,
      followRedirects = false)
    val status = conn.getResponseCode
    // HttpURLConnection stores repeated header values in REVERSE
    // receipt order — undo that so comma-joined Set-Cookie matches
    // the wire order (and therefore requests' behavior)
    val respHeaders = conn.getHeaderFields.asScala.collect {
      case (k, vs) if k != null => k -> vs.asScala.toSeq.reverse.mkString(",")
    }.toMap
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    SessionBootstrap.HttpResponse(status, respHeaders,
      if (stream == null) "" else HttpTransport.readText(stream))
  }

  override def get(url: String,
    headers: Map[String, String]): SessionBootstrap.HttpResponse =
    exchange("GET", url, None, headers)

  override def post(url: String, form: Map[String, String],
    headers: Map[String, String]): SessionBootstrap.HttpResponse =
    exchange("POST", url, Some(form), headers)
}
