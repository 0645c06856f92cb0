package graftbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sinks.{KvClient, KvClientFactory}
import graft.sources.datatables.{DataTablesTransport, PageRequest}

/** Loopback DataTables portal on the JDK HTTP server: the session and
  * CSRF handshake of the real portal, then one DataTables endpoint per
  * load for summaries and one for detail pages. The first attempt of
  * a seed-chosen subset of API requests gets a transient 503, so the
  * client's retry path runs a repeatable number of times.
  */
final class Portal(model: EtlModel, threads: Int) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)
  private val loads = new ConcurrentHashMap[Int, Seq[Version]]()
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  private val sessionNo = new AtomicInteger(0)
  @volatile private var authToken = ""
  val retriesServed = new AtomicLong(0)
  val wireBytes = new AtomicLong(0)

  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def reply(ex: HttpExchange, status: Int, body: String,
    headers: Seq[(String, String)] = Nil): Unit = {
    val bytes = body.getBytes("UTF-8")
    headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) { val o = ex.getResponseBody; o.write(bytes); o.close() }
    ex.close()
  }

  private def tokenPage(token: String) =
    s"""<html><body><form method="post"><input name="__RequestVerificationToken" type="hidden" value="$token" /></form></body></html>"""

  server.createContext("/", (ex: HttpExchange) => {
    val path = ex.getRequestURI.getPath
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    try {
      if (path == "/" && ex.getRequestMethod == "GET")
        reply(ex, 200, tokenPage("anon-token"),
          Seq("Set-Cookie" -> "ASP.NET_SessionId=s1; path=/; HttpOnly",
            "Set-Cookie" -> ".AspNetCore.Antiforgery=af1; path=/"))
      else if (path == "/Identity/Account/Login") {
        if (!body.contains("__RequestVerificationToken=anon-token")) reply(ex, 400, "bad token")
        else {
          val n = sessionNo.incrementAndGet()
          authToken = s"auth-token-$n"
          reply(ex, 302, "", Seq("Location" -> "/Home/Landing",
            "Set-Cookie" -> s".AspNetCore.Identity=id$n; path=/; HttpOnly"))
        }
      }
      else if (path == "/Home/Landing") reply(ex, 200, tokenPage(authToken))
      else if (path.startsWith("/api/")) api(ex, path, body)
      else reply(ex, 404, "not found")
    } catch {
      case t: Throwable => reply(ex, 500, String.valueOf(t))
    }
  })
  server.setExecutor(pool)
  server.start()

  private def api(ex: HttpExchange, path: String, body: String): Unit = {
    val h = ex.getRequestHeaders
    val cookie = Option(h.getFirst("Cookie")).getOrElse("")
    if (!cookie.contains(".AspNetCore.Identity=") ||
      h.getFirst("RequestVerificationToken") != authToken) {
      reply(ex, 403, "session required"); return
    }
    import org.json4s._
    val req = org.json4s.jackson.JsonMethods.parse(body)
    val JInt(start) = req \ "start": @unchecked
    val JInt(length) = req \ "length": @unchecked
    val cols = (req \ "columns").children.map(c => (c \ "name").values.toString)
    // /api/<summary|detail>/<load>
    val Array(_, _, kind, loadStr) = path.split("/"): @unchecked
    val load = loadStr.toInt
    val key = s"$kind/$load/$start/$length"
    val n = attempts.computeIfAbsent(key, _ => new AtomicInteger(0)).incrementAndGet()
    if (n == 1 && math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key, model.seed.toInt), 4) == 0) {
      retriesServed.incrementAndGet()
      reply(ex, 503, "busy, retry"); return
    }
    val rows = loads.computeIfAbsent(load, l => model.loadOf(l))
    val wire = kind match {
      case "summary" => EtlModel.wireCols
      case _ => EtlModel.pageCols
    }
    def cell(v: Version, c: String): String = kind match {
      case "summary" => v.summary(wire.indexOf(c))
      case _ => c match { case "id" => v.id; case "url" => v.url; case "page" => v.page }
    }
    val slice = rows.slice(start.toInt, start.toInt + length.toInt)
    val data = slice.map(v => cols.map(c => cell(v, c)).map(x =>
      if (x == null) "null" else Json.str(x)).mkString("[", ",", "]"))
    val out = s"""{"draw":1,"recordsTotal":${rows.size},"recordsFiltered":${rows.size},"data":${data.mkString("[", ",", "]")}}"""
    wireBytes.addAndGet(out.getBytes("UTF-8").length)
    reply(ex, 200, out, Seq("Content-Type" -> "application/json"))
  }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** Counters of the source layer, kept outside the serializable
  * transport (tasks share the JVM in local mode).
  */
object SourceCounters {
  val probes = new AtomicLong(0)
  val pages = new AtomicLong(0)
  val rows = new AtomicLong(0)
  val fetchNs = new AtomicLong(0)
  @volatile var tracer: Tracer = new Tracer(false)
}

/** Decorator that counts and times every call into the transport it
  * wraps (the retrying HTTP transport).
  */
final case class CountingTransport(inner: DataTablesTransport) extends DataTablesTransport {
  override def count(sc: Option[String], sv: Option[String]): Long = {
    val t0 = System.nanoTime()
    try inner.count(sc, sv)
    finally {
      val t1 = System.nanoTime()
      SourceCounters.probes.incrementAndGet()
      SourceCounters.fetchNs.addAndGet(t1 - t0)
      SourceCounters.tracer.record("datatables.fetch", t0, t1)
    }
  }
  override def fetch(req: PageRequest): Seq[Seq[String]] = {
    val t0 = System.nanoTime()
    val rows = inner.fetch(req)
    val t1 = System.nanoTime()
    SourceCounters.pages.incrementAndGet()
    SourceCounters.rows.addAndGet(rows.size)
    SourceCounters.fetchNs.addAndGet(t1 - t0)
    SourceCounters.tracer.record("datatables.fetch", t0, t1)
    rows
  }
}

/** In-memory KV table behind [[BenchKvClient]]: last PUT of a key wins,
  * like the store the reference writes to. The first attempt of a
  * seed-chosen subset of batches is answered with an unprocessed
  * suffix, so the sink's backoff path runs a repeatable number of
  * times.
  */
object BenchKv {
  val store = new ConcurrentHashMap[String, Map[String, String]]()
  private val seen = new ConcurrentHashMap[String, AtomicInteger]()
  @volatile var seed: Long = 0
  @volatile var load: Int = 0
  val batches = new AtomicLong(0)
  val items = new AtomicLong(0)
  val unprocessed = new AtomicLong(0)
  val putNs = new AtomicLong(0)
  val backoffNs = new AtomicLong(0)
  val keys = ConcurrentHashMap.newKeySet[String]()
  @volatile var tracer: Tracer = new Tracer(false)

  def attempt(batchKey: String): Int =
    seen.computeIfAbsent(batchKey, _ => new AtomicInteger(0)).incrementAndGet()

  def reset(): Unit = { store.clear(); seen.clear(); keys.clear() }
}

final class BenchKvClient extends KvClient {
  private var lastRejectNs = 0L

  override def putBatch(items: Seq[Map[String, String]]): Seq[Map[String, String]] = {
    val t0 = System.nanoTime()
    if (lastRejectNs > 0) { BenchKv.backoffNs.addAndGet(t0 - lastRejectNs); lastRejectNs = 0 }
    val ids = items.map(_("ID"))
    val key = s"${BenchKv.load}:" + ids.mkString(",")
    val n = BenchKv.attempt(key)
    val reject =
      if (n == 1 && items.size > 2 &&
        math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key, BenchKv.seed.toInt), 5) == 0)
        math.max(1, items.size / 3)
      else 0
    val (done, rest) = items.splitAt(items.size - reject)
    done.foreach { it => BenchKv.store.put(it("ID"), it); BenchKv.keys.add(it("ID")) }
    BenchKv.batches.incrementAndGet()
    BenchKv.items.addAndGet(done.size)
    BenchKv.unprocessed.addAndGet(rest.size)
    val t1 = System.nanoTime()
    BenchKv.putNs.addAndGet(t1 - t0)
    BenchKv.tracer.record("kv.put", t0, t1)
    if (rest.nonEmpty) lastRejectNs = t1
    rest
  }
}

object BenchKvFactory extends KvClientFactory {
  override def apply(): KvClient = new BenchKvClient
}
