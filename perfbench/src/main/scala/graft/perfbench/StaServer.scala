package graft.perfbench

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Loopback SensorThings server over a [[History]].
  *
  *  - `GET /sta/Datastreams?$filter=...` honours `phenomenonTime gt/lt` and
  *    `Datastream/id eq`, and pages with `@iot.nextLink` (`$skip`). Pages of
  *    the windows passed to [[prerender]] are rendered up front, so serving
  *    costs a map lookup; any other filter is rendered on request.
  *  - `POST /batch` accepts FROST `$batch` bodies and records every PATCH op.
  *
  * Requests are attributed to the window set by [[beginWindow]]. Handlers run
  * on at most four threads of an executor that [[close]] shuts down.
  */
final class StaServer(h: History, pageSize: Int = 100) extends AutoCloseable {

  /** Everything the server saw during one window. */
  final class WindowLog {
    val gets = new LongAdder
    val getRetries = new LongAdder
    val bytesOut = new LongAdder
    val rowsServed = new LongAdder
    val posts = new LongAdder
    val postRetries = new LongAdder
    val bytesIn = new LongAdder
    val ops = new LongAdder
    val dupOps = new LongAdder
    val handlerNs = new LongAdder
    val served: java.util.Set[java.lang.Long] = ConcurrentHashMap.newKeySet[java.lang.Long]()
    /** observation id -> last PATCHed wire code */
    val patched = new ConcurrentHashMap[java.lang.Long, Integer]()
    private[StaServer] val seenGets = ConcurrentHashMap.newKeySet[String]()
    private[StaServer] val seenPosts = ConcurrentHashMap.newKeySet[String]()
  }

  private final case class Page(body: Array[Byte], ids: Array[Long])

  private val pool = Executors.newFixedThreadPool(4, (r: Runnable) => {
    val t = new Thread(r, "sta-server")
    t.setDaemon(true)
    t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  val collectionUrl = s"$base/sta/Datastreams"
  val batchUrl = s"$base/batch"

  private val pages = new ConcurrentHashMap[(Int, Long, Long, Int), Page]()
  private val logs = new ConcurrentHashMap[Int, WindowLog]()
  private val currentWindow = new AtomicLong(-1)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def beginWindow(w: Int): WindowLog = {
    val log = new WindowLog
    logs.put(w, log)
    currentWindow.set(w)
    log
  }
  def window(w: Int): WindowLog = logs.get(w)
  /** Forget what the server saw during window `w`. */
  def endWindow(w: Int): Unit = logs.remove(w)
  private def current: WindowLog = logs.get(currentWindow.get.toInt)

  /** Render every page of every stream for the window (fromSec, toSec). */
  def prerender(fromSec: Long, toSec: Long): Unit =
    for (s <- 0 until h.nStreams) {
      val n = h.kRange(fromSec, toSec).size
      for (skip <- 0 until math.max(1, n) by pageSize)
        pages.put((s, fromSec, toSec, skip), render(Some(s), fromSec, toSec, skip))
    }

  /** Forget the pages [[prerender]] rendered for the window (fromSec, toSec). */
  def drop(fromSec: Long, toSec: Long): Unit =
    pages.keySet.removeIf(k => k._2 == fromSec && k._3 == toSec)

  private def render(stream: Option[Int], fromSec: Long, toSec: Long, skip: Int): Page = {
    val ks = h.kRange(fromSec, toSec)
    val streams = stream.toSeq match { case Seq() => 0 until h.nStreams; case one => one }
    // one datastream's samples are paged; a whole-collection request is one page
    val (pageKs, more) =
      if (stream.isDefined) (ks.slice(skip, skip + pageSize), skip + pageSize < ks.size)
      else (ks, false)
    val sb = new java.lang.StringBuilder()
    sb.append("{\"Datastreams\":[")
    streams.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      h.datastreamJson(sb, s, pageKs)
    }
    sb.append(']')
    if (more) {
      val filter = s"phenomenonTime gt ${java.time.Instant.ofEpochSecond(fromSec)} and " +
        s"phenomenonTime lt ${java.time.Instant.ofEpochSecond(toSec)} and " +
        s"Datastream/id eq ${h.streamIds(stream.get)}"
      sb.append(",\"@iot.nextLink\":\"").append(collectionUrl)
        .append("?%24filter=").append(enc(filter))
        .append("&%24skip=").append(skip + pageSize).append('"')
    }
    sb.append('}')
    Page(sb.toString.getBytes(UTF_8),
      for (s <- streams.toArray; k <- pageKs.toArray) yield h.id(s, k))
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  private val GtRe = "phenomenonTime gt (\\S+)".r
  private val LtRe = "phenomenonTime lt (\\S+)".r
  private val DsRe = "Datastream/id eq (\\d+)".r

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&")).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, body.length)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  private def timed(f: HttpExchange => Unit): HttpHandler = (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    try f(ex)
    catch { case e: Exception =>
      respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""".getBytes(UTF_8)) }
    finally {
      ex.close()
      val log = current
      if (log != null) log.handlerNs.add(System.nanoTime() - t0)
    }
  }

  server.createContext("/sta/Datastreams", timed { ex =>
    val p = params(ex)
    val filter = p.getOrElse("$filter", "")
    def sec(re: scala.util.matching.Regex, default: Long) =
      re.findFirstMatchIn(filter).map(m => java.time.Instant.parse(m.group(1)).getEpochSecond)
        .getOrElse(default)
    val from = sec(GtRe, Long.MinValue / 4)
    val to = sec(LtRe, Long.MaxValue / 4)
    val skip = p.get("$skip").map(_.toInt).getOrElse(0)
    val stream = DsRe.findAllMatchIn(filter).map(_.group(1).toLong).toSeq match {
      case Seq(one) => Some(h.streamIds.indexOf(one)).filter(_ >= 0)
      case _ => None
    }
    val page = stream.flatMap(s => Option(pages.get((s, from, to, skip))))
      .getOrElse(render(stream, from, to, skip))
    val log = current
    if (log != null) {
      log.gets.increment()
      if (!log.seenGets.add(s"$filter|$skip")) log.getRetries.increment()
      log.bytesOut.add(page.body.length)
      log.rowsServed.add(page.ids.length)
      page.ids.foreach(i => log.served.add(i))
    }
    respond(ex, 200, page.body)
  })

  server.createContext("/batch", timed { ex =>
    val body = ex.getRequestBody.readAllBytes()
    val reqs = mapper.readTree(body).path("requests")
    val log = current
    val out = new java.lang.StringBuilder("{\"responses\":[")
    var i = 0
    reqs.forEach { r =>
      val url = r.path("url").asText()
      val obsId = url.substring(url.indexOf('(') + 1, url.indexOf(')')).toLong
      val wire = r.path("body").path("resultQuality").asInt()
      if (log != null) {
        log.ops.increment()
        if (log.patched.put(obsId, wire) != null) log.dupOps.increment()
      }
      if (i > 0) out.append(',')
      out.append("{\"id\":\"").append(r.path("id").asText()).append("\",\"status\":200}")
      i += 1
    }
    if (log != null) {
      log.posts.increment()
      log.bytesIn.add(body.length)
      if (!log.seenPosts.add(java.util.Arrays.hashCode(body) + ":" + body.length))
        log.postRetries.increment()
    }
    respond(ex, 200, out.append("]}").toString.getBytes(UTF_8))
  })

  server.start()

  override def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(10, TimeUnit.SECONDS)) pool.shutdownNow()
    pages.clear()
    logs.clear()
  }
}
