package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.query.{SearchSession, ServeHit}

/** The HTTP serving frontend (SURVEY §2.1 K6; reference server.py:19-44,
  * a Flask app over one long-lived Searcher): `GET
  * /api/search?query=…&k=…` answers from a warm [[SearchSession]] with
  * the reference's response shape — `{"query": …, "topk": [{"text",
  * "pid", "rank", "score", "prob"}, …]}` — where probs are the softmax
  * of the returned scores and hits are (−score, pid)-ordered
  * (server.py:27-34). `k` defaults to 10 and is capped at 100
  * (server.py:22-23); non-GET methods get 405 (server.py:43-44); the
  * per-(query, k) LRU lives in the session. Built on the JDK's
  * `com.sun.net.httpserver` — zero dependencies, like the reference's
  * single-process Flask dev server.
  *
  * Scale shape: a serving tier runs one such frontend per driver; the
  * heavy state (posting blocks, dictionary) is the session's persisted
  * Spark tables, shared by every request. */
final class SearchHttpServer private (server: HttpServer, session: SearchSession) {

  /** Bound port (useful with `port = 0` — ephemeral). */
  def port: Int = server.getAddress.getPort

  /** Requests answered so far (reference `counter["api"]`, server.py:17,40). */
  def requestCount: Long = counter.get()
  private val counter = new java.util.concurrent.atomic.AtomicLong(0)

  def stop(): Unit = {
    server.stop(0)
    // the server does not shut down an externally supplied executor:
    // without this every start/stop cycle strands `threads` non-daemon
    // pool threads (and a driver returning from main would hang on exit)
    server.getExecutor match {
      case e: java.util.concurrent.ExecutorService => e.shutdown()
      case _ => ()
    }
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod != "GET") respond(ex, 405, "")
      else {
        val params = SearchHttpServer.parseQuery(ex.getRequestURI.getRawQuery)
        params.get("query") match {
          case None => respond(ex, 400, """{"error":"missing query parameter"}""")
          case Some(q) =>
            // strict k contract: absent k defaults to 10; an unparsable
            // or non-positive k is a client error — one 400 per
            // malformed request, never a crashed query job (and never a
            // silent clamp serving rank-1 results for k=0)
            params.get("k") match {
              // forall: an unparsable k (toIntOption None) is as malformed
              // as an explicit k <= 0
              case Some(v) if v.toIntOption.forall(_ <= 0) =>
                respond(ex, 400, """{"error":"k must be a positive integer"}""")
              case kParam =>
                counter.incrementAndGet()
                val k = kParam.flatMap(_.toIntOption).getOrElse(10)
                respond(ex, 200, SearchHttpServer.renderResponse(q, session.serve(q, k)))
            }
        }
      }
    } catch {
      // the exception stays in the server log: its message can carry
      // internal paths and plan details a client must not see
      case e: Throwable =>
        SearchHttpServer.log.error(s"search request failed: ${ex.getRequestURI}", e)
        respond(ex, 500, """{"error":"internal error"}""")
    } finally ex.close()

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    // 405 sends an empty body like the reference's ('', 405)
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }
}

object SearchHttpServer {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[SearchHttpServer])

  /** Start serving `session` on `port` (0 = ephemeral) bound to
    * loopback; a small fixed pool handles concurrent requests (the
    * session's cache locks only around get/put). */
  def start(session: SearchSession, port: Int = 0, threads: Int = 8): SearchHttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val s = new SearchHttpServer(server, session)
    server.createContext("/api/search", (ex: HttpExchange) => s.handle(ex))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(threads))
    server.start()
    s
  }

  private[serving] def parseQuery(raw: String): Map[String, String] =
    Option(raw).toSeq.flatMap(_.split('&')).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) =>
          Some(java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8))
        case Array(k) if k.nonEmpty => Some(java.net.URLDecoder.decode(k, UTF_8) -> "")
        case _ => None
      }
    }.toMap

  private[serving] def jsonString(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private[serving] def renderResponse(query: String, hits: Seq[ServeHit]): String = {
    val topk = hits.map { h =>
      s"""{"text":${jsonString(h.text)},"pid":${h.docId},"rank":${h.rank},""" +
        s""""score":${h.score},"prob":${h.prob}}"""
    }.mkString("[", ",", "]")
    s"""{"query":${jsonString(query)},"topk":$topk}"""
  }
}
