package graft.serving

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{LocalFiles, SparkTestSession}
import graft.corpus.Synthesizer
import graft.index.IndexBuilder
import graft.query.SearchSession

/** HTTP frontend over a warm session: the server.py transport contract
  * (response shape, k default/cap, 405 on non-GET, request counter). */
class SearchHttpServerSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def get(url: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("GET")
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body =
      if (stream == null) ""
      else try new String(stream.readAllBytes(), "UTF-8") finally stream.close()
    (status, body)
  }

  test("GET /api/search serves the reference response contract") {
    val dir = Files.createTempDirectory("graft-http").toString
    IndexBuilder.build(spark, Synthesizer.pages(spark, 120, 3), dir, auditExtraction = false)
    val session = SearchSession.open(spark, dir)
    val server = SearchHttpServer.start(session)
    try {
      val q = "w1 w2"
      val enc = java.net.URLEncoder.encode(q, "UTF-8")
      val (status, body) = get(s"http://127.0.0.1:${server.port}/api/search?query=$enc&k=5")
      assert(status == 200)
      // shape: all five per-hit keys present, query echoed
      assert(body.startsWith("""{"query":"w1 w2","topk":["""))
      Seq("\"text\":", "\"pid\":", "\"rank\":", "\"score\":", "\"prob\":")
        .foreach(k => assert(body.contains(k), k))
      // parity with the session: same pids in the same order
      val served = session.serve(q, 5)
      val pids = """"pid":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      assert(pids == served.map(_.docId))
      assert(pids.size == 5)
      // probs parse back to the session's values
      val probs = """"prob":([0-9.Ee+-]+)""".r.findAllMatchIn(body).map(_.group(1).toDouble).toSeq
      served.map(_.prob).zip(probs).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }

      // k defaults to 10 (server.py:22)
      val (_, defBody) = get(s"http://127.0.0.1:${server.port}/api/search?query=$enc")
      assert(""""pid":""".r.findAllIn(defBody).size == 10)

      // request counter counts answered queries (server.py:17,40)
      assert(server.requestCount == 2)

      // missing query → 400; non-GET → 405 with empty body (server.py:43-44)
      val (badStatus, _) = get(s"http://127.0.0.1:${server.port}/api/search")
      assert(badStatus == 400)
      val conn = new java.net.URL(s"http://127.0.0.1:${server.port}/api/search?query=$enc")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.close()
      assert(conn.getResponseCode == 405)
      // 405 does not increment the api counter
      assert(server.requestCount == 2)

      // JSON escaping survives a querystring with quotes/backslashes
      val weird = java.net.URLEncoder.encode("w1 \"x\\y\"", "UTF-8")
      val (ws, wb) = get(s"http://127.0.0.1:${server.port}/api/search?query=$weird&k=3")
      assert(ws == 200 && wb.contains("""{"query":"w1 \"x\\y\"""""))

      // a non-positive or unparsable k is a client error (400), not a
      // crashed query job and not a silently clamped rank-1 result
      val (ns, nb) = get(s"http://127.0.0.1:${server.port}/api/search?query=$enc&k=-1")
      assert(ns == 400 && nb.contains("positive integer"))
      val (zs, _) = get(s"http://127.0.0.1:${server.port}/api/search?query=$enc&k=0")
      assert(zs == 400)
      val (us, _) = get(s"http://127.0.0.1:${server.port}/api/search?query=$enc&k=ten")
      assert(us == 400)
      // malformed-k 400s do not increment the api counter (three 200s so
      // far: k=5, default, the escaped query)
      assert(server.requestCount == 3)
    } finally {
      server.stop()
      session.close()
    }
  }

  test("an internal failure answers 500 without leaking its message or the index path") {
    val dir = Files.createTempDirectory("graft-http-fail").toString
    IndexBuilder.build(spark, Synthesizer.pages(spark, 60, 2), dir, auditExtraction = false)
    val session = SearchSession.open(spark, dir)
    val server = SearchHttpServer.start(session)
    try {
      // drop the session's cached tables and the files under them: the
      // next uncached query fails inside Spark with the missing path in
      // its message
      session.close()
      LocalFiles.deleteRecursively(dir)
      val (status, body) = get(s"http://127.0.0.1:${server.port}/api/search?query=w7&k=3")
      assert(status == 500)
      assert(body == """{"error":"internal error"}""", body)
      assert(!body.contains(dir) && !body.contains("graft-http-fail"), body)
    } finally server.stop()
  }
}
