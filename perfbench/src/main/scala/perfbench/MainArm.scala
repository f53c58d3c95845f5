package perfbench

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.corpus.Synthesizer
import graft.index.{Bm25Params, IndexBuilder, IndexUpdater}
import graft.query.{Bm25IndexTables, Bm25Search, SearchSession}
import graft.serving.SearchHttpServer

/** The measured JVM at local[nproc]. Every workload reports the same
  * end-to-end metrics: `setup_s`, `index_bytes_per_input_byte`, and the
  * workload's own throughput (`throughput_per_s`) and latency
  * (`latency_ms`); `peak_rss_mb` is added by the caller. A traced run
  * alternates traced and untraced operations, reports per-layer metrics
  * from the traced ones, and the gap between the two as
  * `trace.overhead_frac`. */
final class MainArm(spark: SparkSession, c: Bench.Conf, trace: Trace, r: Result) {
  import Bench._
  import spark.implicits._

  private val pages = c.work.resolve("pages")
  private val index = c.work.resolve("index")
  /** url → doc_id of every indexed doc that carries a planted term. */
  private var plantedDocs: Map[String, Long] = Map.empty
  private val removed = mutable.Set[Long]()
  /** Durations and counts of the traced builds of this run. */
  private val tracedBuilds = mutable.ArrayBuffer[(Double, Seq[IndexBuilder.BuildReport], Counts)]()

  def run(): Unit = {
    val session = setup()
    log("set-up done")
    c.workload match {
      // updates first: their segment builds finish warming the build path
      case "index_update" => updates(); builds()
      // serving first: closing the session restores the batch-path confs
      case "query_serve" => serve(session.get); batches()
    }
    indexLayer()
    log(s"${c.workload} done")
  }

  /** A traced run times every other operation untraced, the first one
    * untraced, so that warm-up does not count as tracing overhead. */
  private def tracedOp(i: Int): Boolean = c.trace && i % 2 == 1

  private def overhead(traced: Seq[Double], untraced: Seq[Double]): Unit =
    if (c.trace) r.metric("trace.overhead_frac", Stats.median(traced) / Stats.median(untraced) - 1)

  // -- set-up -------------------------------------------------------------------

  /** Synthesize the corpus, build the index and, for `query_serve`, open the
    * serving session, in a fresh JVM: the set-up time includes the JIT and
    * code-generation warm-up the measured operations then run without. */
  private def setup(): Option[SearchSession] = {
    val (session, secs) = time {
      writePages(spark, c.docs, c.seed, pages)
      r.metric("index.build_docs_per_s_4c_cold", c.docs / build(index, traced = c.trace))
      if (c.workload != "query_serve") None
      else {
        val (s, openSecs) = time(trace.span("session", "session.open")(SearchSession.open(spark, index.toString)))
        r.metric("session.open_s", openSecs)
        Some(s)
      }
    }
    r.metric("setup_s", secs)
    // the pages' text column holds exactly these strings
    val textBytes = (0L until c.docs).map(id => Synthesizer.text(id, c.seed).getBytes(UTF_8).length.toLong).sum
    val bytes = IndexBuilder.manifests(index.toString).map(m => m.stage -> m.files.map(_.bytes).sum).toMap
    r.metric("index_bytes_per_input_byte", bytes.values.sum.toDouble / textBytes)
    Seq("docs", "blocks", "termstats").foreach(s => r.metric(s"index.${s}_mb", bytes(s) / 1048576.0))
    plantedDocs = spark.read.parquet(IndexBuilder.stageDir(index.toString, "docs"))
      .filter(substring(col("url"), -12, 12).cast("long") % 7 === 0)
      .select(col("url"), col("doc_id")).as[(String, Long)].collect().toMap
    session
  }

  /** Runs `op(i)` for i = 0, 1, ... at least `min` times, and then again
    * while the previous operation's duration still fits in what is left of
    * `budget` seconds. Returns the number of operations run. */
  private def repeat(budget: Double, min: Int)(op: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    var last = 0.0
    while (i < min || (System.nanoTime() - t0) / 1e9 + last <= budget) {
      val s0 = System.nanoTime()
      op(i)
      last = (System.nanoTime() - s0) / 1e9
      i += 1
    }
    i
  }

  /** One index build of the pages, the way `graft.Main index` runs it;
    * returns its seconds. */
  private def build(dir: java.nio.file.Path, traced: Boolean): Double = {
    trace.recording = traced
    val (reports, secs) = time(trace.span("index", "index.build")(
      IndexBuilder.build(spark, spark.read.parquet(pages.toString), dir.toString)))
    trace.recording = c.trace
    if (traced) {
      val s = trace.spans.filter(_.name == "index.build").last
      tracedBuilds += ((secs, reports, trace.countsOf(trace.subtree(s.id))))
    }
    secs
  }

  /** Per-layer index metrics from the traced builds: the set-up build when
    * the workload builds nothing else, else the builds after it. */
  private def indexLayer(): Unit = if (c.trace) {
    val bs = if (tracedBuilds.size > 1) tracedBuilds.drop(1) else tracedBuilds
    def med(f: ((Double, Seq[IndexBuilder.BuildReport], Counts)) => Double) = Stats.median(bs.map(f).toSeq)
    IndexBuilder.Stages.foreach(st => r.metric(s"index.${st}_s", med(_._2.find(_.stage == st).fold(0.0)(_.seconds))))
    r.metric("index.jobs", med(_._3.jobs))
    r.metric("index.tasks", med(_._3.tasks))
    r.metric("index.task_busy_frac", med { case (s, _, k) => k.taskRunMs / 1000.0 / (s * c.cores) })
    r.metric("index.shuffle_write_mb", med(_._3.shuffleWriteBytes / 1048576.0))
    r.metric("index.spill_mb", med(_._3.spillBytes / 1048576.0))
    r.metric("index.gc_s", med(_._3.gcMs / 1000.0))
  }

  // -- index_update ------------------------------------------------------------------

  /** Rebuilds of the set-up's pages into fresh directories. */
  private def builds(): Unit = {
    val traced = mutable.ArrayBuffer[Double]()
    val untraced = mutable.ArrayBuffer[Double]()
    val n = repeat(c.seconds * BuildShare, if (c.trace) 4 else 2) { i =>
      val dir = c.work.resolve(s"build-$i")
      try (if (tracedOp(i) || !c.trace) traced else untraced) += build(dir, tracedOp(i))
      finally deleteTree(dir)
    }
    r.metric("throughput_per_s", c.docs / Stats.median(traced.toSeq))
    r.info("builds") = n
    overhead(traced.toSeq, untraced.toSeq)
  }

  /** Update cycles, each on a fresh copy of the base index: add segments of
    * new pages and query each one's planted doc on a fresh merged index;
    * remove a batch of ids and query one of them; then run a 40-query batch
    * over base + segments − tombstones. The workload's latency is the time
    * from the start of a mutation until a fresh merged index shows it, the
    * mean of the cycle's add and remove, and the median over cycles. */
  private def updates(): Unit = {
    val segDocs = c.num("seg_docs").toLong
    val segPages = (0 until c.num("segments").toInt).map { s =>
      val dir = c.work.resolve(s"seg-pages-$s")
      writeSegmentPages(spark, c.docs + s * segDocs, segDocs, c.seed, dir)
      dir
    }
    val baseDocs = spark.read.parquet(IndexBuilder.stageDir(index.toString, "docs"))
      .select(col("doc_id")).as[Long].collect().sorted
    val addVisible = mutable.ArrayBuffer[Double]()
    val removeVisible = mutable.ArrayBuffer[Double]()
    val merged = mutable.ArrayBuffer[Double]()
    val parts = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def part[T](name: String)(body: => T): T = {
      val (v, s) = time(trace.span("update", s"update.$name")(body))
      parts.getOrElseUpdate(name, mutable.ArrayBuffer()) += s
      v
    }
    val cycles = repeat(c.seconds * UpdateShare, 1) { cycle =>
      val dir = c.work.resolve(s"update-$cycle")
      removed.clear()
      try {
        copyTree(index, dir)
        segPages.zipWithIndex.foreach { case (sp, s) =>
          val plantId = ((c.docs + s * segDocs + 6) / 7) * 7
          val q = queryRows(spark, Seq(s"plant${plantId / 7}"))
          val start = System.nanoTime()
          val segDir = part("add")(IndexUpdater.add(spark, dir.toString, spark.read.parquet(sp.toString)))
          val idx = part("open_merged")(IndexUpdater.openMerged(spark, dir.toString))
          val got = part("first_query")(rows(Bm25Search.searchPersisted(q, idx, K)))
          addVisible += (System.nanoTime() - start) / 1e9
          val want = spark.read.parquet(IndexBuilder.stageDir(segDir, "docs"))
            .filter(col("url") === Synthesizer.url(plantId)).select(col("doc_id")).as[Long].collect()
          r.check(want.length == 1 && got.headOption.exists(_._2 == want(0)),
            s"update: added planted doc ${Synthesizer.url(plantId)} not ranked first")
        }
        // a seeded sample of base ids, one of them a planted doc whose
        // query is run to see it go
        val rnd = new SplittableRandom(c.seed * 131 + cycle)
        val planted = plantedDocs.toSeq.sortBy(_._2)
        val (victimUrl, victim) = planted(rnd.nextInt(planted.size))
        val ids = (Seq.fill(c.num("remove_ids").toInt - 1)(baseDocs(rnd.nextInt(baseDocs.length))) :+ victim)
          .distinct
        val q = queryRows(spark, Seq(s"plant${victimUrl.takeRight(12).toLong / 7}"))
        val start = System.nanoTime()
        part("remove")(IndexUpdater.remove(spark, dir.toString, ids))
        val idx = part("open_merged")(IndexUpdater.openMerged(spark, dir.toString))
        val got = part("first_query")(rows(Bm25Search.searchPersisted(q, idx, K)))
        removeVisible += (System.nanoTime() - start) / 1e9
        removed ++= ids
        r.check(!got.exists(h => removed.contains(h._2)), s"update: removed doc $victim still returned")
        val texts = batchTexts(100000 + cycle)
        val (res, secs) = time(trace.span("query", "update.merged_batch")(
          rows(Bm25Search.searchPersisted(queryRows(spark, texts), idx, K))))
        merged += secs
        checkBatch(texts, res, Oracle.of(spark, dir.toString), s"merged batch $cycle")
        r.metric("update.segments", IndexUpdater.committedSegmentDirs(dir.toString).size)
        r.metric("update.tombstones", IndexUpdater.tombstones(spark, dir.toString).fold(0L)(_.rows).toDouble)
      } finally deleteTree(dir)
    }
    r.metric("latency_ms", Stats.median(addVisible.zip(removeVisible).map { case (a, b) => (a + b) / 2 }.toSeq) * 1000)
    r.metric("update.add_visible_s", Stats.median(addVisible.toSeq))
    r.metric("update.remove_visible_s", Stats.median(removeVisible.toSeq))
    r.metric("update.merged_batch_qps", BatchQueries / Stats.median(merged.toSeq))
    parts.foreach { case (name, xs) => r.metric(s"update.${name}_s", Stats.median(xs.toSeq)) }
    r.info("update_cycles") = cycles
  }

  // -- query_serve: 40-query batches ------------------------------------------------

  private def batchTexts(b: Int): Seq[String] =
    Synthesizer.queries(spark, BatchQueries, c.docs, c.seed * 1000003L + b)
      .as[(Long, String)].collect().sortBy(_._1).map(_._2).toSeq

  /** Checks a batch's answers: every planted query whose doc is indexed and
    * not removed ranks first the doc that `oracle` ranks first, and returns
    * its planted doc unless `oracle` ranks K docs above it; no removed doc is
    * returned. The planted doc is the oracle's first unless another doc
    * holds the query's other term often enough to outscore it. */
  private def checkBatch(texts: Seq[String], got: Array[Row4], oracle: Oracle, what: String): Unit = {
    val byQid = got.groupBy(_._1)
    texts.zipWithIndex.foreach { case (t, q) =>
      val hits = byQid.getOrElse(q.toLong, Array.empty[Row4]).sortBy(_._3)
      plantedId(t).flatMap(id => plantedDocs.get(Synthesizer.url(id))).filterNot(removed.contains)
        .foreach { planted =>
          val exact = oracle.ranking(t)
          def tied(a: Double, b: Double) = math.abs(a - b) <= Oracle.Tolerance * math.max(a, b)
          val firsts = exact.takeWhile(x => tied(x._2, exact.head._2)).map(_._1).toSet
          r.check(hits.headOption.exists(h => firsts(h._2)),
            s"$what: planted query '$t' ranked ${hits.headOption.map(_._2)} first, exact BM25 ${exact.headOption}")
          val plantedScore = exact.find(_._1 == planted).fold(0.0)(_._2)
          val above = exact.count(x => x._2 > plantedScore && !tied(x._2, plantedScore))
          r.check(above >= K || hits.exists(_._2 == planted),
            s"$what: planted query '$t' did not return its planted doc $planted")
        }
      r.check(!hits.exists(h => removed.contains(h._2)), s"$what: query '$t' returned a removed doc")
    }
  }

  /** One batch through searchPersisted and then searchPersistedWand, both
    * checked; returns their seconds. A traced batch compiles and executes
    * the first path as two calls, so each is timed. */
  private def batchPair(idx: Bm25IndexTables, oracle: Oracle, texts: Seq[String], traced: Boolean,
                        what: String): (Double, Double) = {
    val q = queryRows(spark, texts)
    trace.recording = traced
    val (full, fullSecs) =
      if (!traced) time(rows(Bm25Search.searchPersisted(q, idx, K)))
      else time(trace.span("query", "query.batch") {
        val qterms = trace.span("query", "query.compile")(Bm25Search.compileQueriesLocal(q, idx.termStats))
        trace.span("query", "query.execute")(rows(Bm25Search.searchPersistedCompiled(qterms, idx, K)))
      })
    val (wand, wandSecs) = time(trace.span("query", "query.wand_batch")(
      rows(Bm25Search.searchPersistedWand(q, idx, K))))
    trace.recording = c.trace
    checkBatch(texts, full, oracle, what)
    r.check(full.sorted.sameElements(wand.sorted), s"$what: searchPersistedWand rows differ from searchPersisted")
    (fullSecs, wandSecs)
  }

  /** 40-query batches, each with a fresh query seed, against the persisted
    * index with no session cache. The workload's throughput is
    * searchPersisted queries per second. */
  private def batches(): Unit = {
    val idx = IndexBuilder.open(spark, index.toString)
    val oracle = Oracle.of(spark, index.toString)
    val full = mutable.ArrayBuffer[Double]()
    val wand = mutable.ArrayBuffer[Double]()
    val untraced = mutable.ArrayBuffer[Double]()
    // the first batch after serving runs cold, up to twice as long as the
    // next ones: it is checked but not timed, and its time comes out of the
    // phase's share
    val (_, warmSecs) = time(batchPair(idx, oracle, batchTexts(-1), traced = false, "warm-up batch"))
    val n = repeat(c.seconds * BatchShare - warmSecs, if (c.trace) 8 else 4) { b =>
      val (f, w) = batchPair(idx, oracle, batchTexts(b), tracedOp(b), s"batch $b")
      if (tracedOp(b) || !c.trace) { full += f; wand += w } else untraced += f
    }
    r.metric("throughput_per_s", BatchQueries / Stats.median(full.toSeq))
    r.metric("query.wand_qps", BatchQueries / Stats.median(wand.toSeq))
    r.info("batches") = n
    r.info("batch_ms") = full.map(s => math.round(s * 1000))
    overhead(full.toSeq, untraced.toSeq)
    if (c.trace) queryLayer(idx)
  }

  /** Per-layer query and codec metrics from the traced batches' spans. */
  private def queryLayer(idx: Bm25IndexTables): Unit = {
    val all = trace.spans
    val per = all.filter(_.name == "query.batch").map { s =>
      val kids = all.filter(_.parent == s.id)
      (s, kids.find(_.name == "query.compile").get, kids.find(_.name == "query.execute").get,
        trace.countsOf(trace.subtree(s.id)))
    }
    def med(f: ((Span, Span, Span, Counts)) => Double) = Stats.median(per.map(f))
    val n = BatchQueries.toDouble
    r.metric("query.compile_ms", med(_._2.ms))
    r.metric("query.execute_ms", med(_._3.ms))
    r.metric("query.jobs_per_query", med(_._4.jobs / n))
    r.metric("query.stages_per_query", med(_._4.stages / n))
    r.metric("query.tasks_per_query", med(_._4.tasks / n))
    r.metric("query.driver_self_ms_per_query", med(x => x._4.driverSelfMs(x._1.wallStart, x._1.wallEnd) / n))
    r.metric("query.task_run_ms_per_query", med(_._4.taskRunMs / n))
    r.metric("query.score_stage_ms", med(_._4.scoreStageMs.toDouble))
    r.metric("query.shuffle_mb", med(_._4.shuffleWriteBytes / 1048576.0))
    r.metric("query.spill_mb", med(_._4.spillBytes / 1048576.0))
    r.metric("query.input_mb", med(_._4.inputBytes / 1048576.0))
    r.metric("codec.blocks_scanned", med(_._4.blocksScanned.toDouble))
    r.metric("codec.postings_decoded", med(_._4.postingsDecoded.toDouble))
    r.metric("codec.scan_mb", med(_._4.scanFileBytes / 1048576.0))
    val wandCounts = all.filter(_.name == "query.wand_batch").map(s => trace.countsOf(trace.subtree(s.id)))
    r.metric("codec.wand_blocks_scanned", Stats.median(wandCounts.map(_.blocksScanned.toDouble)))
    r.metric("codec.wand_postings_decoded", Stats.median(wandCounts.map(_.postingsDecoded.toDouble)))
    // the share of queries with a block-sparse term, the property that
    // routes a query to WAND
    val span = Bm25Params().blockSpan
    val blocks = math.max(1L, (idx.docIdSpan + span - 1) / span)
    r.metric("query.wand_routed_frac", Stats.median((0 until 4).map { b =>
      Bm25Search.compileQueriesLocal(queryRows(spark, batchTexts(b)), idx.termStats)
        .groupBy(col("qid")).agg(min(col("df"))).as[(Long, Long)].collect()
        .count(_._2 * 2 < blocks).toDouble / BatchQueries
    }))
  }

  // -- query_serve: HTTP ---------------------------------------------------------------

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val HitRe = "\"pid\":(\\d+),\"rank\":(\\d+),\"score\":([^,}]+)".r

  /** One HTTP request; its hits as (doc_id, rank, score), or None if it
    * failed. */
  private def get(port: Int, text: String): Option[Seq[(Long, Int, Double)]] =
    try {
      val req = HttpRequest.newBuilder(java.net.URI.create(
        s"http://127.0.0.1:$port/api/search?k=$K&query=${URLEncoder.encode(text, UTF_8)}"))
        .timeout(java.time.Duration.ofSeconds(60)).GET().build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode != 200) None
      else Some(HitRe.findAllMatchIn(resp.body).map(m =>
        (m.group(1).toLong, m.group(2).toInt, m.group(3).toDouble)).toSeq)
    } catch { case _: Exception => None }

  /** The request stream: request i is a fresh synthesizer query or, with
    * probability `repeat`, a repeat of an earlier request's text. */
  private def stream(seed: Long, n: Int, repeat: Double): IndexedSeq[String] = {
    val fresh = Synthesizer.queries(spark, n, c.docs, seed).as[(Long, String)].collect().map(_._2)
    val rnd = new SplittableRandom(seed)
    val out = new Array[String](n)
    var next = 0
    for (i <- 0 until n) {
      out(i) =
        if (i > 0 && rnd.nextDouble() < repeat) out(rnd.nextInt(i))
        else { next += 1; fresh(next - 1) }
    }
    out.toIndexedSeq
  }

  /** Serves the set-up's session over HTTP. A closed loop of nproc clients
    * sends a stream that repeats earlier requests with probability
    * `repeat`, so the LRU answers some of them; then one client sends
    * queries it has not sent before, one at a time. The workload's latency
    * is that client's median: the warm single-query latency of a request
    * the LRU cannot answer. */
  private def serve(session: SearchSession): Unit = {
    val server = SearchHttpServer.start(session)
    try {
      val port = server.port
      val answers = new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Int, Double)]]()
      def request(text: String, i: Long, traced: Boolean): Option[Seq[(Long, Int, Double)]] = {
        val hits = trace.span("serving", "serving.request", i, traced)(get(port, text))
        r.check(hits.isDefined, s"serve: request '$text' failed")
        hits.foreach(h => answers.putIfAbsent(text, h))
        hits
      }
      // warm-up on a stream of its own, so the measured streams start cold
      closedLoop(stream(c.seed * 7919 + 1, 20000, c.num("repeat")), 1.0, c.cores,
        (t, _) => get(port, t).isDefined)

      session.resetTiming()
      val req0 = server.requestCount
      val jobs0 = trace.allJobs.get
      val clientSecs = new ConcurrentLinkedQueue[java.lang.Double]()
      val (done, secs) = time(closedLoop(stream(c.seed * 7919 + 2, 100000, c.num("repeat")),
        c.seconds * ServeClosedShare, c.cores, (t, i) => {
          val (h, s) = time(request(t, i, traced = true))
          clientSecs.add(s)
          h.isDefined
        }))
      r.metric("serving.closed_qps", done / secs)
      val served = server.requestCount - req0
      val timing = session.timing
      r.metric("session.compute_ms_mean", timing.meanSec * 1000)
      r.metric("session.lru_hit_ratio", 1.0 - timing.count.toDouble / math.max(1, served))
      r.metric("serving.overhead_ms",
        (clientSecs.asScala.map(_.doubleValue).sum - timing.count * timing.meanSec) * 1000 / math.max(1, served))
      if (c.trace) r.metric("session.jobs_per_request", (trace.allJobs.get - jobs0).toDouble / served)

      // the latency in ms of each request the LRU does not answer: only a
      // computed answer adds to the session's timing count, and this client
      // is the only one sending
      val single = mutable.ArrayBuffer[Double]()
      closedLoop(stream(c.seed * 7919 + 3, 100000, 0.0), c.seconds * ServeSingleShare, 1, (t, i) => {
        val computed = session.timing.count
        val (h, s) = time(request(t, i, traced = true))
        if (h.isDefined && session.timing.count > computed) single += s * 1000
        h.isDefined
      })
      r.metric("latency_ms", Stats.median(single.toSeq))
      r.info("single_client_queries") = single.size
      r.info("single_ms") = single.map(math.round)
      checkServed(answers.asScala.toMap)
    } finally { server.stop(); session.close() }
  }

  /** `clients` threads each send the stream's next request as soon as their
    * previous one returns, until `seconds` have passed; returns the number
    * of requests that succeeded. */
  private def closedLoop(texts: IndexedSeq[String], seconds: Double, clients: Int,
                         send: (String, Long) => Boolean): Long = {
    val ok = new AtomicLong(0)
    val next = new AtomicInteger(0)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val pool = Executors.newFixedThreadPool(clients)
    (0 until clients).foreach(_ => pool.submit(new Runnable {
      def run(): Unit = while (System.nanoTime() < deadline) {
        val i = next.getAndIncrement()
        if (send(texts(i % texts.size), i)) ok.incrementAndGet()
      }
    }))
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    ok.get
  }

  /** HTTP top-k must equal a direct searchPersisted call for the same
    * query and k on the same index. */
  private def checkServed(answers: Map[String, Seq[(Long, Int, Double)]]): Unit = {
    val texts = answers.keys.toSeq.sorted.take(Bm25Search.MaxDriverCompileQueries)
    val direct = rows(Bm25Search.searchPersisted(queryRows(spark, texts),
      IndexUpdater.openMerged(spark, index.toString), K)).groupBy(_._1)
    texts.zipWithIndex.foreach { case (t, q) =>
      val want = direct.getOrElse(q.toLong, Array.empty[Row4]).sortBy(_._3).map(x => (x._2, x._3, x._4)).toSeq
      r.check(answers(t) == want, s"serve: HTTP top-$K for '$t' differs from searchPersisted")
    }
    r.info("serve_checked_queries") = texts.size
  }
}
