package graft.query

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.Synthesizer
import graft.index.{IndexBuilder, IndexUpdater}

/** Warm serving session: cached results identical to cold searches,
  * including over a mutated (segment + tombstone) index. */
class SearchSessionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("session results ≡ cold persisted search; segments/tombstones respected") {
    val dir = Files.createTempDirectory("graft-session").toString
    IndexBuilder.build(spark, Synthesizer.pages(spark, 200, 3), dir, auditExtraction = false)
    IndexUpdater.add(spark, dir,
      Synthesizer.pages(spark, 40, 2, seed = 9L)
        .withColumn("url", regexp_replace(col("url"), "example/", "example/x/")))
    IndexUpdater.remove(spark, dir, Seq(3L, 5L))

    val queries = Synthesizer.queries(spark, 15, 200)
    val session = SearchSession.open(spark, dir)
    try {
      val warm = session.search(queries, 10)
        .select(col("qid"), col("doc_id"), col("rank"), col("score"))
        .as[(Long, Long, Int, Double)].collect().toSet
      val cold = Bm25Search.searchPersisted(queries, IndexUpdater.openMerged(spark, dir), 10)
        .select(col("qid"), col("doc_id"), col("rank"), col("score"))
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(warm == cold)
      assert(warm.forall { case (_, docId, _, _) => docId != 3L && docId != 5L })

      val one = session.searchOne("w1 w2", 5)
      assert(one.count() == 5)

      // serve(): the server.py response contract — passage text attached,
      // probs = softmax over the returned scores, (−score, docId) order,
      // LRU-cached per (query, k)
      val docsText = IndexUpdater.liveDocs(spark, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
      val served = session.serve("w1 w2", 5)
      assert(served.size == 5)
      assert(served == served.sortBy(h => (-h.score, h.docId)))
      assert(math.abs(served.map(_.prob).sum - 1.0) < 1e-9)
      val expProbs = {
        val ws = served.map(h => math.exp(h.score)); ws.map(_ / ws.sum)
      }
      served.zip(expProbs).foreach { case (h, p) => assert(math.abs(h.prob - p) < 1e-12) }
      served.foreach(h => assert(h.text == docsText(h.docId)))
      val n0 = session.cacheSize
      val again = session.serve("w1 w2", 5)
      assert(again == served && session.cacheSize == n0)
      session.serve("w2 w4", 5)
      assert(session.cacheSize == n0 + 1)

      // per-query timing (searcher.py:101-114): accumulates over computed
      // serves only — the cache-hit replay above must NOT have counted —
      // and resets on demand
      val t = session.timing
      assert(t.count == 2, s"2 computed serves expected, got $t")
      assert(t.meanSec > 0.0 && t.stdSec >= 0.0)
      session.serve("w3 w5", 5)
      val t2 = session.timing
      assert(t2.count == 3 && t2.meanSec > 0.0)
      session.resetTiming()
      val t3 = session.timing
      assert(t3 == QueryTiming(0, 0.0, 0.0))
      // accumulation restarts cleanly after a reset
      session.serve("w4 w6", 5)
      assert(session.timing.count == 1)
    } finally session.close()
  }

  test("a warm session resolves a repeated query's terms with zero Spark jobs") {
    // the term cache is why the session compiles through its own lookup:
    // a cold query pays ONE dictionary job for its unseen terms, the same
    // query again pays none — only the batch collect, which it shares
    // with every driver compile, may still schedule work
    val dir = Files.createTempDirectory("graft-session-warm").toString
    IndexBuilder.build(spark, Synthesizer.pages(spark, 120, 3), dir, auditExtraction = false)
    val queries = Synthesizer.queries(spark, 5, 120)
    val sc = spark.sparkContext
    def jobsIn(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val session = SearchSession.open(spark, dir)
    try {
      val collectOnly = jobsIn("warm-collect") { Bm25Search.collectBatch(queries); () }
      val cold = jobsIn("warm-cold") { session.search(queries, 10); () }
      val warm = jobsIn("warm-again") { session.search(queries, 10); () }
      assert(cold == collectOnly + 1, s"cold compile: $cold jobs, batch collect $collectOnly")
      assert(warm == collectOnly, s"warm compile: $warm jobs, batch collect $collectOnly")
    } finally session.close()
  }
}
