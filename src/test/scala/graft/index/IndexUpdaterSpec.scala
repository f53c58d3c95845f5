package graft.index

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.catalog.TableManifest
import graft.corpus.Synthesizer
import graft.query.Bm25Search

/** Incremental updates (reference: colbert/tests/index_updater_test.py —
  * searches at :66,96,117,142,171): add-then-remove is a no-op on results,
  * removal actually changes results, merged view ≡ fresh rebuild over the
  * live corpus (scores compared per URL — docIds legitimately differ), and
  * compaction preserves results. */
class IndexUpdaterSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val NBase = 300L
  private def tmp(): String = Files.createTempDirectory("graft-upd").toString

  private lazy val basePages = Synthesizer.pages(spark, NBase, 5).cache()
  private lazy val extraPages = Synthesizer.pages(spark, 80, 3, seed = 99L)
    .withColumn("url", regexp_replace(col("url"), "example/", "example/extra/")).cache()
  private lazy val queries = Synthesizer.queries(spark, 20, NBase).cache()

  /** (qid, url, score) — docId-free result identity. */
  private def byUrl(res: DataFrame, docs: DataFrame): Set[(Long, String, Double)] =
    res.join(docs.select(col("doc_id"), col("url")), "doc_id")
      .select(col("qid"), col("url"), col("score"))
      .as[(Long, String, Double)].collect().toSet

  private def mergedDocs(dir: String): DataFrame =
    (dir +: IndexUpdater.segmentDirs(dir))
      .map(d => spark.read.parquet(IndexBuilder.stageDir(d, "docs")))
      .reduce(_ unionByName _)

  test("add then remove the added docs restores the original results") {
    val dir = tmp()
    IndexBuilder.build(spark, basePages, dir)
    val before = byUrl(
      Bm25Search.searchFull(queries, IndexBuilder.open(spark, dir), 10),
      spark.read.parquet(IndexBuilder.stageDir(dir, "docs")))

    val segDir = IndexUpdater.add(spark, dir, extraPages)
    val baseMax = spark.read.parquet(IndexBuilder.stageDir(dir, "docs"))
      .agg(max(col("doc_id"))).as[Long].head()
    val addedIds = spark.read.parquet(s"$segDir/docs")
      .select(col("doc_id")).as[Long].collect().toSeq
    assert(addedIds.nonEmpty && addedIds.min == baseMax + 1, "segment ids must extend base ids")

    IndexUpdater.remove(spark, dir, addedIds)
    val after = byUrl(
      Bm25Search.searchFull(queries, IndexUpdater.openMerged(spark, dir), 10),
      mergedDocs(dir))
    assert(after == before)
  }

  test("removing a current top doc changes results; removed doc never appears") {
    val dir = tmp()
    IndexBuilder.build(spark, basePages, dir)
    val index = IndexBuilder.open(spark, dir)
    val top = Bm25Search.searchFull(queries, index, 10)
    val victim = top.filter(col("rank") === 1).select(col("doc_id"))
      .as[Long].head()
    IndexUpdater.remove(spark, dir, Seq(victim))
    val after = Bm25Search.searchFull(queries, IndexUpdater.openMerged(spark, dir), 10)
    assert(after.filter(col("doc_id") === victim).count() == 0)
    assert(byUrl(after, mergedDocs(dir)) !=
      byUrl(top, spark.read.parquet(IndexBuilder.stageDir(dir, "docs"))))
  }

  test("merged view ≡ fresh rebuild over the live corpus (scores per url, full + WAND)") {
    val dir = tmp()
    // small blockSpan so this corpus spans many blocks: the adaptive
    // router then sends sparse-term queries down the WAND path, which is
    // what exercises wandBoundScale's admissibility under avgdl drift
    // (default 8192 makes 380 docs one block → everything routes full)
    val p = Bm25Params(blockSpan = 16)
    IndexBuilder.build(spark, basePages, dir, p)
    val baseMax = spark.read.parquet(IndexBuilder.stageDir(dir, "docs"))
      .agg(max(col("doc_id"))).as[Long].head()
    IndexUpdater.add(spark, dir, extraPages, p)
    // remove a slice of BASE docs (ids ≤ baseMax) so stats genuinely shift
    val removedIds = (0L to baseMax by 13L).toSeq
    IndexUpdater.remove(spark, dir, removedIds)
    val merged = IndexUpdater.openMerged(spark, dir)
    val gotFull = byUrl(Bm25Search.searchFull(queries, merged, 10, p), mergedDocs(dir))
    val gotWand = byUrl(Bm25Search.searchPersistedWand(queries, merged, 10, p), mergedDocs(dir))

    // docIds legitimately differ between a merged view (original ids kept)
    // and a fresh rebuild (renumbered) — so at the rank-k cut, equal-score
    // ties can admit a different member. Compare tie-robustly: drop each
    // qid's boundary-score entries from BOTH sides, but require the
    // boundary score itself to match.
    def tieRobust(s: Set[(Long, String, Double)]): (Set[(Long, String, Double)], Map[Long, Double]) = {
      val byQ = s.groupBy(_._1)
      val boundary = byQ.map { case (q, rs) => q -> rs.map(_._3).min }
      (s.filterNot { case (q, _, sc) => sc == boundary(q) }, boundary)
    }

    val freshDir = tmp()
    val baseDocs = spark.read.parquet(IndexBuilder.stageDir(dir, "docs"))
      .filter(!col("doc_id").isin(removedIds: _*))
      .select(col("url")).as[String].collect().toSet
    val freshPages = basePages.filter(col("url").isin(baseDocs.toSeq: _*))
      .unionByName(extraPages)
    IndexBuilder.build(spark, freshPages, freshDir)
    val fresh = IndexBuilder.open(spark, freshDir)
    val want = byUrl(Bm25Search.searchFull(queries, fresh, 10),
      spark.read.parquet(IndexBuilder.stageDir(freshDir, "docs")))

    val (wantCore, wantBoundary) = tieRobust(want)
    val (fullCore, fullBoundary) = tieRobust(gotFull)
    val (wandCore, wandBoundary) = tieRobust(gotWand)
    assert(fullCore == wantCore, "merged full-search differs from fresh rebuild")
    assert(fullBoundary == wantBoundary, "rank-k boundary scores differ (full)")
    assert(wandCore == wantCore, "merged WAND differs from fresh rebuild")
    assert(wandBoundary == wantBoundary, "rank-k boundary scores differ (WAND)")

    // the incremental df merge (per-segment termstats sums − deletion-sized
    // tombstone decrements) must equal a fresh-rebuild aggregation term by
    // term, df AND idf bit-exact — not just at the observed top-k
    val mergedStats = merged.termStats
      .select(col("term"), col("df"), col("idf"))
      .as[(String, Long, Double)].collect().toSet
    val freshStats = fresh.termStats
      .select(col("term"), col("df"), col("idf"))
      .as[(String, Long, Double)].collect().toSet
    assert(mergedStats == freshStats,
      "incremental merged termstats differ from fresh-rebuild aggregation")
  }

  test("tombstones carry resolved dl; unknown ids are no-ops; param mismatch rejected") {
    val dir = tmp()
    IndexBuilder.build(spark, basePages, dir)
    val docs = spark.read.parquet(IndexBuilder.stageDir(dir, "docs"))
    val wantDl = docs.filter(col("doc_id").isin(4L, 9L))
      .select(col("doc_id"), col("dl")).as[(Long, Int)].collect().toMap

    // 999999 matches no doc — it must drop out instead of polluting stats
    IndexUpdater.remove(spark, dir, Seq(4L, 9L, 999999L))
    val tomb = spark.read.parquet(s"$dir/updates/tombstones")
    assert(tomb.columns.toSet == Set("doc_id", "dl"),
      "tombstone rows must carry the dead doc's dl (resolved at remove time)")
    assert(tomb.select(col("doc_id"), col("dl")).as[(Long, Int)].collect().toMap == wantDl)

    // merged corpus stats derive from the tombstone table alone and must
    // equal a direct aggregation over the live docs
    val merged = IndexUpdater.openMerged(spark, dir)
    val got = merged.corpusStats.select(col("n_docs"), col("sum_dl"))
      .as[(Long, Long)].head()
    val want = docs.filter(!col("doc_id").isin(4L, 9L))
      .agg(count(lit(1)), sum(col("dl"))).as[(Long, Long)].head()
    assert(got == want, "merged (n_docs, sum_dl) differ from live-docs aggregation")

    // a segment built with different params would silently diverge block
    // numbering / term ids / WAND bounds — add() must fail fast
    intercept[IllegalArgumentException] {
      IndexUpdater.add(spark, dir, extraPages, Bm25Params(blockSpan = 16))
    }
  }

  test("an all-filtered (empty) segment must not brick the merged open") {
    val dir = tmp()
    IndexBuilder.build(spark, basePages, dir)
    val want = byUrl(
      Bm25Search.searchFull(queries, IndexBuilder.open(spark, dir), 10),
      spark.read.parquet(IndexBuilder.stageDir(dir, "docs")))
    // every row lang-filtered away → the segment commits corpusstats
    // (0, null, 0); openMerged's avgdl reads must tolerate the null
    IndexUpdater.add(spark, dir, extraPages.withColumn("lang", lit("fr")))
    val got = byUrl(
      Bm25Search.searchFull(queries, IndexUpdater.openMerged(spark, dir), 10),
      mergedDocs(dir))
    assert(got == want, "empty segment changed results (or open crashed)")
  }

  test("a crashed (uncommitted) segment build is invisible to readers") {
    val dir = tmp()
    IndexBuilder.build(spark, basePages, dir)
    val want = byUrl(
      Bm25Search.searchFull(queries, IndexBuilder.open(spark, dir), 10),
      spark.read.parquet(IndexBuilder.stageDir(dir, "docs")))
    // simulate an add() that died mid-build: docs stage committed WITH a
    // doc_id range past the base max (exactly what a crashed streaming
    // batch leaves — its docs stage and ids are durable, a replay will
    // complete the segment in place keeping those ids), the rest absent
    val partialTopId = NBase + 499L
    val partial = s"$dir/updates/seg-0"
    val docsDir = IndexBuilder.stageDir(partial, "docs")
    extraPages.limit(10).select(lit(partialTopId).as("doc_id"), col("url"),
      col("warc_ts"), col("text"), col("lang"), lit(3).as("dl")).write.parquet(docsDir)
    TableManifest.commit(docsDir,
      TableManifest("docs", 0L, 10L, Seq.empty, Map.empty))
    assert(IndexUpdater.committedSegmentDirs(dir).isEmpty)
    val got = byUrl(
      Bm25Search.searchFull(queries, IndexUpdater.openMerged(spark, dir), 10),
      spark.read.parquet(IndexBuilder.stageDir(dir, "docs")))
    assert(got == want, "partial segment leaked into the merged read")
    // a retried add() never collides with the partial dir's seg id, and —
    // the round-3 ADVICE bug — its doc_ids must allocate PAST the partial
    // segment's committed ids, or a later replay completing seg-0 would
    // leave two committed segments sharing an id range
    val seg = IndexUpdater.add(spark, dir, extraPages)
    assert(seg.endsWith("seg-1"))
    val segMinId = spark.read.parquet(IndexBuilder.stageDir(seg, "docs"))
      .agg(min(col("doc_id"))).head.getLong(0)
    assert(segMinId == partialTopId + 1,
      s"add() allocated $segMinId over a partial segment committed up to $partialTopId")
  }

  test("compaction preserves results and clears the need for merge overhead") {
    val dir = tmp()
    IndexBuilder.build(spark, basePages, dir)
    IndexUpdater.add(spark, dir, extraPages)
    IndexUpdater.remove(spark, dir, Seq(1L, 2L, 3L))
    val merged = IndexUpdater.openMerged(spark, dir)
    val want = byUrl(Bm25Search.searchFull(queries, merged, 10), mergedDocs(dir))

    val compactDir = tmp()
    IndexUpdater.compact(spark, dir, compactDir)
    val compacted = IndexBuilder.open(spark, compactDir)
    assert(IndexUpdater.segmentDirs(compactDir).isEmpty)
    val got = byUrl(Bm25Search.searchFull(queries, compacted, 10),
      spark.read.parquet(IndexBuilder.stageDir(compactDir, "docs")))
    assert(got == want)
  }

  test("bucketed base + segment + tombstones: merged keeps bucket pruning and exact results") {
    val p = Bm25Params(blockSpan = 16, termBuckets = 8)
    val dir = tmp()
    IndexBuilder.build(spark, basePages, dir, p)
    IndexUpdater.add(spark, dir, extraPages) // inherits the base's buckets
    IndexUpdater.remove(spark, dir, Seq(2L, 4L, 8L))
    val merged = IndexUpdater.openMerged(spark, dir)
    assert(merged.termBuckets == 8,
      "uniformly bucketed base+segments must keep partition pruning when merged")
    // merged probe ≡ merged full scan (the layout changes I/O, not rows)
    val got = byUrl(Bm25Search.searchPersisted(queries, merged, 10, p), mergedDocs(dir))
    val want = byUrl(Bm25Search.searchFull(queries, merged, 10, p), mergedDocs(dir))
    assert(got == want)

    // a FLAT extra dir breaks uniformity → downgrade to the flat probe,
    // same rows. (Simulated by clearing the segment's bucket config: real
    // mixed layouts only arise from pre-bucketing segments.)
    val segBlocks = IndexBuilder.stageDir(IndexUpdater.segmentDirs(dir).head, "blocks")
    val m = TableManifest.read(segBlocks)
    TableManifest.commit(segBlocks, m.copy(config = m.config + ("term_buckets" -> "0")))
    val downgraded = IndexUpdater.openMerged(spark, dir)
    assert(downgraded.termBuckets == 0)
    assert(byUrl(Bm25Search.searchPersisted(queries, downgraded, 10, p), mergedDocs(dir)) == want)
  }

  test("compaction cadence: compactIfNeeded is a no-op below the segment threshold") {
    val dir = tmp()
    IndexBuilder.build(spark, basePages, dir, Bm25Params(blockSpan = 64))
    IndexUpdater.add(spark, dir, extraPages)
    IndexUpdater.add(spark, dir,
      extraPages.withColumn("url", concat(col("url"), lit("/v2"))))
    assert(IndexUpdater.segmentDirs(dir).size == 2)
    assert(!IndexUpdater.needsCompaction(dir, maxSegments = 2))
    assert(IndexUpdater.needsCompaction(dir, maxSegments = 1))

    val skipTarget = tmp()
    assert(!IndexUpdater.compactIfNeeded(spark, dir, skipTarget, maxSegments = 2))
    assert(!graft.catalog.TableManifest.exists(IndexBuilder.stageDir(skipTarget, "docs")))

    val target = tmp()
    assert(IndexUpdater.compactIfNeeded(spark, dir, target, maxSegments = 1))
    assert(IndexUpdater.segmentDirs(target).isEmpty)
    // default-p compact inherits the source's non-default params
    assert(IndexUpdater.paramsOf(target) == Bm25Params(blockSpan = 64))
  }
}
