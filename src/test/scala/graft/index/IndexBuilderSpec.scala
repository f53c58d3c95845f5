package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.catalog.TableManifest
import graft.corpus.Synthesizer
import graft.eval.OracleBm25
import graft.query.Bm25Search

/** Persisted index build: staged commit + atomic manifests, checkpoint
  * resume (FIXTURES.md §7; reference analog collection_indexer.py:87-95,
  * 360-363), per-file lineage, scalable dense docId assignment, and
  * search-over-parquet identity with the in-memory oracle. */
class IndexBuilderSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val NDocs = 400L

  private def tmpDir(): String =
    Files.createTempDirectory("graft-index").toString

  private lazy val pages = Synthesizer.pages(spark, NDocs, 6).cache()

  test("docId assignment is dense 0..n-1 in url order, at any partitioning") {
    Seq(2, 7).foreach { parts =>
      val ids = IndexBuilder.assignDocIds(pages, parts)
        .select(col("doc_id"), col("url")).as[(Long, String)].collect().sortBy(_._1)
      assert(ids.map(_._1).toSeq == (0L until NDocs).toSeq, s"parts=$parts not dense")
      assert(ids.map(_._2).toSeq == ids.map(_._2).sorted.toSeq, s"parts=$parts not url-ordered")
    }
  }

  test("fused block-encode aggregate ≡ collect_list + encode expression (row-identical)") {
    // the persisted build runs blocksAgg (primitive-array buffers, varint
    // partial serialization); the lazy in-memory path runs blocks
    // (collect_list + BlockEncodeExpr). Same rows, bit-exact, at a
    // parallelism that forces real partial-merge + shuffle serialization
    val docs = Synthesizer.withDocIds(pages).select(col("doc_id"), col("text"))
      .repartition(7)
    val p = Bm25Params(blockSpan = 16) // many blocks → many groups
    val postings = Bm25Index.postingsWithDl(docs)
    val corpus = Bm25Index.corpusStats(Bm25Index.docStats(docs))
    val avgdl = corpus.select(col("avgdl")).head.getDouble(0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("term_id"), col("block_no"), col("term"), col("n"),
        hex(col("doc_ids_enc")).as("d"), hex(col("tfs_enc")).as("t"),
        hex(col("dls_enc")).as("l"), col("block_max_tfnorm"))
      .as[(Long, Long, String, Int, String, String, String, Double)]
      .collect().sortBy(r => (r._1, r._2, r._3))
    val viaAgg = rows(Bm25Index.blocksAgg(postings, avgdl, p))
    val viaList = rows(Bm25Index.blocks(postings, corpus, p))
    assert(viaAgg.length == viaList.length && viaAgg.sameElements(viaList),
      "fused aggregate diverges from the two-step encode")
  }

  test("a fully-filtered (empty) corpus still builds, opens and searches") {
    // every row lang-filtered out → n_docs=0, avgdl NULL: the blocks
    // stage must not NPE on the driver-side avgdl read (empty indexes
    // are supported — segments can be all-filtered batches)
    val dir = tmpDir()
    IndexBuilder.build(spark, pages.withColumn("lang", lit("xx")), dir,
      auditExtraction = false)
    val index = IndexBuilder.open(spark, dir)
    val queries = Seq((0L, "anything at all")).toDF("qid", "text")
    assert(Bm25Search.searchPersisted(queries, index, 5).count() == 0L)
  }

  test("an AUDITED build of an empty corpus still builds (boundary pass over zero rows)") {
    // audited builds route docIds through planDocIds: zero rows → no
    // range minima, empty boundary list, offsets [0] — pass 2 and the
    // observed audit/collision metrics must all tolerate the empty input
    val dir = tmpDir()
    val reports = IndexBuilder.build(spark, pages.withColumn("lang", lit("xx")), dir)
    assert(reports.map(_.stage) == IndexBuilder.Stages)
    val m = IndexBuilder.manifests(dir).head
    assert(m.config("extract_mismatches") == "0")
    assert(IndexBuilder.open(spark, dir).termStats.count() == 0L)
  }

  test("build commits all four stages with non-empty lineage; extraction audit is clean") {
    val dir = tmpDir()
    val reports = IndexBuilder.build(spark, pages, dir)
    assert(reports.map(_.stage) == IndexBuilder.Stages)
    assert(reports.forall(!_.skipped))
    val manifests = IndexBuilder.manifests(dir)
    assert(manifests.size == IndexBuilder.Stages.size)
    manifests.foreach { m =>
      assert(m.files.nonEmpty, s"stage ${m.stage} has no files")
      assert(m.rows == m.files.map(_.rows).sum, s"stage ${m.stage} row/lineage mismatch")
    }
    val docsM = manifests.find(_.stage == "docs").get
    assert(docsM.config("extract_mismatches") == "0")
    // only en docs indexed
    val enCount = pages.filter(col("lang") === "en").count()
    assert(docsM.rows == enCount)
  }

  test("re-run skips every committed stage (resume) with identical snapshot ids") {
    val dir = tmpDir()
    val first = IndexBuilder.build(spark, pages, dir)
    val again = IndexBuilder.build(spark, pages, dir)
    assert(again.forall(_.skipped), s"expected all skipped, got $again")
    assert(again.map(_.snapshotId) == first.map(_.snapshotId))
  }

  test("partial build resumes from the last committed stage") {
    val dir = tmpDir()
    IndexBuilder.build(spark, pages, dir)
    // simulate a crash after 'corpusstats': drop the two downstream manifests
    Seq("blocks", "termstats").foreach { s =>
      Files.delete(TableManifest.manifestPath(IndexBuilder.stageDir(dir, s)))
    }
    val resumed = IndexBuilder.build(spark, pages, dir)
    val byStage = resumed.map(r => r.stage -> r.skipped).toMap
    assert(byStage("docs") && byStage("corpusstats"))
    assert(!byStage("blocks") && !byStage("termstats"))
  }

  test("resume recomputes corpusstats from the committed docs table when only docs survived") {
    val dir = tmpDir()
    IndexBuilder.build(spark, pages, dir)
    val fresh = spark.read.parquet(IndexBuilder.stageDir(dir, "corpusstats"))
      .as[(Long, Double, Long)].head()
    // crash right after 'docs': the docs write is skipped on resume, so no
    // in-job observation exists and corpusstats must fall back to
    // aggregating the committed table — with identical values
    Seq("corpusstats", "blocks", "termstats").foreach { s =>
      Files.delete(TableManifest.manifestPath(IndexBuilder.stageDir(dir, s)))
    }
    val resumed = IndexBuilder.build(spark, pages, dir)
    val byStage = resumed.map(r => r.stage -> r.skipped).toMap
    assert(byStage("docs") && !byStage("corpusstats"))
    val recomputed = spark.read.parquet(IndexBuilder.stageDir(dir, "corpusstats"))
      .as[(Long, Double, Long)].head()
    assert(recomputed == fresh, "fallback corpusstats differ from observed-path values")
  }

  test("config change invalidates and rebuilds (no stale index reuse)") {
    val dir = tmpDir()
    IndexBuilder.build(spark, pages, dir)
    val rebuilt = IndexBuilder.build(spark, pages, dir, Bm25Params(blockSpan = 128))
    assert(rebuilt.forall(!_.skipped))
  }

  test("search over the persisted index (with term pushdown) ≡ exhaustive oracle") {
    val dir = tmpDir()
    IndexBuilder.build(spark, pages, dir)
    val index = IndexBuilder.open(spark, dir)
    val queries = Synthesizer.queries(spark, 25, NDocs)
    val got = Bm25Search.searchPersisted(queries, index, 10)
      .select(col("qid"), col("doc_id"), col("rank"), col("score"))
      .as[(Long, Long, Int, Double)].collect().toSeq
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(r => (r._2, r._3, r._4)) }

    val docsLocal = spark.read.parquet(IndexBuilder.stageDir(dir, "docs"))
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val queriesLocal = queries.as[(Long, String)].collect().toSeq
    val want = OracleBm25.topK(docsLocal, queriesLocal, 10).filter(_._2.nonEmpty)
    assert(got.keySet == want.keySet)
    want.foreach { case (q, w) => assert(got(q) == w, s"qid=$q") }
  }

  test("persisted blocks scan prunes by term_id (PushedFilters present in plan)") {
    val dir = tmpDir()
    IndexBuilder.build(spark, pages, dir)
    val index = IndexBuilder.open(spark, dir)
    // resolve ids through the dictionary, as searchPersisted does
    val ids = index.termStats.filter(col("term").isin("w1", "w2"))
      .select(col("term_id")).as[Long].collect().toSeq
    val plan = index.blocks.filter(col("term_id").isin(ids: _*))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term_id"), plan)
  }

  test("bucketed layout: identical results, real partition pruning, full lineage") {
    val flatDir = tmpDir(); val bktDir = tmpDir()
    IndexBuilder.build(spark, pages, flatDir)
    IndexBuilder.build(spark, pages, bktDir, Bm25Params(termBuckets = 8))

    // layout on disk: hive bucket=N dirs, manifest lineage covers them all
    val m = TableManifest.read(IndexBuilder.stageDir(bktDir, "blocks"))
    assert(m.files.nonEmpty && m.files.forall(_.path.startsWith("bucket=")),
      s"expected bucket=N partition dirs in lineage, got ${m.files.map(_.path).take(3)}")
    assert(m.rows == m.files.map(_.rows).sum)

    val flat = IndexBuilder.open(spark, flatDir)
    val bkt = IndexBuilder.open(spark, bktDir)
    assert(flat.termBuckets == 0 && bkt.termBuckets == 8)

    // identical rankings on both layouts, both search paths
    val queries = Synthesizer.queries(spark, 25, NDocs)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("doc_id"), col("rank"), col("score"))
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(rows(Bm25Search.searchPersisted(queries, bkt, 10)) ==
      rows(Bm25Search.searchPersisted(queries, flat, 10)))
    assert(rows(Bm25Search.searchPersistedWand(queries, bkt, 10)) ==
      rows(Bm25Search.searchPersistedWand(queries, flat, 10)))

    // the probe's bucket filter is a PARTITION filter (pruned before any
    // footer read), not just a pushed data filter
    val ids = bkt.termStats.filter(col("term").isin("w1", "w2"))
      .select(col("term_id")).as[Long].collect().toSeq
    val scan = bkt.probeBlocks(ids).queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in probe plan"))
    assert(scan.partitionFilters.exists(_.toString.contains("bucket")),
      s"no bucket partition filter: ${scan.partitionFilters}")
    val expected = ids.map(id => (((id % 8) + 8) % 8).toInt).distinct.size
    assert(scan.selectedPartitions.partitionCount == expected,
      s"scanned ${scan.selectedPartitions.partitionCount} partitions, expected $expected of 8")
  }

  test("bucketed build of an empty corpus downgrades to the flat layout and still opens") {
    val dir = tmpDir()
    IndexBuilder.build(spark, pages.withColumn("lang", lit("xx")), dir,
      Bm25Params(termBuckets = 8), auditExtraction = false)
    val index = IndexBuilder.open(spark, dir)
    assert(index.termBuckets == 0)
    val queries = Seq((0L, "anything at all")).toDF("qid", "text")
    assert(Bm25Search.searchPersisted(queries, index, 5).count() == 0L)
  }

  test("build at different parallelism yields identical postings + identical search results") {
    val dirA = tmpDir(); val dirB = tmpDir()
    IndexBuilder.build(spark, pages, dirA, partitions = 3)
    IndexBuilder.build(spark, pages, dirB, partitions = 11)
    // postings never materialize — compare the stored blocks DECODED,
    // which also pins the codec round-trip at both layouts
    def decoded(d: String) = Bm25Index
      .decodeBlocks(spark.read.parquet(IndexBuilder.stageDir(d, "blocks")))
      .as[(Long, Long, Int, Int)].collect().sorted.toSeq
    val pa = decoded(dirA)
    val pb = decoded(dirB)
    assert(pa == pb)
    val queries = Synthesizer.queries(spark, 12, NDocs)
    def run(d: String) = Bm25Search.searchPersisted(queries, IndexBuilder.open(spark, d), 5)
      .select(col("qid"), col("doc_id"), col("rank"), col("score"))
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(run(dirA) == run(dirB))
  }
}
