package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{abs, col, count, lit, sum}

import graft.corpus.Synthesizer
import graft.index.{Bm25Params, IndexBuilder}
import graft.query.{Bm25IndexTables, Bm25Search}

/** One isolated WAND-regime measurement, run in its OWN JVM by Bench:
  * `WandRegimeRunner <cpus> <nPages> <vocab>` synthesizes the web-vocab
  * corpus, builds the persisted index, measures the full vs block-max
  * pruned path on the mixed rare-term + stopword query, and prints ONE
  * line:
  *
  * `WANDREGIME <rareTerm> <rareDf> <tFull> <tWand> <bFull> <bWand> <pFull> <pWand>`
  *
  * Why this regime (the one block-max WAND exists for, reference
  * index_storage.py:111-194 — ONE genuinely rare term mixed with
  * corpus-saturating stopwords):
  * - The corpus uses a web-scale vocabulary instead of the 5k test
  *   vocabulary: with 5k Zipf terms every term's df exceeds the number of
  *   doc-range blocks (N/8192), so every term has a posting in every
  *   block and BLOCK-granular bounds can prune nothing — measured r3:
  *   blockRatio exactly 1.0. Real web text has a long df tail; 2M terms
  *   reproduce it.
  * - The strong term is chosen from termstats by MEASURED df in
  *   [12, 40]: df must be ≥ k (else no θ seed exists and pruning
  *   lawfully disables) and ≪ the block count (else the term occupies
  *   every block and nothing can be excluded).
  * - Stopwords w0-w2 saturate the corpus (df≈N → idf≈0): the ascending
  *   max-contribution prefix below θ proves them WEAK, so their posting
  *   lists — the overwhelming share of decode volume — are read only
  *   inside the ~df surviving candidate blocks.
  *
  * Forked for the same reason the scale runs are — isolation — plus one
  * more: this is the bench's single largest-memory stage (a multi-GB
  * corpus + 2M-term dictionary build), and running it inside the parent
  * JVM on top of the sweep's cached fixtures stalled the whole bench with
  * GC-starved heartbeats (observed r3: executor exit 56 killed the run
  * and ALL artifacts). In its own right-sized JVM a failure here costs
  * only this arm.
  */
object WandRegimeRunner {

  private final case class Result(rareTerm: String, rareDf: Long,
                                  tFull: Double, tWand: Double,
                                  blocksFull: Long, blocksWand: Long,
                                  postingsFull: Long, postingsWand: Long)

  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val nPages = args(1).toLong
    val vocab = args(2).toInt
    val spark = Bench.session(cpus)
    val pagesDir = Files.createTempDirectory("graft-wandregime-pages").toString
    val dir = Files.createTempDirectory("graft-wandregime-index").toString
    try {
      Synthesizer.pages(spark, nPages, 256, vocab = vocab)
        .write.mode("overwrite").parquet(pagesDir)
      IndexBuilder.build(spark, spark.read.parquet(pagesDir), dir,
        auditExtraction = false)
      val index = IndexBuilder.open(spark, dir)
      val r = measure(spark, index)
      println(f"WANDREGIME ${r.rareTerm} ${r.rareDf} ${r.tFull}%.3f ${r.tWand}%.3f " +
        s"${r.blocksFull} ${r.blocksWand} ${r.postingsFull} ${r.postingsWand}")
      spark.stop()
    } finally {
      Seq(dir, pagesDir).foreach(LocalFiles.deleteRecursively)
    }
  }

  /** Measure full vs pruned on the mixed rare-term + stopwords query over
    * an opened web-vocab index: pick the strong term by MEASURED df
    * (closest to 20 within [12, 40] — ≥ k so θ seeds, ≪ #blocks so it is
    * block-sparse; term-asc tiebreak for determinism), warm both plans,
    * take the min wall over `reps` runs, and count the blocks/postings
    * each path physically decodes. */
  private def measure(spark: SparkSession, index: Bm25IndexTables): Result = {
    import spark.implicits._
    val k = 10
    val reps = 5
    val rare = index.termStats
      .filter(col("df").between(12, 40) && col("term").startsWith("w"))
      .orderBy(abs(col("df") - 20), col("term"))
      .select(col("term"), col("df")).as[(String, Long)].head()
    val mixed = Seq((0L, s"${rare._1} w0 w1 w2")).toDF("qid", "text").cache()
    mixed.count()

    def timed(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warm both paths once (plan compile + page cache), then time the two
    // paths INTERLEAVED full,wand,full,wand,... — timing one path's reps
    // back-to-back let a single VM contention window land entirely on one
    // arm (measured: a protocol run where all 3 wand reps sat in one
    // window reported a 4.5× wall 'loss' that two re-runs put at
    // 1.3–1.5×); interleaving makes any window tax both arms before the
    // per-arm min is taken
    Bm25Search.searchPersisted(mixed, index, k).count()
    Bm25Search.searchPersistedWand(mixed, index, k).count()
    val pairsT = (1 to reps).map { _ =>
      (timed(Bm25Search.searchPersisted(mixed, index, k).count()),
        timed(Bm25Search.searchPersistedWand(mixed, index, k).count()))
    }
    val tFull = pairsT.map(_._1).min
    val tWand = pairsT.map(_._2).min

    // decode-volume evidence: blocks/postings each path physically decodes
    val batch = Bm25Search.localBatch(Bm25Search.compileQueriesLocal(mixed, index.termStats))
    val probed = Bm25Search.probe(batch, index)
    val cand = Bm25Search.wandCandidateBlocks(batch, probed, index, k, Bm25Params())
    val candNos = cand.select(col("block_no")).distinct()
    val (bFull, pFull) = probed.agg(count(lit(1)), sum(col("n"))).as[(Long, Long)].head()
    val (bWand, pWand) = probed.join(candNos, Seq("block_no"), "left_semi")
      .agg(count(lit(1)), sum(col("n"))).as[(Long, Long)].head()
    Result(rare._1, rare._2, tFull, tWand, bFull, bWand, pFull, pWand)
  }
}
