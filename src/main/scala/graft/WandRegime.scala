package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{abs, col, count, lit, sum}

import graft.query.{Bm25IndexTables, Bm25Search}

/** Shared WAND-regime measurement methodology, used by both the ad-hoc
  * [[WandProbe]] main and the bench's forked [[WandRegimeRunner]] arm —
  * ONE implementation of the rare-term selection, warm/min timing and
  * decode-volume accounting, so the probe and the bench can never
  * silently diverge (they did live as two verbatim copies once).
  *
  * See WandProbe's scaladoc for the regime rationale (why a web-scale
  * vocabulary, why df ∈ [12, 40], why stopword companions).
  */
object WandRegime {

  final case class Result(rareTerm: String, rareDf: Long,
                          tFull: Double, tWand: Double,
                          blocksFull: Long, blocksWand: Long,
                          postingsFull: Long, postingsWand: Long)

  /** Measure full vs pruned on the mixed rare-term + stopwords query over
    * an opened web-vocab index: pick the strong term by MEASURED df
    * (closest to 20 within [12, 40] — ≥ k so θ seeds, ≪ #blocks so it is
    * block-sparse; term-asc tiebreak for determinism), warm both plans,
    * take the min wall over `reps` runs, and count the blocks/postings
    * each path physically decodes. */
  def measure(spark: SparkSession, index: Bm25IndexTables,
              k: Int = 10, reps: Int = 5): Result = {
    import spark.implicits._
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
    val cand = Bm25Search.wandCandidateBlocks(
      batch, probed, index, k, graft.index.Bm25Params())
    val candNos = cand.select(col("block_no")).distinct()
    val (bFull, pFull) = probed.agg(count(lit(1)), sum(col("n"))).as[(Long, Long)].head()
    val (bWand, pWand) = probed.join(candNos, Seq("block_no"), "left_semi")
      .agg(count(lit(1)), sum(col("n"))).as[(Long, Long)].head()
    Result(rare._1, rare._2, tFull, tWand, bFull, bWand, pFull, pWand)
  }
}
