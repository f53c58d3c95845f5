package graft.train

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.{Bm25Index, Bm25Params}
import graft.query.{Bm25IndexTables, Bm25Search}

/** Training-data assembly — the lexical, Spark-native analog of the
  * reference's training loop plumbing (SURVEY §2 J5/J9/A11/T5). The
  * neural forward/backward itself stays out of scope; everything the
  * trainer does to DATA — triple selection, batch assembly, in-batch
  * negative score matrices, loss reductions, length-sorted batching with
  * its reverse permutation — is reproduced as oracle-checkable
  * DataFrame operators.
  *
  * Scale shape: triples/batches are per-query small (nway ≤ 8 rows per
  * query), so every join against the corpus keeps the triple side
  * broadcast; the only corpus-scale scans are the doc-text join
  * (one pass, broadcast probe) and the length stats (one projection).
  */
object Training {

  /** Broadcast the in-batch score matrix only while qids × docs stays
    * under this many cells (~24 B/row → ≲ 24 MB serialized); bigger
    * matrices take the planner's shuffle join. */
  private val ScoredBroadcastMaxCells = 1L << 20

  /** Batch-by-length + reverse permutation (SURVEY §2.3 T5; reference
    * `_sort_by_length` + `_split_into_batches`,
    * colbert/modeling/tokenization/utils.py:70-85, undone via
    * `reverse_indices` at colbert/modeling/checkpoint.py:156-175): within
    * each encoder call-batch ("chunk") of `chunkSize` consecutive docs,
    * docs are ordered by (token length asc, doc_id asc) — torch's stable
    * sort — then split into `bsize` batches; `restore_pos` is the
    * original position within the chunk, i.e. the reverse permutation
    * that un-sorts the encoded output.
    *
    * Windows partition by chunk (bounded `chunkSize` rows each), so the
    * sort parallelizes across chunks — no global sort at any scale. */
  def lengthBatches(docs: DataFrame, chunkSize: Int = 256, bsize: Int = 32): DataFrame = {
    require(chunkSize % bsize == 0, s"chunkSize $chunkSize must be a multiple of bsize $bsize")
    val perChunk = chunkSize / bsize
    val wSort = Window.partitionBy(col("chunk_id")).orderBy(col("dl").asc, col("doc_id").asc)
    val wOrig = Window.partitionBy(col("chunk_id")).orderBy(col("doc_id").asc)
    Bm25Index.docStats(docs)
      .withColumn("chunk_id", floor(col("doc_id") / chunkSize).cast("bigint"))
      .withColumn("sorted_pos", row_number().over(wSort) - 1)
      .withColumn("restore_pos", row_number().over(wOrig) - 1)
      .select(
        col("doc_id"),
        col("dl"),
        (col("chunk_id") * perChunk + floor(col("sorted_pos") / bsize)).cast("bigint")
          .as("batch_id"),
        (col("sorted_pos") % bsize).cast("int").as("pos_in_batch"),
        col("restore_pos").cast("int").as("restore_pos"))
  }

  /** Derive training triples from a ranking + qrels (the data the
    * reference's triples file carries, consumed at
    * colbert/training/lazy_batcher.py:57-79): per query, way 0 = the
    * best-ranked RELEVANT doc, ways 1..nway-1 = the top-ranked
    * non-relevant docs in rank order; each triple row keeps the ranking's
    * score as the distillation target (the reference's per-pid
    * `scores`, lazy_batcher.py:70-72). Queries with no relevant doc in
    * the ranking produce no triples (no positive → no training example).
    *
    * Input `ranking`: (qid, doc_id, rank, score); `qrels`: (qid, doc_id).
    * Windows partition by qid — ranking depth is k rows per query. */
  def triplesFromRanking(ranking: DataFrame, qrels: DataFrame, nway: Int): DataFrame = {
    val rel = qrels.select(col("qid"), col("doc_id"))
    val byRank = Window.partitionBy(col("qid")).orderBy(col("rank").asc)
    val pos = ranking.join(rel, Seq("qid", "doc_id"), "left_semi")
      .withColumn("pr", row_number().over(byRank))
      .filter(col("pr") === 1)
      .select(col("qid"), lit(0).as("way"), col("doc_id"), col("score"))
    val negs = ranking.join(rel, Seq("qid", "doc_id"), "left_anti")
      .withColumn("nr", row_number().over(byRank))
      .filter(col("nr") <= nway - 1)
      .select(col("qid"), col("nr").as("way"), col("doc_id"), col("score"))
      .join(pos.select(col("qid")), Seq("qid"), "left_semi")
    pos.unionByName(negs)
  }

  /** Training batch assembly (SURVEY §2.4 J5; reference triples ⋈
    * queries ⋈ collection, lazy_batcher.py:57-79: `self.queries[qid]`,
    * `self.collection[pid]`): each triple row joined to its query text
    * and passage text. Text is carried as md5 so the batch stays
    * hash-comparable; the join itself is the operator.
    *
    * The corpus-side join probes `docs` with the BROADCAST triple set —
    * one corpus pass regardless of batch count. */
  def assembleBatch(triples: DataFrame, queries: DataFrame, docs: DataFrame): DataFrame = {
    val withQuery = triples
      .join(broadcast(queries.select(col("qid"), md5(col("text")).as("query_md5"))), "qid")
    // md5 ABOVE the join: hashing in the corpus-side projection would
    // digest every doc per batch (Catalyst never defers a projection
    // past a join); here only the matched batch docs are hashed
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(withQuery), "doc_id")
      .select(col("qid"), col("way"), col("doc_id"), col("query_md5"),
        md5(col("text")).as("text_md5"))
  }

  /** In-batch-negative score matrix (SURVEY §2.4 J9; reference
    * `compute_ib_loss`'s Q×D cross scoring,
    * colbert/modeling/colbert.py:71-87): every batch query scored against
    * every DISTINCT batch passage, minus each query's own negatives (the
    * reference's `all_except_self_negatives` keeps the own positive and
    * all other queries' passages); pairs sharing no term score 0. `label`
    * = 1 on the query's own positive — the CE target position.
    *
    * Decode is restricted to the batch's docs (broadcast semi-join), so
    * the matrix costs one bounded posting probe, not a corpus scan; the
    * batch queries are bounded by construction (bsize·nway rows), so
    * they compile on the driver. */
  def inBatchScores(queries: DataFrame, triples: DataFrame, index: Bm25IndexTables,
                    p: Bm25Params = Bm25Params()): DataFrame = {
    val batchDocs = triples.select(col("doc_id")).distinct()
    val qids = triples.select(col("qid")).distinct()
    val scored = Bm25Search.scores(Bm25Search.hitsFor(
      queries.join(qids, Seq("qid"), "left_semi"), broadcast(batchDocs), index, p))
    val ownNegs = triples.filter(col("way") > 0).select(col("qid"), col("doc_id"))
    val ownPos = triples.filter(col("way") === 0)
      .select(col("qid"), col("doc_id"), lit(1).as("label"))
    // batchDocs/ownNegs/ownPos are batch-LINEAR (bsize·nway rows) — always
    // broadcast them (the aggregate outputs carry no size stats, so the
    // planner alone would pick SMJ for k-row frames). `scored` is batch-
    // QUADRATIC (one row per qid × batch doc, O(bsize²·nway)); an
    // unconditional hint would force a multi-GB broadcast on a large
    // training batch where the planner should fall back to a shuffle join,
    // so gate it on the matrix bound. ONE aggregation job computes both
    // cardinalities (ADVICE r4: the previous two separate count() jobs
    // each re-executed the triples pipeline per training batch).
    val gateBounds = triples
      .agg(countDistinct(col("qid")).as("nq"), countDistinct(col("doc_id")).as("nd"))
      .head()
    val scoredMatrixBound = gateBounds.getLong(0) * gateBounds.getLong(1)
    val scoredSide =
      if (scoredMatrixBound <= ScoredBroadcastMaxCells) broadcast(scored) else scored
    qids.crossJoin(broadcast(batchDocs))
      .join(broadcast(ownNegs), Seq("qid", "doc_id"), "left_anti")
      .join(scoredSide, Seq("qid", "doc_id"), "left")
      .join(broadcast(ownPos), Seq("qid", "doc_id"), "left")
      .select(col("qid"), col("doc_id"),
        coalesce(col("score"), lit(0.0)).as("score"),
        coalesce(col("label"), lit(0)).as("label"))
  }

  /** Flipr-style student scores (sum of each doc's top-`topTerms` term
    * partials, colbert.py:172-185) for exactly the given (query, doc)
    * pairs — the distillation student in [[losses]]; [[Bm25Search.searchFlipr]]
    * is the same reduce ([[Bm25Search.fliprScores]]) followed by top-k. */
  def fliprScoresFor(queries: DataFrame, docIds: DataFrame, index: Bm25IndexTables,
                     topTerms: Int = 2, p: Bm25Params = Bm25Params()): DataFrame =
    Bm25Search.fliprScores(
        Bm25Search.hitsFor(queries, broadcast(docIds.select(col("doc_id"))), index, p), topTerms)
      .withColumnRenamed("score", "student_score")

  /** Loss reductions (SURVEY §2.5 A11; reference training.py:159-196):
    * per query,
    *  - `ce_nway`: cross-entropy over the nway (pos, negs...) student
    *    scores with the positive as the label (training.py:168's
    *    `nn.CrossEntropyLoss()(scores.view(-1, nway), labels)`);
    *  - `kl_distill`: KL(teacher ‖ student) between the softmaxed
    *    teacher scores (the ranking's full-BM25 scores — the analog of
    *    the triples file's target_scores) and the student distribution
    *    (training.py:160-166's log_softmax + KLDivLoss); the batchmean
    *    reduction is the mean of this column;
    *  - `ib_ce`: cross-entropy over the in-batch candidate row from
    *    [[inBatchScores]] with the own positive as the label
    *    (compute_ib_loss, colbert.py:71-87).
    *
    * All softmaxes are max-shifted; score inputs are pre-SNAPPED to the
    * 4-decimal grid with [[ExactMath.snap4Sql]] — floor-based, itself
    * engine-exact, unlike `round(double, 4)` whose half-up path differs
    * across engines — so both engines of the correctness gate start from
    * IDENTICAL doubles; folds run in canonical order (way asc / doc_id
    * asc) so the sums are layout-stable. Every TRANSCENDENTAL is
    * evaluated through [[ExactMath]] — fixed-order Horner polynomials
    * built from IEEE-exact +,−,×,÷ only, identical SQL text on both
    * engines of the gate — because libm `exp`/`ln` differ across engines
    * in the last ulp and no output grid can absorb that (`round(double,
    * n)` is itself engine-dependent at half-way points; see ExactMath's
    * scaladoc for the two rounds of failure evidence). With the
    * polynomial path, the loss doubles are bit-identical by construction
    * on any IEEE-754-conforming engine.
    *
    * `nway`: (qid, way, teacher, student); `ib`: [[inBatchScores]] rows. */
  def losses(nway: DataFrame, ib: DataFrame): DataFrame = {
    import ExactMath._
    // ONE tagged union + ONE groupBy(qid) replaces the previous per-side
    // groupBys + join: per-qid inputs are (nway + batch)-bounded, so the
    // loss reduction is naturally a single shuffle — the three-stage plan
    // paid two extra tiny-data exchanges per run. Rounding and fold order
    // are unchanged (sort keys and sums identical), so results are
    // bit-identical to the two-sided plan.
    val nRows = nway.select(col("qid"),
      struct(col("way").cast("int").as("way"),
        expr(snap4Sql("student")).as("s"), expr(snap4Sql("teacher")).as("t")).as("nx"),
      lit(null).cast("struct<doc_id:bigint,s:double>").as("ix"),
      lit(null).cast("double").as("pos_s"))
    val iRows = ib.select(col("qid"),
      lit(null).cast("struct<way:int,s:double,t:double>").as("nx"),
      struct(col("doc_id").cast("bigint").as("doc_id"),
        expr(snap4Sql("score")).as("s")).as("ix"),
      when(col("label") === 1, expr(snap4Sql("score"))).as("pos_s"))
    nRows.unionByName(iRows)
      // the previous plan's inner join on qid dropped null-qid rows (SQL
      // null keys never match); groupBy would instead collect them into
      // one spurious group — keep the old semantics
      .filter(col("qid").isNotNull)
      .groupBy(col("qid"))
      // collect_list skips the other side's null rows, so xs holds exactly
      // the nway structs and ys exactly the in-batch structs
      .agg(sort_array(collect_list(col("nx"))).as("xs"),
        sort_array(collect_list(col("ix"))).as("ys"),
        max(col("pos_s")).as("si_pos"))
      // inner-join semantics of the previous two-sided plan: a qid present
      // on only one side emits no row
      .filter(size(col("xs")) > 0 && size(col("ys")) > 0)
      .select(col("qid"), col("si_pos"),
        expr("xs[0].s").as("s_pos"),
        expr("transform(xs, x -> x.s)").as("ss"),
        expr("transform(xs, x -> x.t)").as("ts"),
        expr("transform(ys, y -> y.s)").as("iss"))
      .withColumn("m_s", expr("array_max(ss)"))
      .withColumn("m_t", expr("array_max(ts)"))
      .withColumn("m_i", expr("array_max(iss)"))
      // exact-exp chain (ExactMath): clamp+scale → Horner core → 3 (p²)²
      // stages. Chained transforms, not one inlined expression: inlining
      // the composition would duplicate the polynomial 64× per element.
      .withColumn("ess", expr(s"transform(ss, x -> ${expReduceSql("x - m_s")})"))
      .withColumn("ets", expr(s"transform(ts, x -> ${expReduceSql("x - m_t")})"))
      .withColumn("eis", expr(s"transform(iss, x -> ${expReduceSql("x - m_i")})"))
      .withColumn("ess", expr(s"transform(ess, h -> ${expCoreSql("h")})"))
      .withColumn("ets", expr(s"transform(ets, h -> ${expCoreSql("h")})"))
      .withColumn("eis", expr(s"transform(eis, h -> ${expCoreSql("h")})"))
      .withColumn("ess", expr(s"transform(ess, p -> ${pow4Sql("p")})"))
      .withColumn("ets", expr(s"transform(ets, p -> ${pow4Sql("p")})"))
      .withColumn("eis", expr(s"transform(eis, p -> ${pow4Sql("p")})"))
      .withColumn("ess", expr(s"transform(ess, p -> ${pow4Sql("p")})"))
      .withColumn("ets", expr(s"transform(ets, p -> ${pow4Sql("p")})"))
      .withColumn("eis", expr(s"transform(eis, p -> ${pow4Sql("p")})"))
      .withColumn("ess", expr(s"transform(ess, p -> ${pow4Sql("p")})"))
      .withColumn("ets", expr(s"transform(ets, p -> ${pow4Sql("p")})"))
      .withColumn("eis", expr(s"transform(eis, p -> ${pow4Sql("p")})"))
      .withColumn("zs", expr("aggregate(ess, 0d, (a, x) -> a + x)"))
      .withColumn("zt", expr("aggregate(ets, 0d, (a, x) -> a + x)"))
      .withColumn("z_i", expr("aggregate(eis, 0d, (a, x) -> a + x)"))
      // exact-ln chain: power-of-two normalize → atanh series
      .withColumn("k_zs", expr(lnKSql("zs")))
      .withColumn("mm_zs", expr(lnMSql("zs")))
      .withColumn("k_zt", expr(lnKSql("zt")))
      .withColumn("mm_zt", expr(lnMSql("zt")))
      .withColumn("k_zi", expr(lnKSql("z_i")))
      .withColumn("mm_zi", expr(lnMSql("z_i")))
      .withColumn("w_zs", expr("(mm_zs - 1)/(mm_zs + 1)"))
      .withColumn("w_zt", expr("(mm_zt - 1)/(mm_zt + 1)"))
      .withColumn("w_zi", expr("(mm_zi - 1)/(mm_zi + 1)"))
      .withColumn("u_zs", expr("w_zs*w_zs"))
      .withColumn("u_zt", expr("w_zt*w_zt"))
      .withColumn("u_zi", expr("w_zi*w_zi"))
      .withColumn("lzs", expr(lnAssembleSql("k_zs", "w_zs", "u_zs")))
      .withColumn("lzt", expr(lnAssembleSql("k_zt", "w_zt", "u_zt")))
      .withColumn("lz_i", expr(lnAssembleSql("k_zi", "w_zi", "u_zi")))
      .select(col("qid"),
        (-(col("s_pos") - col("m_s") - col("lzs"))).as("ce_nway"),
        // softmax weights reuse the SAME ets elements that summed to zt,
        // indexed positionally (arrays are way-aligned by construction)
        expr("""aggregate(
                  transform(ss, (sv, i) ->
                    ets[i] / zt *
                      ((ts[i] - m_t - lzt) - (sv - m_s - lzs))),
                  0d, (a, x) -> a + x)""").as("kl_distill"),
        (-(col("si_pos") - col("m_i") - col("lz_i"))).as("ib_ce"))
  }
}
