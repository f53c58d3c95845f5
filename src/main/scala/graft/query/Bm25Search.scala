package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.Tokenizer
import graft.codec.VarintExpressions._
import graft.index.{Bm25Index, Bm25Params}

/** Batch BM25 query execution over the posting-block index.
  *
  * Reference analog: Searcher.search / IndexScorer.rank
  * (colbert/searcher.py:76-158, colbert/search/index_storage.py:87-194).
  * The per-query Python loop (searcher.py:80-125) becomes ONE Spark job
  * over the whole query set: queries are tiny → broadcast side of every
  * join; postings are the big fact table and are only ever scanned with
  * a pushed-down term probe.
  *
  * Every search is one chain of layers, each written once:
  *
  *  1. compile — (qid, text) → a [[Batch]] of (qid, term, qtf, term_id,
  *     idf, df) rows: [[compileQueries]] (distributed), or on the driver
  *     through a dictionary lookup ([[compile]] for driver-sized batches,
  *     [[compileQueriesLocal]] unconditionally; a [[SearchSession]]
  *     passes its term cache as the lookup).
  *  2. probe + decode — [[probe]] the batch's term ids, then
  *     [[Bm25IndexTables.decode]]. How the batch was compiled picks the
  *     probe and the corpus stats: a driver batch pushes an In-filter and
  *     reads `corpusStatsLocal`, a distributed one semi-joins and keeps
  *     the lazy `corpusStats`.
  *  3. partial — [[hits]]: qtf·idf·tfNorm per (qid, term, doc), the
  *     expression [[partial]].
  *  4. reduce — [[scores]] (canonical term-order sum, via
  *     [[termOrdered]]) or [[fliprScores]] (top-terms sum).
  *  5. rank — [[topK]] (heap) or [[topKWindow]] (window reference).
  *
  * Entry points, as compositions of those layers:
  *
  *  - [[searchFull]]: compileQueries → probe → partial → scores → topK;
  *    [[searchFullWindow]] the same with topKWindow.
  *  - [[searchPersisted]]: compile → probe → partial → scores → topK;
  *    [[searchPersistedCompiled]] starts from a driver-compiled frame.
  *  - [[searchPersistedWand]]: compile, then per qid either the same
  *    chain or block-max WAND ([[searchWandCompiled]]: bound stages over
  *    block metadata, then probe → partial → scores → topK over the
  *    surviving blocks).
  *  - [[searchFlipr]]: compileQueries → probe → partial → fliprScores →
  *    topK; [[searchRestricted]]: compileQueries → probe → doc
  *    semi-join → partial → scores → topK.
  *  - [[searchPhrase]]: compile → probe → partial over rarest-term
  *    candidates → term-order sum with a conjunctive gate → text verify
  *    → topK. [[searchExtractions]]: compileQueries + the partial
  *    expression over the ranked docs' re-tokenized text.
  *  - Training's scorers: [[hitsFor]] (compile → probe → doc semi-join
  *    → partial), then scores or fliprScores.
  */
object Bm25Search {

  /** WAND stage A samples θ from at most this many posting blocks of the
    * rarest query term (≈ ThetaBlocks·blockSpan candidate docs) — bounds
    * the θ-seeding cost for stopword-grade rarest terms while leaving
    * genuinely rare terms (fewer blocks than the cap) fully scored. */
  val ThetaBlocks = 64

  /** Broadcast the phrase-verify survivor frame only while the
    * driver-known Σ_q df(rarest) bound stays under this many candidate
    * rows (~40 B/row → ≲ 80 MB serialized); a stopword-only phrase batch
    * on a big corpus has df(rarest) = Θ(N) and must leave the planner
    * free to shuffle the verify join instead. */
  private val PhraseBroadcastMaxCandidates = 1L << 21

  /** Largest query batch the driver compile ([[compile]]) accepts before
    * falling back to the fully distributed plan: the compile collects the
    * batch to the driver — bounded metadata at serving/interactive sizes,
    * but a 10^6-query analytics batch must not serialize through the
    * driver, and an In list of millions of term ids would defeat the scan
    * pushdown it exists to enable. */
  val MaxDriverCompileQueries = 4096

  // ---- layer 1: compile -------------------------------------------------

  /** One compiled query term: (qid, term, qtf, term_id, idf, df). */
  private[graft] type QTerm = (Long, String, Int, Long, Double, Long)

  /** Dictionary lookup for a driver compile: term → (term_id, idf, df)
    * for the given terms; unknown terms are absent. */
  private[graft] type Lookup = Seq[String] => Map[String, (Long, Double, Long)]

  /** A compiled query batch: its (qid, term, qtf, term_id, idf, df)
    * rows as a frame. */
  private[graft] sealed trait Batch { def qterms: DataFrame }

  /** Compiled on the driver: `qterms` is the LocalRelation of `rows`, so
    * every plan built from it reads literal rows instead of re-planning a
    * dictionary join per consuming action. */
  private[graft] final case class LocalBatch(qterms: DataFrame, rows: Seq[QTerm]) extends Batch

  /** Compiled by the distributed tokenize → groupBy → dictionary-join plan. */
  private[graft] final case class DistributedBatch(qterms: DataFrame) extends Batch

  /** (qid, text) → (qid, term, qtf, term_id, idf, df): tokenize ≤32 terms
    * (reference query_maxlen, settings.py:139), count query-term
    * multiplicity, attach idf. Unknown terms drop out via the inner join
    * (they cannot score). */
  def compileQueries(queries: DataFrame, termStats: DataFrame): DataFrame =
    queries
      // null qid/text rows cannot produce a ranking row; dropping them
      // here keeps the distributed plan aligned with the driver compile
      // (whose primitive decode could not represent a null qid anyway)
      .filter(col("qid").isNotNull && col("text").isNotNull)
      .select(col("qid"), explode(Tokenizer.tokenizeQuery(col("text"))).as("term"))
      .groupBy(col("qid"), col("term"))
      .agg(count(lit(1)).cast("int").as("qtf"))
      .join(termStats.select(col("term"), col("term_id"), col("idf"), col("df")), "term")

  /** Compile a driver-sized batch (≤ [[MaxDriverCompileQueries]]) on the
    * driver through `lookup`; larger batches keep the distributed
    * [[compileQueries]] plan. Identical rows either way. */
  private[graft] def compile(queries: DataFrame, termStats: DataFrame, lookup: Lookup): Batch =
    collectBatch(queries) match {
      case Some(rows) => local(queries.sparkSession, compileRows(rows, lookup))
      case None => DistributedBatch(compileQueries(queries, termStats))
    }

  /** Compile a query batch on the DRIVER into a LocalRelation: tokenize
    * driver-side, resolve the batch's distinct terms with ONE dictionary
    * job, and return the ≤32·|queries| compiled rows (bounded metadata,
    * not data) as literal rows. Every downstream plan then builds its
    * qterms broadcasts from the LocalRelation for free — without this,
    * each per-query plan re-scans termStats two or three times just to
    * rebuild the same tiny broadcast (the 32-core serving regression:
    * 3 dictionary jobs × 32 tasks of scheduling overhead per single
    * query). The reference equivalently resolves query tokens against its
    * in-memory vocab map once per query (searcher.py:80-95). */
  def compileQueriesLocal(queries: DataFrame, termStats: DataFrame): DataFrame = {
    val rows = queryRows(queries).collect()
    require(rows.forall(_._1.isDefined),
      "driver-side query compile needs long-castable qids; route string-qid " +
        "batches through the distributed compileQueries instead")
    local(queries.sparkSession,
      compileRows(rows.map { case (q, t) => (q.get, t) }.toSeq, lookupTerms(termStats))).qterms
  }

  /** The driver compile: (qid, text) rows → compiled rows, resolving the
    * distinct terms through `lookup`. */
  private def compileRows(rows: Seq[(Long, String)], lookup: Lookup): Seq[QTerm] = {
    val counts = tokenizeRows(rows)
    val dict = lookup(counts.map(_._2).distinct)
    counts.flatMap { case (qid, t, qtf) =>
      dict.get(t).map { case (id, idf, df) => (qid, t, qtf, id, idf, df) }
    }
  }

  /** Compiled rows as a [[LocalBatch]]. */
  private def local(spark: SparkSession, rows: Seq[QTerm]): LocalBatch = {
    import spark.implicits._
    LocalBatch(rows.toDF("qid", "term", "qtf", "term_id", "idf", "df"), rows)
  }

  /** A driver-compiled qterms frame as a [[LocalBatch]] (collecting a
    * LocalRelation runs no job). */
  private[graft] def localBatch(qterms: DataFrame): LocalBatch = {
    val spark = qterms.sparkSession
    import spark.implicits._
    LocalBatch(qterms, qterms.select(col("qid"), col("term"), col("qtf"), col("term_id"),
      col("idf"), col("df")).as[QTerm].collect().toSeq)
  }

  /** (term → (term_id, idf, df)) for the given terms — ONE isin-filtered
    * job over the dictionary (row-group/batch stats prune the scan). */
  private[graft] def lookupTerms(termStats: DataFrame): Lookup = terms =>
    if (terms.isEmpty) Map.empty
    else termStats.filter(col("term").isin(terms: _*))
      .select(col("term"), col("term_id"), col("idf"), col("df"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap

  /** Non-null (qid, text) rows with the qid cast to long (None when it
    * does not cast) — the same null-row dropping as [[compileQueries]]. */
  private def queryRows(queries: DataFrame): Dataset[(Option[Long], String)] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.filter(col("qid").isNotNull && col("text").isNotNull)
      .select(col("qid").cast("long"), col("text"))
      .as[(Option[Long], String)]
  }

  /** The batch's (qid, text) rows if it is driver-compile sized, else
    * None — ONE limit-pushed job either way. `cap` is overridable only so
    * tests can exercise the fallback without a 4096-query fixture. */
  private[query] def collectBatch(queries: DataFrame,
                                  cap: Int = MaxDriverCompileQueries): Option[Seq[(Long, String)]] = {
    val rows = queryRows(queries).limit(cap + 1).collect()
    // a non-null qid that does not CAST to long (string ids) can only be
    // grouped by the distributed plan — fall back rather than drop it
    if (rows.length > cap || rows.exists(_._1.isEmpty)) None
    else Some(rows.map { case (q, t) => (q.get, t) }.toSeq)
  }

  /** Driver-side (qid, term, qtf) triples via the SAME scanner the
    * Catalyst expression calls (property-tested identical). Multiplicity
    * is counted across ALL of a qid's rows (a duplicated qid contributes
    * one merged group, exactly like the distributed groupBy(qid, term));
    * null texts drop like explode(tokenize(null)) does. Output order is
    * deterministic — the triples become LocalRelation literals. */
  private def tokenizeRows(rows: Seq[(Long, String)]): Seq[(Long, String, Int)] =
    rows.flatMap { case (qid, text) =>
        Option(Tokenizer.tokenize(text, Tokenizer.QueryMaxTerms))
          .fold(Seq.empty[(Long, String)])(_.toSeq.map(t => (qid, t)))
      }
      .groupBy(identity).toSeq
      .map { case ((qid, t), occ) => (qid, t, occ.size) }
      .sortBy { case (qid, t, _) => (qid, t) }

  // ---- layer 2: probe (+ decode) ----------------------------------------

  /** Posting blocks of the batch's terms. A driver batch pushes its
    * distinct term ids as an In-filter into the scan: the blocks table is
    * written sorted by term_id, so row-group min/max stats skip nearly
    * every non-probed row group — the physical analog of the reference's
    * IVF lookup touching only probed centroids
    * (colbert/search/candidate_generation.py:22-37). (A semi-join against
    * `qterms.distinct()` would be an Aggregate over a LocalRelation that
    * Catalyst cannot collapse: a 2-row shuffle + broadcast build per
    * consuming action.) A distributed batch semi-joins its broadcast term
    * ids instead — its term set is not known until the plan runs. */
  private[graft] def probe(b: Batch, index: Bm25IndexTables): DataFrame = b match {
    case LocalBatch(_, rows) => index.probeBlocks(rows.map(_._4).distinct)
    case DistributedBatch(qterms) =>
      index.blocks.join(broadcast(qterms.select(col("term_id")).distinct()), "term_id")
  }

  /** The corpus stats a batch scores against: a driver batch already ran
    * jobs to compile, so it takes the one-row LocalRelation; a
    * distributed plan keeps the lazy subtree so building it stays
    * action-free. */
  private def corpusStatsOf(b: Batch, index: Bm25IndexTables): DataFrame = b match {
    case _: LocalBatch => index.corpusStatsLocal
    case _: DistributedBatch => index.corpusStats
  }

  // ---- layer 3: partial -------------------------------------------------

  /** The BM25 partial of one (query term, doc) pair: qtf·idf·tfNorm. */
  private def partial(p: Bm25Params): Column =
    (col("qtf") * col("idf") *
      Bm25Index.tfNorm(col("tf"), col("dl"), col("avgdl"), p)).as("partial")

  /** Score hits: compiled query terms ⋈ decoded postings on term.
    * The query side is broadcast (J1 in SURVEY §2.4 — the IVF probe). */
  private[graft] def hits(qterms: DataFrame, postingsWithDl: DataFrame, corpusStats: DataFrame,
                          p: Bm25Params): DataFrame =
    postingsWithDl
      .join(broadcast(qterms.drop("term")), "term_id")
      .crossJoin(broadcast(corpusStats))
      .select(col("qid"), col("term_id"), col("doc_id"), partial(p))

  /** probe → decode (→ semi-join to `docs`) → partials of a batch. */
  private def batchHits(b: Batch, index: Bm25IndexTables, p: Bm25Params,
                        docs: Option[DataFrame] = None): DataFrame = {
    val decoded = index.decode(probe(b, index))
    hits(b.qterms, docs.fold(decoded)(decoded.join(_, Seq("doc_id"), "left_semi")),
      corpusStatsOf(b, index), p)
  }

  /** The partials of `queries` against just the (doc_id) rows of `docs`
    * — the training scorers' input. Training batches are bounded by
    * construction, so they compile on the driver. */
  private[graft] def hitsFor(queries: DataFrame, docs: DataFrame, index: Bm25IndexTables,
                             p: Bm25Params): DataFrame =
    batchHits(compile(queries, index.termStats, lookupTerms(index.termStats)), index, p, Some(docs))

  // ---- layer 4: reduce --------------------------------------------------

  /** Partials grouped per (qid, `key`) into `ps`, sorted by term_id: the
    * canonical order every score sum folds in (sort_array normalizes the
    * collect_list order), so the double sum is bit-identical at
    * local[8] ≡ local[32] ≡ any cluster layout (SURVEY §7.4 risk 1).
    * ≤32 terms per group → O(1) per row. */
  private def termOrdered(partials: DataFrame, key: String): DataFrame =
    partials.groupBy(col("qid"), col(key))
      .agg(sort_array(collect_list(struct(col("term_id"), col("partial")))).as("ps"))

  /** The left-to-right sum of a [[termOrdered]] `ps` array. */
  private def termOrderSum: Column = expr("aggregate(ps, 0d, (acc, x) -> acc + x.partial)")

  /** Deterministic per-(qid, doc) score: partials summed in canonical
    * term order. */
  private[graft] def scores(hits: DataFrame): DataFrame =
    termOrdered(hits, "doc_id")
      .select(col("qid"), col("doc_id"), termOrderSum.as("score"))

  /** FLIPR-analog reduce (reference's experimental flipr reduce sums only
    * the top-K1 per-token maxima instead of all of them,
    * colbert/modeling/colbert.py:172-185): per (qid, doc) the score is the
    * sum of the `topTerms` LARGEST partials, so one dominant term cannot
    * be diluted by many weak ones. Partials are desc-sorted before the
    * bounded sum (sort_array normalizes the collect_list order →
    * bit-stable at any parallelism; equal partials sum identically
    * whichever side of the cut they land on). */
  private[graft] def fliprScores(hits: DataFrame, topTerms: Int): DataFrame =
    hits
      .groupBy(col("qid"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("partial"), col("term_id"))),
        asc = false).as("ps"))
      .select(col("qid"), col("doc_id"),
        expr(s"aggregate(slice(ps, 1, $topTerms), 0d, (acc, x) -> acc + x.partial)")
          .as("score"))

  // ---- layer 5: rank ----------------------------------------------------

  /** rank 1..k per qid, ordered by (score desc, doc_id asc) — the
    * reference's stable tiebreak (server.py:34 re-sorts (-score, pid)).
    *
    * DEFAULT = the bounded-heap Aggregator: partial heaps merge map-side
    * (the Spark-shaped version of the reference's per-thread heaps in
    * filter_pids.cpp:27-123), so NO per-qid global sort shuffle runs — at
    * web scale a window would sort-shuffle every (qid, doc) score. Rank-
    * identical to [[topKWindow]] (property-tested in Bm25EngineSpec). */
  def topK(scores: DataFrame, k: Int): DataFrame =
    TopKAggregator.topK(scores, k)

  /** Window-based top-k — the declarative oracle-parity variant (kept for
    * plan comparison; the heap path is the default at scale). */
  def topKWindow(scores: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id").asc)
    scores
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** probe → partial → scores → topK over a compiled batch. */
  private[query] def rank(b: Batch, index: Bm25IndexTables, k: Int, p: Bm25Params): DataFrame =
    topK(scores(batchHits(b, index, p)), k)

  // ---- entry points -----------------------------------------------------

  /** Full (unpruned) exact top-k from the compressed index, through the
    * fully distributed plan. */
  def searchFull(queries: DataFrame, index: Bm25IndexTables, k: Int,
                 p: Bm25Params = Bm25Params()): DataFrame =
    rank(DistributedBatch(compileQueries(queries, index.termStats)), index, k, p)

  /** [[searchFull]] with the window top-k — same rows, kept as the
    * explicit declarative variant the DuckDB oracle mirrors. */
  def searchFullWindow(queries: DataFrame, index: Bm25IndexTables, k: Int,
                       p: Bm25Params = Bm25Params()): DataFrame =
    topKWindow(scores(batchHits(
      DistributedBatch(compileQueries(queries, index.termStats)), index, p)), k)

  /** IVF-probe with real I/O pruning for a PERSISTED index: a
    * driver-sized batch compiles on the driver and pushes its term ids
    * into the parquet scan ([[probe]]). Returns the same rows as
    * [[searchFull]], which is also what batches over
    * [[MaxDriverCompileQueries]] run (with that many distinct terms the
    * In-filter would keep every row group anyway). */
  def searchPersisted(queries: DataFrame, index: Bm25IndexTables, k: Int,
                      p: Bm25Params = Bm25Params()): DataFrame =
    rank(compile(queries, index.termStats, lookupTerms(index.termStats)), index, k, p)

  /** [[searchPersisted]] from an already-compiled local qterms frame
    * ([[compileQueriesLocal]]). */
  def searchPersistedCompiled(qterms: DataFrame, index: Bm25IndexTables, k: Int,
                              p: Bm25Params = Bm25Params()): DataFrame =
    rank(localBatch(qterms), index, k, p)

  /** Two-stage block-max-WAND-style pruned search with the query-term
    * In-filter pushed to the scan — exact results, reference analog of
    * the staged pruning in index_storage.py:111-194:
    *
    * stage A (θ bound): exactly score only each query's highest-idf
    *   term's postings, sampled from at most [[ThetaBlocks]] of its
    *   blocks; the kth best such single-term score is a LOWER bound θ on
    *   the true kth best full score (any doc-subset + term-subset scoring
    *   can only under-estimate; fewer than k sampled docs → no θ → no
    *   pruning, still exact).
    * stage B (candidate BLOCKS): classic WAND term ordering — per qid,
    *   terms are sorted by their maximum possible contribution
    *   mc_t = qtf·idf_t·(k1+1) (tf-saturation is bounded by k1+1), and the
    *   maximal ascending prefix with Σ mc < θ is the WEAK set: a doc whose
    *   postings lie only in weak terms cannot reach θ, so weak terms'
    *   postings are NEVER TRAVERSED. Upper bounds are then computed at
    *   BLOCK granularity from block metadata alone (no decode):
    *   ub(qid, block) = Σ_strong qtf·idf·block_max(term, block) + Σ_weak
    *   mc bounds every doc of the block, because each doc lives in
    *   exactly one block. Keep blocks with ub ≥ θ.
    * stage C (exact): decode only surviving blocks (semi-join on
    *   block_no — whole stopword posting ranges are skipped), score
    *   exactly, drop (qid, block) pairs that did not survive for that
    *   qid, top-k. Every true top-k doc survives: score ≤ its block's ub.
    *
    * At scale: stopword-grade terms are usually weak (huge df → small
    * idf·(k1+1) vs θ from a rare term), so their 10^11-entry posting
    * lists are read NEITHER for candidates NOR for exact scoring outside
    * candidate block ranges — the degenerate O(postings) scan only
    * remains for queries made exclusively of stopwords.
    *
    * Adaptive strategy choice per QUERY, decided from compile-time
    * metadata alone: the bound stages can only pay off when at least one
    * query term is BLOCK-SPARSE (present in well under half the doc-range
    * blocks — a term with df ≥ #blocks has a posting in every block by
    * pigeonhole, so nothing can be skipped and the multi-pass machinery
    * is pure overhead). Each qid routes independently: sparse-term
    * queries take the pruned path, dense/stopword-only queries the
    * one-pass [[rank]] chain, and the union is exact either way (WAND ≡
    * full is property-tested). Over [[MaxDriverCompileQueries]] the
    * per-qid route can't run on the driver; the one-pass distributed plan
    * returns identical rows, and at that many distinct terms the batch
    * probes essentially every block, so pruning had nothing to win. */
  def searchPersistedWand(queries: DataFrame, index: Bm25IndexTables, k: Int,
                          p: Bm25Params = Bm25Params()): DataFrame =
    compile(queries, index.termStats, lookupTerms(index.termStats)) match {
      case b @ LocalBatch(qterms, rows) =>
        val nBlocks = math.max(1L, (index.docIdSpan + p.blockSpan - 1) / p.blockSpan)
        val minDf = rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._6).min }
        val (wandRows, fullRows) = rows.partition(r => 2L * minDf(r._1) < nBlocks)
        val spark = qterms.sparkSession
        if (wandRows.isEmpty) rank(b, index, k, p)
        else if (fullRows.isEmpty) searchWandCompiled(b, index, k, p)
        else searchWandCompiled(local(spark, wandRows), index, k, p)
          .unionByName(rank(local(spark, fullRows), index, k, p))
      case b => rank(b, index, k, p)
    }

  /** FLIPR-analog top-k ([[fliprScores]] over the full plan's partials). */
  def searchFlipr(queries: DataFrame, index: Bm25IndexTables, k: Int,
                  topTerms: Int, p: Bm25Params = Bm25Params()): DataFrame =
    topK(fliprScores(batchHits(
      DistributedBatch(compileQueries(queries, index.termStats)), index, p), topTerms), k)

  /** Search restricted to an allowed docId set (reference pid filter /
    * restricted search, searcher.py:87-95, index_storage.py:91-101):
    * ranks 1..k are assigned WITHIN the allowed set. The restriction is a
    * semi-join applied before scoring, so disallowed postings never reach
    * the aggregation. */
  def searchRestricted(queries: DataFrame, index: Bm25IndexTables, k: Int,
                       allowedDocs: DataFrame, p: Bm25Params = Bm25Params()): DataFrame =
    topK(scores(batchHits(DistributedBatch(compileQueries(queries, index.termStats)),
      index, p, Some(allowedDocs.select(col("doc_id"))))), k)

  /** A view of the index with stopword-grade terms dropped: any term with
    * df > maxDfFraction·N is removed from termStats, so query compilation
    * silently skips it (the lexical analog of the reference's doc-side
    * pooling/pruning quality knob, SURVEY §2.5 A12). At web scale this
    * caps the posting volume any single query can touch. */
  def dfPruned(index: Bm25IndexTables, maxDfFraction: Double): Bm25IndexTables = {
    val pruned = index.termStats
      .crossJoin(broadcast(index.corpusStats.select(col("n_docs"))))
      .filter(col("df") <= col("n_docs") * maxDfFraction)
      .drop("n_docs")
    index.copy(termStats = pruned)
  }

  /** Extraction-span search — the lexical analog of the fork's signature
    * feature (`Searcher.search_extractions`, colbert/searcher.py:161-217;
    * colbert/search/extractions_search.py; per-token max scores at
    * colbert/modeling/colbert.py:190-193): the reference reports, for each
    * (query, passage), each passage token's max similarity to any query
    * token plus the char-span offset mapping of the rationale tokens. In
    * BM25 every occurrence of a matching term contributes the same
    * per-(term,doc) partial, so the per-token score vector collapses to
    * one row per matching query term carrying its FIRST-occurrence span
    * (token position + char offsets via [[Tokenizer.tokenize_with_offsets]],
    * the reference's offset mapping at doc_tokenization.py:60-65) and its
    * exact BM25 partial contribution.
    *
    * Scale shape: spans are computed only over the top-k docs of each
    * query (≤ k·|queries| rows joined back to text — a broadcast-size
    * set), never over the corpus; the corpus-wide work is [[searchFull]].
    *
    * Output: (qid, doc_id, rank, term, token_pos, start_char, end_char,
    * partial) — token_pos 0-based, end_char exclusive, offsets in chars
    * over the original text.
    */
  def searchExtractions(queries: DataFrame, index: Bm25IndexTables,
                        docsText: DataFrame, k: Int,
                        p: Bm25Params = Bm25Params(),
                        precomputedRanking: Option[DataFrame] = None): DataFrame = {
    // extractions annotate an EXISTING ranking (reference: the searcher
    // extracts rationales for results it already ranked,
    // colbert/searcher.py:161-217) — a serving session that holds its
    // ranking resident passes it here instead of re-searching
    val ranking = precomputedRanking.getOrElse(searchFull(queries, index, k, p))
      .select(col("qid"), col("doc_id"), col("rank"))
    val qterms = compileQueries(queries, index.termStats)
    // stream the corpus through ONE broadcast probe of the (top-k-bounded)
    // ranking — the text projection carries no expression, so column
    // pruning reaches the scan; the tokenize runs ABOVE the join, on
    // result docs only
    val topDocs = docsText.select(col("doc_id"), col("text"))
      .join(broadcast(ranking), "doc_id")

    // re-tokenizing the ≤ k·|queries| result docs is cheaper than carrying
    // per-doc dl through the ranking; identical by construction. dl rides
    // the SAME exploded pass as the spans (max token pos + 1 per doc, a
    // window over the bounded result-token table) — a separate dl frame
    // would re-execute the corpus probe a second time.
    val toks = topDocs.select(
      col("qid"), col("doc_id"), col("rank"),
      posexplode(Tokenizer.tokenize_with_offsets(col("text"), Tokenizer.DocMaxTerms)))
      .select(col("qid"), col("doc_id"), col("rank"),
        col("pos"), col("col.term").as("term"),
        col("col.start").as("start"), col("col.end").as("end"))
      .withColumn("dl",
        (max(col("pos")).over(Window.partitionBy(col("doc_id"))) + 1).cast("int"))

    toks
      .join(broadcast(qterms.select(col("qid"), col("term"), col("qtf"), col("idf"))),
        Seq("qid", "term"))
      .groupBy(col("qid"), col("doc_id"), col("rank"), col("term"))
      .agg(
        count(lit(1)).cast("int").as("tf"),
        min(struct(col("pos"), col("start"), col("end"))).as("fst"),
        first(col("qtf")).as("qtf"),
        first(col("idf")).as("idf"),
        first(col("dl")).as("dl"))
      .crossJoin(broadcast(index.corpusStats.select(col("avgdl"))))
      .select(
        col("qid"), col("doc_id"), col("rank"), col("term"),
        col("fst.pos").as("token_pos"),
        col("fst.start").as("start_char"),
        col("fst.end").as("end_char"),
        partial(p))
  }

  /** Exact PHRASE search: top-k docs containing the query tokens as a
    * CONSECUTIVE sequence, ranked by the phrase terms' BM25 score — the
    * positional-query capability of a fulltext index, built without
    * positional postings (the index stores tf only):
    *
    *   1. conjunctive candidate gate from the index — a doc survives iff
    *      it matches EVERY distinct query term, counted in the same
    *      aggregation that sums its BM25 score (one pass over the decoded
    *      postings; a query containing an unindexed term matches nothing,
    *      by construction);
    *   2. adjacency verify by re-tokenizing ONLY the candidate docs'
    *      text: slice-equality over the token array (array HOFs, no UDF).
    *
    * Scale: candidates are the INTERSECTION of the phrase terms' posting
    * lists — phrases with any selective term verify a tiny doc set; the
    * all-stopword phrase is the worst case (bounded by the rarest term's
    * df), exactly as in a positional index, which would still decode that
    * many position lists. The text join touches candidate rows only.
    * Storing positions would trade this doc-text re-read for ~2-3×
    * posting volume on EVERY query; at 100 TB the tf-only index plus
    * candidate-bounded verify is the cheaper default.
    */
  def searchPhrase(queries: DataFrame, index: Bm25IndexTables, docsText: DataFrame,
                   k: Int, p: Bm25Params = Bm25Params()): DataFrame =
    searchPhraseImpl(queries, index, docsText, k, p, MaxDriverCompileQueries)

  /** [[searchPhrase]] with an injectable driver-compile cap — test seam
    * for the distributed (over-cap) branch without a 4096-query fixture. */
  private[query] def searchPhraseImpl(queries: DataFrame, index: Bm25IndexTables,
                                      docsText: DataFrame, k: Int, p: Bm25Params,
                                      driverCap: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // A driver-sized batch compiles ALL its per-qid metadata on the
    // driver — compiled terms, rarest term, conjunctive term count,
    // adjacency pattern — into LocalRelations: the distributed
    // formulation spent ~2/3 of its wall on the stage chain (compile
    // join, rarest window, qn groupBy, pattern dedup) over frames of
    // ≤ batch-size rows. Larger batches keep the fully distributed plan;
    // rows are identical either way.
    val (batch, rarest, nPerQ, ptoks, candBound) = collectBatch(queries, driverCap) match {
      case Some(rows) =>
        val b = local(spark, compileRows(rows, lookupTerms(index.termStats)))
        val perQidRarest = b.rows.groupBy(_._1).values
          .map(rs => rs.minBy(r => (r._6, r._4))).toSeq
        val rarestDf = perQidRarest.map(r => (r._1, r._4)).toDF("qid", "term_id")
        // Σ_q df(rarest): a DRIVER-known upper bound on the candidate set
        // (and hence on conj) — it decides whether the verify join may
        // broadcast the survivors (metadata-only, no extra job)
        val bound = Some(perQidRarest.map(_._6).sum)
        // qn counts DISTINCT query tokens INCLUDING out-of-vocabulary
        // ones (an OOV term must fail the conjunction) — tokenizeRows is
        // one row per distinct (qid, term)
        val nPerQDf = tokenizeRows(rows).groupBy(_._1).view.mapValues(_.size).toSeq
          .toDF("qid", "qn")
        // first text per qid in input order (one adjacency pattern each)
        val firstText = rows.foldLeft(Vector.empty[(Long, String)]) {
          case (acc, (qid, t)) =>
            if (acc.exists(_._1 == qid)) acc else acc :+ (qid -> t)
        }
        val ptoksDf = firstText.map { case (qid, t) =>
          (qid, Option(Tokenizer.tokenize(t, Tokenizer.QueryMaxTerms))
            .map(_.toSeq).getOrElse(Seq.empty[String]))
        }.toDF("qid", "pt")
        (b, rarestDf, nPerQDf, ptoksDf, bound)
      case None =>
        val b = DistributedBatch(compileQueries(queries, index.termStats))
        val wMin = Window.partitionBy(col("qid"))
          .orderBy(col("df").asc, col("term_id").asc)
        val rarestDf = b.qterms
          .withColumn("rn", row_number().over(wMin)).filter(col("rn") === 1)
          .select(col("qid"), col("term_id"))
        val nPerQDf = queries
          .filter(col("qid").isNotNull && col("text").isNotNull)
          .select(col("qid"),
            explode(array_distinct(Tokenizer.tokenizeQuery(col("text")))).as("t"))
          .groupBy(col("qid")).agg(countDistinct(col("t")).as("qn"))
        val ptoksDf = queries
          .filter(col("qid").isNotNull && col("text").isNotNull)
          .select(col("qid"), Tokenizer.tokenizeQuery(col("text")).as("pt"))
          .dropDuplicates("qid")
        // corpus-scale batch: no driver-side candidate bound exists, so
        // the verify join must not assume broadcastability
        (b, rarestDf, nPerQDf, ptoksDf, None)
    }
    val decoded = index.decode(probe(batch, index))
    // Rarest-term-driven candidates: a conjunction-passing doc must hold
    // EVERY phrase term, so only docs holding the qid's rarest (min-df)
    // term can qualify — the candidate set is bounded by Σ_q df(rarest),
    // never by the stopword terms' posting fanout (scoring every doc that
    // shares ANY term with ANY phrase multiplies each common term's
    // postings by the number of phrases containing it — asymptotically
    // wrong at web scale).
    val cand = decoded.select(col("term_id"), col("doc_id"))
      .join(broadcast(rarest), "term_id")
      .select(col("qid"), col("doc_id"))
    // candidate × its qid's own terms (≤ query_max per row), then ONE
    // equi-join against the decoded postings on (term_id, doc_id) — the
    // per-(qid, doc, term) rows are identical to hits() restricted to the
    // candidate docs, so scores and the conjunctive gate are unchanged
    val h = cand
      .join(broadcast(batch.qterms.drop("term")), "qid")
      .join(decoded.select(col("term_id"), col("doc_id"), col("tf"), col("dl")),
        Seq("term_id", "doc_id"))
      .crossJoin(broadcast(corpusStatsOf(batch, index)))
      .select(col("qid"), col("term_id"), col("doc_id"), partial(p))
    // one aggregation: matched-term count (conjunctive gate, vs the qn
    // computed BEFORE the dictionary join — an out-of-vocabulary term
    // must fail the conjunction) + the canonical-order score sum
    val scored = termOrdered(h, "doc_id")
      .select(col("qid"), col("doc_id"), size(col("ps")).as("mn"), termOrderSum.as("score"))
    val conj = scored.join(broadcast(nPerQ), "qid").filter(col("mn") === col("qn"))
    // tokenize SURVIVORS only, in ONE corpus pass: stream docsText through
    // a broadcast join against the conjunction survivors, then apply the
    // tokenizeDoc projection ABOVE that join. Catalyst never defers a
    // projection past a join, so tokenizing inside the join's corpus-side
    // input (the round-3 shape) physically re-tokenized EVERY doc per
    // phrase batch — a full-corpus tokenize at 100 TB. And referencing
    // conj from two plans (a semi-join prefilter + the verify join) would
    // execute its whole candidate pipeline twice — joining conj itself
    // keeps one execution and one corpus scan. The broadcast is GATED on
    // the driver-known Σ_q df(rarest) bound: a stopword-only phrase
    // batch has df(rarest) = Θ(N), and an unconditional hint would force
    // a corpus-scale broadcast where the planner must be free to shuffle
    // instead (corpus-scale batches carry no bound and never hint). A
    // doc matching several phrases tokenizes once per match, still
    // candidate-bounded.
    // ptoks: one adjacency pattern per qid (a qid carrying two DIFFERENT
    // texts has no well-defined single phrase)
    // adjacency as separator-delimited string containment: tokens are
    // [\p{L}\p{Nd}]+ runs so a space can never occur inside one, making
    // " t1 t2 … " contains " p1 p2 p3 " ⟺ (p1..pn) consecutive in toks.
    // The HOF formulation (exists over sequence + slice equality) allocated
    // a fresh slice array per position per candidate — measured as the
    // dominant term of the phrase query on a stopword-dense corpus;
    // UTF8String.contains is a codegen'd scan with zero per-position
    // allocation.
    def sepJoined(c: Column) = concat(lit(" "), array_join(c, " "), lit(" "))
    val conjSide =
      if (candBound.exists(_ <= PhraseBroadcastMaxCandidates)) broadcast(conj) else conj
    val verified = docsText
      .join(conjSide, "doc_id")
      .withColumn("toks", Tokenizer.tokenizeDoc(col("text")))
      .join(broadcast(ptoks), "qid")
      .filter(size(col("pt")) > 0 && sepJoined(col("toks")).contains(sepJoined(col("pt"))))
      .select(col("qid"), col("doc_id"), col("score"))
    topK(verified, k)
  }

  /** Merge rankings (reference utility/rankings/merge.py:14-41): per
    * (qid, doc) keep the best score across inputs, then re-rank 1..k. */
  def mergeRankings(rankings: Seq[DataFrame], k: Int): DataFrame =
    topK(
      rankings.map(_.select(col("qid"), col("doc_id"), col("score")))
        .reduce(_ unionByName _)
        .groupBy(col("qid"), col("doc_id"))
        .agg(max(col("score")).as("score")),
      k)

  // ---- block-max WAND ---------------------------------------------------

  /** Candidate sets up to this size are materialized into a LocalRelation
    * (16 B/row → ≤ ~16 MB broadcast); larger ones stay a lazy plan. */
  private val MaxLocalCandidateBlocks = 1000000

  /** The pruned arm of [[searchPersistedWand]] over a driver-compiled
    * batch. `maxLocalCand` is overridable only so tests can exercise the
    * lazy >cap fallback without a million-block fixture. */
  private[graft] def searchWandCompiled(b: LocalBatch, index: Bm25IndexTables, k: Int,
                                        p: Bm25Params,
                                        maxLocalCand: Int = MaxLocalCandidateBlocks): DataFrame = {
    val spark = b.qterms.sparkSession
    import spark.implicits._
    val probed = probe(b, index)
    // Materialize the candidate set ONCE: the stage-C plan consumes it
    // TWICE (block_no semi-join for the decode + the per-qid survival
    // filter), and as a lazy subtree each use would re-run stages A+B —
    // measured 4× the whole-query cost once the full path got fast enough
    // for the recompute to dominate. Serving-sized candidate sets become a
    // LocalRelation (broadcast-ready literal rows); a web-scale candidate
    // flood past the cap falls back to the lazy plan rather than the
    // driver's memory.
    val candLazy = wandCandidateBlocks(b, probed, index, k, p)
    val candRows = candLazy.select(col("qid"), col("block_no"))
      .as[(Long, Long)].limit(maxLocalCand + 1).collect()
    val inDriver = candRows.length <= maxLocalCand
    val candBlocks =
      if (inDriver) candRows.toSeq.toDF("qid", "block_no")
      else candLazy

    // Stage C: decode ONLY surviving blocks, score exactly, and drop
    // (qid, block) pairs that did not survive for THAT qid; top-k. A true
    // top-k doc always survives: score(d) ≤ ub(qid, block(d)) and
    // score(d) ≥ θ. With a driver-local candidate set the distinct block
    // list is plain driver dedup (an Aggregate-over-LocalRelation would
    // shuffle); the >cap fallback keeps the distributed distinct.
    val candBlockNos =
      if (inDriver) broadcast(candRows.map(_._2).distinct.toSeq.toDF("block_no"))
      else candBlocks.select(col("block_no")).distinct()
    val decoded = index.decode(
      probed.join(candBlockNos, Seq("block_no"), "left_semi"))
    val exact = scores(
      hits(b.qterms, decoded, corpusStatsOf(b, index), p)
        .withColumn("block_no", (col("doc_id") / p.blockSpan).cast("long"))
        .join(candBlocks, Seq("qid", "block_no"), "left_semi")
        .drop("block_no"))
    topK(exact, k)
  }

  /** Stages A+B of [[searchPersistedWand]]: the surviving (qid, block_no)
    * candidate set, computed from block METADATA only (no posting decoded
    * except the θ seed's capped sample). Package-visible so benchmarks can
    * report the decode-pruning ratio (candidate blocks vs all probed
    * blocks) as a first-class number. */
  private[graft] def wandCandidateBlocks(b: LocalBatch, probed: DataFrame,
                                         index: Bm25IndexTables, k: Int,
                                         p: Bm25Params): DataFrame = {
    val spark = b.qterms.sparkSession
    import spark.implicits._
    // Stage A: θ per qid from the rarest (max-idf, term-asc tiebreak)
    // term, scored over at most the term's first ThetaBlocks posting
    // blocks. Subset-of-terms × subset-of-docs scoring can only
    // UNDER-estimate, so the kth best sampled score stays a valid lower
    // bound (fewer than k sampled docs → no θ → no pruning, still exact).
    // The cap means an all-stopword query no longer decodes a full
    // stopword posting list just to seed θ; the block-prefix window runs
    // on metadata rows only. θ selection uses the bounded-heap
    // aggregator — no per-qid global sort of the sampled scores.
    //
    // θ is COLLECTED (≤ one row per qid — bounded by the driver-compile
    // cap): as a lazy subtree it was consumed by stage B's split AND the
    // final bound filter, re-running the θ decode per use; as driver rows
    // it is computed exactly once and every consumer gets literal values.
    //
    // The rarest-term pick is plain driver arithmetic over the compiled
    // rows: a window over a LocalRelation still shuffles, and its
    // `.distinct()` broadcast re-ran an aggregate job per consuming
    // action.
    val byQid = b.rows.groupBy(_._1)
    val rarest = local(spark, byQid.values.map(rs =>
      rs.minBy { case (_, term, _, _, idf, _) => (-idf, term) }).toSeq)
    val wBlk = Window.partitionBy(col("term_id")).orderBy(col("block_no").asc)
    val rareCapped = probed
      .filter(col("term_id").isin(rarest.rows.map(_._4).distinct: _*))
      .withColumn("brn", row_number().over(wBlk))
      .filter(col("brn") <= ThetaBlocks)
      .drop("brn")
    val rareScores = scores(hits(rarest.qterms, index.decode(rareCapped),
      corpusStatsOf(rarest, index), p))
    val theta: Map[Long, Double] = topK(rareScores, k)
      .filter(col("rank") === k)
      .select(col("qid"), col("score"))
      .as[(Long, Double)].collect().toMap

    // Stage B: weak/strong term split per qid (ascending max-contribution
    // prefix below θ is weak) — plain driver arithmetic over the compiled
    // rows in (mc asc, term asc) order with left-to-right summation.
    val strongRows = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Double)]()
    val weakSum = scala.collection.mutable.Map[Long, Double]()
    byQid.foreach { case (qid, rs) =>
      val th = theta.get(qid)
      var cum = 0.0
      rs.map { case (_, term, qtf, termId, idf, _) =>
        (term, qtf, termId, idf, qtf * idf * (p.k1 + 1.0))
      }.sortBy { case (term, _, _, _, mc) => (mc, term) }
        .foreach { case (_, qtf, termId, idf, mc) =>
          cum += mc
          if (th.exists(cum < _)) weakSum.update(qid, weakSum.getOrElse(qid, 0.0) + mc)
          else strongRows += ((qid, termId, qtf, idf))
        }
    }
    val strong = strongRows.toSeq.toDF("qid", "term_id", "qtf", "idf")
    val bounds = byQid.keys.map(q =>
      (q, weakSum.getOrElse(q, 0.0), theta.get(q))).toSeq
      .toDF("qid", "weak_sum", "theta")

    // Bounds at BLOCK granularity: every doc lives in exactly one block
    // (block_no = doc_id/blockSpan), so Σ over strong terms of that
    // block's max contribution upper-bounds every doc in it — computed
    // from block METADATA alone, no posting is decoded in stage B
    // (blockSpan× fewer rows than the per-doc bound it replaces).
    // ub is summed in canonical term order like [[scores]]: the >cap
    // fallback path consumes this frame TWICE (the decode semi-join and
    // the survival filter), and a partition-order-dependent float sum
    // could flip a block exactly at the θ boundary between the two
    // evaluations — surviving the filter while its postings were never
    // decoded. Canonical order makes both evaluations bit-identical.
    val blockMax = probed
      .select(col("term_id"), col("block_no"),
        (col("block_max_tfnorm") * lit(index.wandBoundScale)).as("bmax"))
      .join(broadcast(strong), "term_id")
      .withColumn("partial", col("qtf") * col("idf") * col("bmax"))
    termOrdered(blockMax, "block_no")
      .select(col("qid"), col("block_no"), termOrderSum.as("ub"))
      .join(broadcast(bounds), Seq("qid"), "left")
      .filter(col("theta").isNull ||
        (col("ub") + coalesce(col("weak_sum"), lit(0.0))) >= col("theta"))
      .select(col("qid"), col("block_no"))
  }
}

/** Deleted-doc set plus its cardinality (from the tombstone manifest's
  * file-footer row counts — metadata, never a scan). The cardinality picks
  * the anti-join strategy: a typical deletion batch broadcasts; a
  * whole-crawl retraction (the reference's IndexUpdater.remove has no size
  * bound, index_updater.py:80-96, and at web scale the set can reach 10^9
  * ids) falls back to a shuffled left-anti join instead of OOMing every
  * executor with an unbounded broadcast. */
final case class Tombstones(df: DataFrame, rows: Long) {
  /** `from` minus tombstoned doc_ids. The manifest cardinality overrides
    * Catalyst's size estimate in both directions: small sets broadcast
    * even when stats are missing; huge sets get the shuffled-hash hint so
    * the planner cannot pick an unbounded broadcast. */
  def subtractFrom(from: DataFrame): DataFrame =
    from.join(side, Seq("doc_id"), "left_anti")

  /** `from` restricted TO tombstoned doc_ids — the deletion-sized
    * complement of [[subtractFrom]] (openMerged's incremental df merge
    * aggregates only the dead docs' postings, never the live corpus). */
  def intersectWith(from: DataFrame): DataFrame =
    from.join(side, Seq("doc_id"), "left_semi")

  private def side: DataFrame = {
    val ids = df.select(col("doc_id"))
    if (rows <= Tombstones.BroadcastMaxRows) broadcast(ids)
    else ids.hint("shuffle_hash")
  }
}

object Tombstones {
  /** ~10^7 ids ≈ 80 MB of longs — the practical per-executor broadcast
    * ceiling before memory pressure beats the shuffle saved. */
  val BroadcastMaxRows: Long = 10L * 1000 * 1000
}

/** The three index tables a search session needs (reference analog:
  * IndexLoader's ivf + doclens + codec, colbert/search/index_loader.py).
  *
  * `tombstones`: optional (doc_id) set of deleted docs (incremental-update
  * segments, reference colbert/index_updater.py:28-250) — filtered out of
  * every decoded posting stream, so deleted docs can neither score nor
  * contribute to WAND's θ.
  *
  * `wandBoundScale`: ≥1 multiplier applied to stored block-max bounds in
  * the pruned path. Block maxima are computed with the avgdl at BUILD time;
  * if segments later raise the corpus avgdl, tf-saturation values can
  * exceed the stored maxima by at most avgdl_now/avgdl_build (the
  * k1·b·dl/avgdl denominator term shrinks) — scaling the bounds by that
  * ratio keeps pruning admissible without rewriting blocks. */
case class Bm25IndexTables(
    blocks: DataFrame,
    termStats: DataFrame,
    corpusStats: DataFrame,
    tombstones: Option[Tombstones] = None,
    wandBoundScale: Double = 1.0,
    maxDocIdHint: Option[Long] = None,
    termBuckets: Int = 0) {

  /** Blocks rows for a driver-compiled probe id set. On a bucketed layout
    * ([[graft.index.Bm25Params.termBuckets]] > 0) the term ids' derived
    * bucket set becomes a PARTITION filter: only the probed term-hash
    * directories are even listed, so at a 100 TB blocks table the scan
    * planner touches ~|query terms|/B of the files' footers instead of
    * all of them. The term_id In-filter still pushes into the row-group
    * stats within the surviving directories (flat-layout behavior). */
  def probeBlocks(termIds: Seq[Long]): DataFrame = {
    val byTerm = col("term_id").isin(termIds: _*)
    if (termBuckets > 0 && termIds.nonEmpty) {
      // same value as the build's pmod(term_id, B)
      val bs = termIds.map(id => (((id % termBuckets) + termBuckets) % termBuckets).toInt)
        .distinct
      blocks.filter(col("bucket").isin(bs: _*) && byTerm)
    } else blocks.filter(byTerm)
  }

  /** Doc-ID SPAN of the index — what block numbering actually covers
    * (block_no = doc_id/blockSpan). The live count under-states it on
    * merged indexes (tombstones / filtered segment gaps leave id holes),
    * which would make the WAND router see too few blocks and misroute
    * genuinely block-sparse queries onto the unpruned path; openMerged
    * sets the hint from the segments' max doc id. Plain builds assign
    * dense 0..n-1 ids, so the live count IS the span there. */
  def docIdSpan: Long = maxDocIdHint.fold(nDocs)(_ + 1L)

  /** corpusStats as a one-row LocalRelation, collected once per index
    * instance: the hot query paths crossJoin-broadcast the corpus stats
    * inside EVERY action, and for a persisted index each such broadcast
    * re-ran a parquet scan job. The value cannot change under an open
    * index (updates swap in a new instance).
    *
    * Used ONLY for driver-compiled query batches, which already collect
    * at compile time; distributed batches ([[Bm25Search.searchFull]]
    * etc.) keep the lazy corpusStats subtree so building their plans
    * stays action-free (the [[fromDocs]] laziness contract — first
    * touching this val runs a job). */
  lazy val corpusStatsLocal: DataFrame = {
    val spark = corpusStats.sparkSession
    spark.createDataFrame(
      java.util.Arrays.asList(corpusStats.collect(): _*), corpusStats.schema)
  }

  /** Live doc count — driver metadata for the WAND router, free once
    * [[corpusStatsLocal]] is materialized. */
  lazy val nDocs: Long = corpusStatsLocal.select(col("n_docs")).head.getLong(0)

  /** Decode posting blocks to (term, doc_id, tf, dl), dropping tombstoned
    * docs. ALL search paths must decode through this. */
  def decode(blocksSubset: DataFrame): DataFrame = {
    val decoded = graft.index.Bm25Index.decodeBlocks(blocksSubset)
    tombstones match {
      case Some(t) => t.subtractFrom(decoded)
      case None => decoded
    }
  }
}

object Bm25IndexTables {
  /** Build all tables lazily from a (doc_id, text) corpus — single
    * Catalyst plan end-to-end, nothing materialized until an action. */
  def fromDocs(docs: DataFrame, p: Bm25Params = Bm25Params()): Bm25IndexTables = {
    val postings = Bm25Index.postingsWithDl(docs)
    val corpus = Bm25Index.corpusStats(Bm25Index.docStats(docs))
    Bm25IndexTables(
      blocks = Bm25Index.blocks(postings, corpus, p),
      termStats = Bm25Index.termStats(postings, corpus, p.termIdSeed),
      corpusStats = corpus)
  }
}
