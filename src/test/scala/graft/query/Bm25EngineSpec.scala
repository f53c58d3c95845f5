package graft.query

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.analysis.HtmlExtract
import graft.corpus.Synthesizer
import graft.eval.OracleBm25
import graft.index.Bm25Params

/** Rank-identity gate (SURVEY §5 items 3-4): engine top-k from the
  * compressed block index must be rank- AND score-identical (bit-exact)
  * to the exhaustive in-memory oracle, at every input partitioning, on
  * every ranked entry point (full / window / persisted / WAND-pruned /
  * pre-compiled). Lexical
  * analog of the reference e2e gate (colbert/tests/e2e_test.py:79). */
class Bm25EngineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val NDocs = 600L
  private val K = 10

  private lazy val pagesDf = Synthesizer.pages(spark, NDocs, 5).cache()
  private lazy val docsDf = pagesDf
    .filter(col("lang") === "en" || col("lang") =!= "") // keep all; filter op exercised elsewhere
    .select(col("url"), col("text"))
  private lazy val docsWithIds = Synthesizer.withDocIds(pagesDf)
    .select(col("doc_id"), col("text")).cache()

  private lazy val docsLocal: Seq[(Long, String)] =
    docsWithIds.as[(Long, String)].collect().toSeq.sortBy(_._1)

  private lazy val queriesLocal: Seq[(Long, String)] =
    Synthesizer.queries(spark, 40, NDocs).as[(Long, String)].collect().toSeq.sortBy(_._1)

  private lazy val oracle: Map[Long, Seq[(Long, Int, Double)]] =
    OracleBm25.topK(docsLocal, queriesLocal, K)

  private def collectRanking(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Int, Double)]] =
    df.select(col("qid"), col("doc_id"), col("rank"), col("score"))
      .as[(Long, Long, Int, Double)]
      .collect().toSeq
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.sortBy(_._3).map(r => (r._2, r._3, r._4)) }

  private def queriesDf = queriesLocal.toDF("qid", "text")

  // every ranked entry point whose rows must equal OracleBm25.topK bit for
  // bit; blockSpan 16 spreads the corpus over many blocks so the WAND row
  // routes its sparse-term queries through the pruned arm
  private val OracleP = Bm25Params(blockSpan = 16)
  private val rankedEntryPoints
      : Seq[(String, (org.apache.spark.sql.DataFrame, Bm25IndexTables) => org.apache.spark.sql.DataFrame)] =
    Seq(
      "searchFull" -> ((q, ix) => Bm25Search.searchFull(q, ix, K, OracleP)),
      "searchFullWindow" -> ((q, ix) => Bm25Search.searchFullWindow(q, ix, K, OracleP)),
      "searchPersisted" -> ((q, ix) => Bm25Search.searchPersisted(q, ix, K, OracleP)),
      "searchPersistedWand" -> ((q, ix) => Bm25Search.searchPersistedWand(q, ix, K, OracleP)),
      "compileQueriesLocal → searchPersistedCompiled" -> ((q, ix) =>
        Bm25Search.searchPersistedCompiled(
          Bm25Search.compileQueriesLocal(q, ix.termStats), ix, K, OracleP)))

  private lazy val oracleIndex = Bm25IndexTables.fromDocs(docsWithIds, OracleP)

  rankedEntryPoints.foreach { case (name, search) =>
    test(s"$name is rank- and score-identical to the exhaustive oracle") {
      val got = collectRanking(search(queriesDf, oracleIndex))
      val nonEmpty = oracle.filter(_._2.nonEmpty)
      assert(got.keySet == nonEmpty.keySet)
      nonEmpty.foreach { case (q, want) =>
        assert(got(q) == want, s"qid=$q\n got=${got(q)}\nwant=$want")
      }
    }
  }

  test("phrase search: adjacency required, scrambled order rejected, score = full BM25") {
    // planted corpus: doc 0 has the phrase; doc 1 has the same terms
    // NON-adjacent; doc 2 has them in the wrong order; doc 3 repeats the
    // phrase twice (higher tf); doc 4 shares no terms
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha x beta y gamma z"),
      (2L, "gamma beta alpha delta"),
      (3L, "alpha beta gamma then alpha beta gamma again"),
      (4L, "zeta eta theta")).toDF("doc_id", "text")
    val index = Bm25IndexTables.fromDocs(docs)
    val queries = Seq((1L, "alpha beta gamma")).toDF("qid", "text")
    val got = Bm25Search.searchPhrase(queries, index, docs, 10)
      .select(col("qid"), col("doc_id"), col("rank"), col("score"))
      .as[(Long, Long, Int, Double)].collect().sortBy(_._3)
    assert(got.map(_._2).toSeq == Seq(3L, 0L),
      s"phrase must match docs 3 and 0 only (3 first: higher tf): $got")
    // the phrase score is the ordinary BM25 sum over the phrase terms —
    // identical to searchFull's score for the same (query, doc)
    val full = Bm25Search.searchFull(queries, index, 10)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect().toMap
    got.foreach { case (_, d, _, s) => assert(s == full(d), s"doc $d score") }
    // a query with an out-of-vocabulary term can never phrase-match
    val oov = Seq((1L, "alpha beta nosuchterm")).toDF("qid", "text")
    assert(Bm25Search.searchPhrase(oov, index, docs, 10).count() == 0L)

    // the DISTRIBUTED branch (over-cap batches: no driver compile, no
    // broadcast hint on the verify join) returns identical rows
    val multi = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"),
      (3L, "gamma beta"), (4L, "zeta eta theta")).toDF("qid", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("doc_id"), col("rank"), col("score"))
        .as[(Long, Long, Int, Double)].collect().toSet
    val viaDriver = rows(Bm25Search.searchPhrase(multi, index, docs, 10))
    val viaDistributed = rows(Bm25Search.searchPhraseImpl(
      multi, index, docs, 10, graft.index.Bm25Params(), driverCap = 2))
    assert(viaDriver == viaDistributed && viaDriver.nonEmpty)
  }

  test("phrase adjacency string encoding ≡ sliding-window equality (randomized)") {
    // the verify stage encodes adjacency as separator-joined containment;
    // tokens are [\p{L}\p{Nd}]+ runs so the separator cannot occur inside
    // one — check the encoding against the naive sliding window over
    // random token sequences from a tiny alphabet (maximizing collisions
    // like "ab c" vs "a bc" that a separator-less concat would conflate)
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("a", "b", "ab", "ba", "aa", "c1", "1c", "x")
    def randToks(n: Int) = Vector.fill(n)(alphabet(rnd.nextInt(alphabet.size)))
    def enc(ts: Seq[String]) = ts.mkString(" ", " ", " ")
    for (_ <- 1 to 2000) {
      val doc = randToks(1 + rnd.nextInt(12))
      val pat = randToks(1 + rnd.nextInt(4))
      val naive = doc.sliding(pat.size).contains(pat)
      assert(enc(doc).contains(enc(pat)) == naive, s"doc=$doc pat=$pat")
    }
  }

  test("WAND-pruned path ≡ full path (pruning is exact) and routing is non-trivial") {
    // blockSpan small enough that the corpus spans many blocks — the
    // adaptive router then sends sparse-term queries down the WAND path
    // and dense-term queries down the full path; with the default 8192
    // span this corpus is a single block and everything would route full,
    // exercising nothing
    val p = Bm25Params(blockSpan = 16)
    val index = Bm25IndexTables.fromDocs(docsWithIds, p)
    val full = collectRanking(Bm25Search.searchFull(queriesDf, index, K, p))
    val wand = collectRanking(Bm25Search.searchPersistedWand(queriesDf, index, K, p))
    assert(wand == full)

    // the split must actually exercise BOTH routes on this corpus
    val nBlocks = math.max(1L, (NDocs + p.blockSpan - 1) / p.blockSpan)
    val qterms = Bm25Search.compileQueries(queriesDf, index.termStats)
      .select(col("qid"), col("df")).as[(Long, Long)].collect()
    val minDf = qterms.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).min }
    val routedWand = minDf.count { case (_, d) => 2L * d < nBlocks }
    assert(routedWand > 0, "no query routed to the WAND path — routing untested")
    assert(routedWand < minDf.size,
      "every query routed to the WAND path — full-route untested")

    // the >cap lazy-candidate fallback (candidate set too large for a
    // driver LocalRelation) must return the same rows as the local path
    val batch = Bm25Search.localBatch(Bm25Search.compileQueriesLocal(queriesDf, index.termStats))
    val viaLocal = collectRanking(
      Bm25Search.searchWandCompiled(batch, index, K, p))
    val viaLazy = collectRanking(
      Bm25Search.searchWandCompiled(batch, index, K, p, maxLocalCand = 0))
    assert(viaLazy == viaLocal,
      "lazy >cap candidate fallback diverges from the materialized path")
  }

  test("results are bit-identical under different input partitioning (local[8]≡local[32] analog)") {
    val r3 = collectRanking(Bm25Search.searchFull(
      queriesDf, Bm25IndexTables.fromDocs(docsWithIds.repartition(3)), K))
    val r17 = collectRanking(Bm25Search.searchFull(
      queriesDf, Bm25IndexTables.fromDocs(docsWithIds.repartition(17)), K))
    assert(r3 == r17)
  }

  test("html extraction reproduces text byte-identically per url (input_hint invariant)") {
    val bad = pagesDf
      .select(col("url"), col("text"), HtmlExtract.html_extract(col("html")).as("extracted"))
      .filter(col("text") =!= col("extracted"))
      .count()
    assert(bad == 0L)
  }

  test("block blockSpan variation does not change results (coalesce-equivalence analog)") {
    val small = collectRanking(Bm25Search.searchFull(
      queriesDf, Bm25IndexTables.fromDocs(docsWithIds, Bm25Params(blockSpan = 64)), K))
    val large = collectRanking(Bm25Search.searchFull(
      queriesDf, Bm25IndexTables.fromDocs(docsWithIds, Bm25Params(blockSpan = 1 << 20)), K))
    assert(small == large)
  }

  test("extraction spans: first-occurrence offsets are exact, partials sum to the full score") {
    val index = Bm25IndexTables.fromDocs(docsWithIds)
    val full = Bm25Search.searchFull(queriesDf, index, K)
    val ext = Bm25Search.searchExtractions(queriesDf, index, docsWithIds, K)
    val textById = docsLocal.toMap
    val rows = ext.select(col("qid"), col("doc_id"), col("rank"), col("term"),
        col("token_pos"), col("start_char"), col("end_char"), col("partial"))
      .as[(Long, Long, Int, String, Int, Int, Int, Double)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (_, d, _, term, pos, st, en, _) =>
      val text = textById(d)
      assert(text.substring(st, en).toLowerCase == term,
        s"span [$st,$en) of doc $d is not '$term'")
      val toks = graft.analysis.Tokenizer.tokenizeWithOffsets(text, 220)
      assert(toks(pos) == ((term, st, en)), s"token_pos $pos mismatch in doc $d")
      assert(toks.indexWhere(_._1 == term) == pos,
        s"'$term' span in doc $d is not the FIRST occurrence")
    }
    // every reported span term really drives the score: per-(qid,doc)
    // partials sum to the searchFull score (same tf/dl/avgdl arithmetic;
    // summation order differs, hence the 1e-9 tolerance instead of ==)
    val scores = full.select(col("qid"), col("doc_id"), col("score"))
      .as[(Long, Long, Double)].collect()
      .map { case (q, d, s0) => (q, d) -> s0 }.toMap
    val sums = rows.groupBy(r => (r._1, r._2)).map { case (k, rs) => k -> rs.map(_._8).sum }
    assert(sums.keySet == scores.keySet)
    sums.foreach { case (k, s0) =>
      assert(math.abs(s0 - scores(k)) < 1e-9, s"partial sum != score for $k")
    }
  }

  test("oversized batches skip the driver compile; fallback rows ≡ driver-compiled rows") {
    // collectBatch is the size gate for the driver compile: over
    // the cap it must return None (→ the fully distributed plan), under
    // it the exact rows. Exercised with a tiny cap so the test needs no
    // 4096-query fixture.
    assert(Bm25Search.collectBatch(queriesDf, cap = 5).isEmpty)
    val got = Bm25Search.collectBatch(queriesDf, cap = queriesLocal.size)
    assert(got.map(_.toSet).contains(queriesLocal.toSet))
    // both branches of the persisted path produce identical rankings:
    // searchFull IS the >cap fallback target
    val index = Bm25IndexTables.fromDocs(docsWithIds)
    val viaPersisted = collectRanking(Bm25Search.searchPersisted(queriesDf, index, K))
    val viaFull = collectRanking(Bm25Search.searchFull(queriesDf, index, K))
    assert(viaPersisted == viaFull)
  }

  test("driver compile ≡ compileQueries (distributed) rows") {
    // searchPersisted, the WAND route and the training scorers compile
    // driver-sized batches on the driver; that branch must resolve exactly
    // the rows the distributed plan produces
    val index = Bm25IndexTables.fromDocs(docsWithIds)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("term"), col("qtf"), col("term_id"), col("idf"), col("df"))
        .as[(Long, String, Int, Long, Double, Long)].collect().toSet
    def viaDriver(q: org.apache.spark.sql.DataFrame) =
      Bm25Search.compile(q, index.termStats, Bm25Search.lookupTerms(index.termStats)) match {
        case b: Bm25Search.LocalBatch => rows(b.qterms)
        case other => fail(s"driver-sized batch compiled as $other")
      }
    assert(viaDriver(queriesDf) == rows(Bm25Search.compileQueries(queriesDf, index.termStats)))
    // duplicated qid rows: the driver lane must merge multiplicity across
    // rows exactly like the distributed groupBy(qid, term)
    val dup = queriesDf.union(queriesDf.limit(2))
    assert(viaDriver(dup) == rows(Bm25Search.compileQueries(dup, index.termStats)))
  }

  test("randomized corpora: phrase ≡ naive sliding-window oracle across seeds") {
    import graft.analysis.Tokenizer
    // phrase queries lifted from random doc positions (guaranteed in-vocab
    // and mostly matching); expected = docs whose truncated token array
    // contains the phrase consecutively, ranked by the exhaustive
    // OracleBm25 scores — exact == on scores (the engine's phrase score
    // IS its full BM25 sum, bit-stable vs the oracle)
    (1 to 3).foreach { seed =>
      val pages = Synthesizer.pages(spark, 120, 3, seed = seed.toLong * 500 + 3)
      val ids = Synthesizer.withDocIds(pages).select(col("doc_id"), col("text"))
      val local = ids.as[(Long, String)].collect().toSeq.sortBy(_._1)
      val rnd = new scala.util.Random(seed)
      val phrases = (0 until 8).flatMap { qi =>
        val (_, text) = local(rnd.nextInt(local.size))
        val ts = Tokenizer.tokenize(text, Tokenizer.DocMaxTerms)
        if (ts.length < 4) None
        else {
          val j = rnd.nextInt(ts.length - 3)
          Some((qi.toLong, ts.slice(j, j + 3).mkString(" ")))
        }
      }
      val index = Bm25IndexTables.fromDocs(ids)
      val got = collectRanking(Bm25Search.searchPhrase(
        phrases.toDF("qid", "text"), index, ids, K))
      val fullRanked = OracleBm25.topK(local, phrases, local.size)
      phrases.foreach { case (qid, ptext) =>
        val pt = Tokenizer.tokenize(ptext, Tokenizer.QueryMaxTerms).toSeq
        val adjacent = local.filter { case (_, t) =>
          Tokenizer.tokenize(t, Tokenizer.DocMaxTerms).toSeq
            .sliding(pt.size).contains(pt)
        }.map(_._1).toSet
        val want = fullRanked.getOrElse(qid, Seq.empty)
          .filter(r => adjacent(r._1))
          .sortBy(r => (-r._3, r._1))
          .take(K).zipWithIndex
          .map { case ((d, _, s), i) => (d, i + 1, s) }
        assert(got.getOrElse(qid, Seq.empty) == want,
          s"seed=$seed qid=$qid phrase='$ptext'")
      }
    }
  }

  test("randomized corpora: WAND ≡ full across 5 seeds (pruning never drops a top-k doc)") {
    // blockSpan 8 over 150 docs → ~19 blocks, so the router genuinely
    // splits sparse-term queries onto the WAND path per corpus
    val p = Bm25Params(blockSpan = 8)
    (1 to 5).foreach { seed =>
      val docs = Synthesizer.pages(spark, 150, 3, seed = seed.toLong * 1000 + 7)
      val ids = Synthesizer.withDocIds(docs).select(col("doc_id"), col("text"))
      val qs = Synthesizer.queries(spark, 12, 150, seed = seed.toLong * 77 + 1)
      val index = Bm25IndexTables.fromDocs(ids, p)
      val full = collectRanking(Bm25Search.searchFull(qs, index, 5, p))
      val wand = collectRanking(Bm25Search.searchPersistedWand(qs, index, 5, p))
      assert(wand == full, s"seed=$seed")
    }
  }
}
