package graft.train

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.query.{Bm25IndexTables, Bm25Search}

/** Training-data assembly: length batching + reverse permutation,
  * triple selection, in-batch negative matrix, loss reductions. */
class TrainingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "spark merge join fast"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "spark merge"),
    (3L, "merge join"),
    (4L, "spark join merge sort"),
    (5L, "completely unrelated words here"),
    (6L, "spark spark spark"),
    (7L, "join the table"),
    (8L, "merge the stream"),
    (9L, "a b")).toDF("doc_id", "text")

  private lazy val index = Bm25IndexTables.fromDocs(docs)
  private lazy val queries = Seq((1L, "spark merge join"), (2L, "the fox")).toDF("qid", "text")

  test("lengthBatches: batches bounded, sorted by length, permutation restores order") {
    val out = Training.lengthBatches(docs, chunkSize = 8, bsize = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4)))
    assert(out.length == 10)
    // batch sizes ≤ bsize
    val sizes = out.groupBy(_._3).map(_._2.length)
    assert(sizes.forall(_ <= 4))
    // within a chunk, traversal in (batch_id, pos_in_batch) order is
    // non-decreasing in dl (the _sort_by_length contract)
    val chunk0 = out.filter(_._1 < 8).sortBy(r => (r._3, r._4)).map(_._2)
    assert(chunk0.toSeq == chunk0.sorted.toSeq)
    // restore_pos is the position in doc_id order within the chunk
    val restore = out.filter(_._1 < 8).sortBy(_._1).map(_._5)
    assert(restore.toSeq == (0 until 8))
    // the permutation round-trips: restore_pos is a bijection per chunk
    assert(out.filter(_._1 >= 8).map(_._5).sorted.toSeq == Seq(0, 1))
  }

  test("triplesFromRanking: pos is best-ranked relevant, negs ranked non-relevant") {
    val ranking = Seq(
      // qid 1: docs 4 (rank 1), 0 (rank 2), 2 (rank 3), 3 (rank 4)
      (1L, 4L, 1, 9.0), (1L, 0L, 2, 8.0), (1L, 2L, 3, 5.0), (1L, 3L, 4, 4.0),
      // qid 2: no relevant doc in ranking → no triples
      (2L, 9L, 1, 1.0)).toDF("qid", "doc_id", "rank", "score")
    val qrels = Seq((1L, 0L), (1L, 4L), (2L, 1L)).toDF("qid", "doc_id")
    val t = Training.triplesFromRanking(ranking, qrels, nway = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    assert(t.toSeq == Seq((1L, 0, 4L), (1L, 1, 2L), (1L, 2, 3L)))
  }

  test("inBatchScores: own negatives excluded, label on own positive, zero fill") {
    val triples = Seq(
      (1L, 0, 0L, 8.0), (1L, 1, 5L, 1.0),
      (2L, 0, 1L, 7.0), (2L, 1, 9L, 1.0)).toDF("qid", "way", "doc_id", "score")
    val ib = Training.inBatchScores(queries, triples, index)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byPair = ib.map(x => (x._1, x._2) -> (x._3, x._4)).toMap
    // 2 qids × 4 batch docs − 2 own negatives = 6 rows
    assert(ib.length == 6)
    assert(!byPair.contains((1L, 5L)) && !byPair.contains((2L, 9L)))
    assert(byPair((1L, 0L))._2 == 1 && byPair((2L, 1L))._2 == 1)
    // qid 2 ("the fox") shares no term with doc 0 ("spark merge join fast")
    assert(byPair((2L, 0L))._1 == 0.0 && byPair((2L, 0L))._2 == 0)
    // cross-pair scores match the engine's restricted search scores
    val full = Bm25Search.searchFull(queries, index, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    for (((q, d), (s, _)) <- byPair if s != 0.0)
      assert(math.abs(full((q, d)) - s) < 1e-9, s"pair ($q,$d)")
  }

  test("losses: CE/KL hand-check — KL zero when student equals teacher") {
    val nway = Seq(
      (1L, 0, 3.0, 3.0), (1L, 1, 1.0, 1.0),
      (2L, 0, 2.0, 4.0), (2L, 1, 2.0, 0.5)).toDF("qid", "way", "teacher", "student")
    val ib = Seq(
      (1L, 0L, 3.0, 1), (1L, 5L, 1.0, 0),
      (2L, 1L, 2.0, 1), (2L, 5L, 2.0, 0)).toDF("qid", "doc_id", "score", "label")
    val out = Training.losses(nway, ib)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    def softCe(pos: Double, all: Seq[Double]): Double = {
      val m = all.max; -(pos - m - math.log(all.map(x => math.exp(x - m)).sum))
    }
    // 1e-9 tolerance: the engine evaluates exp/ln as ExactMath's fixed
    // polynomials (~1e-14 of true libm), so losses track exact math
    assert(math.abs(out(1L)._1 - softCe(3.0, Seq(3.0, 1.0))) < 1e-9)
    assert(math.abs(out(1L)._2) < 1e-12) // teacher == student → KL = 0 exactly
    assert(out(2L)._2 > 0.0)             // diverging student → positive KL
    assert(math.abs(out(2L)._3 - softCe(2.0, Seq(2.0, 2.0))) < 1e-9)
    // CE with equal pos/neg scores = ln 2
    assert(math.abs(out(2L)._3 - math.log(2.0)) < 1e-9)
  }

  /** Driver-side replication of the loss contract's arithmetic, term for
    * term in the spec'd order (ExactMath polynomials, canonical folds) —
    * the cross-engine stability evidence: any IEEE-754 engine executing
    * the generated SQL produces EXACTLY these doubles. */
  private def replicate(nway: Seq[(Long, Int, Double, Double)],
                        ib: Seq[(Long, Long, Double, Int)]): Map[Long, (Double, Double, Double)] = {
    import ExactMath._
    val byQ = nway.groupBy(_._1)
    val ibByQ = ib.groupBy(_._1)
    (byQ.keySet intersect ibByQ.keySet).map { q =>
      val rows = byQ(q).sortBy(_._2) // way asc — the engine's sort_array order
      val ts = rows.map(r => snap4(r._3)) // inputs enter through the 4-grid snap
      val ss = rows.map(r => snap4(r._4))
      val mS = ss.max; val mT = ts.max
      val ets = ts.map(x => expExact(x - mT))
      val zs = ss.map(x => expExact(x - mS)).foldLeft(0.0)(_ + _)
      val zt = ets.foldLeft(0.0)(_ + _)
      val lzs = lnExact(zs); val lzt = lnExact(zt)
      val ce = -(ss.head - mS - lzs)
      val kl = ss.indices.foldLeft(0.0) { (a, i) =>
        a + ets(i) / zt * ((ts(i) - mT - lzt) - (ss(i) - mS - lzs))
      }
      val ibRows = ibByQ(q).sortBy(_._2) // doc_id asc
      val xs = ibRows.map(r => snap4(r._3))
      val mI = xs.max
      val zi = xs.map(x => expExact(x - mI)).foldLeft(0.0)(_ + _)
      val siPos = ibRows.collect { case (_, _, sc, 1) => snap4(sc) }.max
      val ibCe = -(siPos - mI - lnExact(zi))
      q -> ((ce, kl, ibCe))
    }.toMap
  }

  /** The cross-engine stability contract (VERDICT r4 #1): every
    * transcendental is a fixed-order polynomial over IEEE-exact +,−,×,÷
    * (ExactMath), identical SQL text on both gate engines. Verified by
    * replicating the arithmetic on the driver term-for-term and requiring
    * BIT equality (==, no tolerance) — including for inputs tuned so the
    * loss lands essentially ON a …00005 boundary of the final 4-decimal
    * snap, where a single libm ulp used to flip the 4th decimal. */
  test("losses equal the ExactMath replication bit-for-bit") {
    import ExactMath._
    // spec'd ib_ce for scores (a, label) vs 0.0 — used only to FIND an
    // adversarial input; the assertion below goes through replicate()
    def ibCe(a: Double): Double = {
      val m = math.max(a, 0.0)
      -(a - m - lnExact(expExact(a - m) + expExact(0.0 - m)))
    }
    // scan the 4-decimal input grid for the loss closest to a 0.00005
    // boundary — the adversarial case for the final snap4
    val aStar = (1 to 30000).map(_ / 10000.0)
      .minBy { a => val f = ibCe(a) * 10000.0; math.abs(f - math.floor(f) - 0.5) }
    val frac = { val f = ibCe(aStar) * 10000.0; math.abs(f - math.floor(f) - 0.5) }
    assert(frac < 1e-3, s"scan failed to land near a boundary: a=$aStar frac=$frac")
    val nwayRows = Seq(
      (1L, 0, aStar, aStar), (1L, 1, 0.0, 0.0),
      (2L, 0, 5.1234, 4.0001), (2L, 1, 3.2, 4.5), (2L, 2, 0.07, 0.07),
      (3L, 0, 2.5, 2.5)) // single-way qid: zs = 1 exactly, ln 1 = 0
    val ibRows = Seq(
      (1L, 0L, aStar, 1), (1L, 5L, 0.0, 0),
      (2L, 1L, 5.1234, 1), (2L, 5L, 2.75, 0), (2L, 9L, 0.0, 0),
      (3L, 2L, 2.5, 1), (3L, 3L, 2.4999, 0))
    val out = Training.losses(
      nwayRows.toDF("qid", "way", "teacher", "student"),
      ibRows.toDF("qid", "doc_id", "score", "label"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    val exp = replicate(nwayRows, ibRows)
    assert(out.keySet == exp.keySet)
    for ((q, (ce, kl, ib)) <- exp) {
      // bit equality, not tolerance: the engine must produce EXACTLY the
      // spec'd double, or two engines could disagree after the snap
      assert(out(q)._1 == ce, s"ce_nway qid=$q")
      assert(out(q)._2 == kl, s"kl_distill qid=$q")
      assert(out(q)._3 == ib, s"ib_ce qid=$q")
    }
    // the adversarial qid really sits on the knife edge AND snaps stably
    assert(snap4(out(1L)._3) == snap4(exp(1L)._3))
  }

  /** ADVICE r4: the scored-broadcast gate must cost ONE aggregation
    * action over the triples frame, not two separate count() jobs that
    * each re-execute the upstream pipeline per training batch. Pinned
    * relative to measured baselines (AQE splits one action into a
    * deterministic number of scheduler jobs, so absolute counts would be
    * brittle): jobs(inBatchScores) == jobs(compile) + jobs(one gate agg). */
  test("inBatchScores broadcast gate costs one aggregation action") {
    val triples = Seq(
      (1L, 0, 0L, 8.0), (1L, 1, 5L, 1.0),
      (2L, 0, 1L, 7.0), (2L, 1, 9L, 1.0)).toDF("qid", "way", "doc_id", "score")
    val sc = spark.sparkContext
    def jobsIn(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    // warm every path once so caching/JIT does not skew the baselines
    Training.inBatchScores(queries, triples, index)
    val qids = triples.select(col("qid")).distinct()
    val base = jobsIn("ib-gate-base") {
      Bm25Search.compile(queries.join(qids, Seq("qid"), "left_semi"),
        index.termStats, Bm25Search.lookupTerms(index.termStats))
      ()
    }
    val gateOnly = jobsIn("ib-gate-agg") {
      triples.agg(countDistinct(col("qid")), countDistinct(col("doc_id"))).head()
      ()
    }
    val n = jobsIn("ib-gate-call") {
      Training.inBatchScores(queries, triples, index)
      ()
    }
    assert(gateOnly >= 1)
    assert(n == base + gateOnly,
      s"inBatchScores ran $n jobs; expected compile ($base) + one gate agg ($gateOnly)")
  }

  /** Semantic correctness, not just spec-consistency: on random inputs
    * the polynomial path must agree with a plain libm softmax/CE/KL
    * reference within the polynomials' truncation error — the spec
    * computes the REAL losses, not merely a self-consistent function. */
  test("losses track a libm reference within truncation error on random inputs") {
    val rnd = new scala.util.Random(5)
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val nway = (1 to 40).flatMap { q =>
      val ways = 1 + rnd.nextInt(6)
      (0 until ways).map(w => (q.toLong, w, r4(rnd.nextDouble() * 20), r4(rnd.nextDouble() * 20)))
    }
    val ib = (1 to 40).flatMap { q =>
      val docs = 1 + rnd.nextInt(8)
      (0 until docs).map(d =>
        (q.toLong, d.toLong, r4(rnd.nextDouble() * 20), if (d == 0) 1 else 0))
    }
    val out = Training.losses(
      nway.toDF("qid", "way", "teacher", "student"),
      ib.toDF("qid", "doc_id", "score", "label"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(out.size == 40)
    def logSumExp(xs: Seq[Double]): Double = {
      val m = xs.max; m + math.log(xs.map(x => math.exp(x - m)).sum)
    }
    val nByQ = nway.groupBy(_._1)
    val iByQ = ib.groupBy(_._1)
    for (q <- out.keys) {
      val rows = nByQ(q).sortBy(_._2)
      val ts = rows.map(_._3); val ss = rows.map(_._4)
      val ceRef = -(ss.head - logSumExp(ss))
      val klRef = ts.indices.map { i =>
        val pt = math.exp(ts(i) - logSumExp(ts))
        pt * ((ts(i) - logSumExp(ts)) - (ss(i) - logSumExp(ss)))
      }.sum
      val xs = iByQ(q).sortBy(_._2).map(_._3)
      val ibRef = -(xs.head - logSumExp(xs)) // label sits on doc 0
      assert(math.abs(out(q)._1 - ceRef) < 1e-9, s"ce qid=$q")
      assert(math.abs(out(q)._2 - klRef) < 1e-9, s"kl qid=$q")
      assert(math.abs(out(q)._3 - ibRef) < 1e-9, s"ib qid=$q")
      assert(out(q)._1 >= -1e-12 && out(q)._3 >= -1e-12) // CE nonnegative
    }
  }

  test("losses are bit-identical across parallelism levels") {
    val rnd = new scala.util.Random(9)
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val nway = (1 to 25).flatMap(q => (0 until 4).map(w =>
      (q.toLong, w, r4(rnd.nextDouble() * 15), r4(rnd.nextDouble() * 15))))
    val ib = (1 to 25).flatMap(q => (0 until 6).map(d =>
      (q.toLong, d.toLong, r4(rnd.nextDouble() * 15), if (d == 0) 1 else 0)))
    def run(parts: Int) = Training.losses(
      nway.toDF("qid", "way", "teacher", "student").repartition(parts),
      ib.toDF("qid", "doc_id", "score", "label").repartition(parts))
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val a = run(1); val b = run(7)
    assert(a.keySet == b.keySet)
    // canonical-order folds make the doubles BIT-equal, not merely close
    for (q <- a.keys; i <- 0 until 3) {
      val (x, y) = (a(q).productElement(i), b(q).productElement(i))
      assert(java.lang.Double.doubleToLongBits(x.asInstanceOf[Double]) ==
        java.lang.Double.doubleToLongBits(y.asInstanceOf[Double]), s"qid=$q col=$i")
    }
  }

  test("lengthBatches is identical across parallelism levels") {
    val a = Training.lengthBatches(docs.repartition(1), chunkSize = 8, bsize = 4)
      .collect().map(_.toSeq).sortBy(_.toString)
    val b = Training.lengthBatches(docs.repartition(7), chunkSize = 8, bsize = 4)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq)
  }
}
