package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{LocalFiles, SparkTestSession}
import graft.corpus.Synthesizer

/** Training-data pipeline operators: planted duplicates must be found by
  * every dedup method; similarity search must agree with a naive local
  * recomputation. (Value-level parity with DuckDB is covered by the
  * driver-style oracle run; these tests pin the SEMANTICS on corpora with
  * known structure.) */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 120 base docs + planted exact clones (300+i ~ i) and near-clones with
    * one token appended (400+i ~ i). */
  private lazy val docs = {
    val base = Synthesizer.withDocIds(Synthesizer.pages(spark, 120, 4))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val exactClones = base.take(10).map { case (id, t) => (300L + id, t) }
    // PREpend the edit: appending can vanish under the 220-token doc
    // truncation, turning a "near" clone into an exact one
    val nearClones = base.take(10).map { case (id, t) => (400L + id, "extraword " + t) }
    (base ++ exactClones ++ nearClones).toDF("doc_id", "text").cache()
  }

  test("exact dedup finds exactly the planted clone groups") {
    val dups = Dedup.exactDups(docs)
      .select(col("doc_id"), col("canon_id")).as[(Long, Long)].collect().toSet
    val expected = (0L until 10L).flatMap(i => Seq((i, i), (300L + i, i))).toSet
    assert(dups == expected)
  }

  test("minhash LSH finds planted near-clones (1-token edit)") {
    val pairs = Dedup.minhashPairs(docs)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    (0L until 10L).foreach { i =>
      assert(pairs.contains((i, 300L + i)), s"exact clone pair $i missing")
      assert(pairs.contains((i, 400L + i)), s"near clone pair $i missing")
    }
  }

  test("n-gram jaccard scores planted pairs high and is symmetric-complete") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    (0L until 10L).foreach { i =>
      assert(pairs.get((i, 300L + i)).contains(1.0), s"exact clone $i should have J=1")
      assert(pairs.getOrElse((i, 400L + i), 0.0) > 0.8, s"near clone $i should have J>0.8")
    }
  }

  test("simhash: exact clones have distance 0; pairs respect the hamming bound") {
    val res = Dedup.simhashPairs(docs).as[(Long, Long, Int)].collect()
    val asMap = res.map(r => (r._1, r._2) -> r._3).toMap
    (0L until 10L).foreach { i =>
      assert(asMap.get((i, 300L + i)).contains(0), s"exact clone $i distance != 0")
    }
    assert(res.forall(_._3 <= 3))
  }

  test("connected components: chain, clique and pair resolve to min-id labels") {
    // a 64-node chain has diameter 63 — naive propagation needs 63 rounds,
    // pointer jumping must land it well inside maxIter
    val chain = (0L until 63L).map(i => (i, i + 1))
    val clique = Seq((100L, 101L), (100L, 102L), (101L, 102L))
    val pair = Seq((200L, 201L))
    val pairs = (chain ++ clique ++ pair).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    (0L to 63L).foreach(i => assert(labels(i) == 0L, s"chain node $i"))
    Seq(100L, 101L, 102L).foreach(i => assert(labels(i) == 100L))
    Seq(200L, 201L).foreach(i => assert(labels(i) == 200L))
    assert(labels.size == 64 + 3 + 2)
  }

  test("connected components match a local union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 120
      val edges = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // local union-find oracle with min-id labels
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inGraph = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expected = inGraph.map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("connected components: reliable checkpoint mode matches localCheckpoint") {
    // multi-round fixture: a 64-node chain needs several pointer-jumping
    // rounds, so the reliable path truncates lineage repeatedly
    val chain = (0L until 63L).map(i => (i, i + 1)) ++ Seq((200L, 201L))
    val pairs = chain.toDF("doc_a", "doc_b")
    // hard precondition, not a silent skip: the refusal branch below is
    // only meaningful while no checkpoint dir is set — if suite ordering
    // ever changes that, this must fail loudly so the test gets moved
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "another test set a checkpoint dir; the refusal branch needs a clean context")
    // no checkpoint dir configured → must refuse, not silently recompute
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, reliableCheckpoint = true)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = Dedup.connectedComponents(pairs, reliableCheckpoint = true)
        .as[(Long, Long)].collect().toMap
      val local = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      assert(reliable == local)
      assert((0L to 63L).forall(reliable(_) == 0L))
    } finally {
      // results are collected; reclaim the checkpoint files. SparkContext
      // has no public unset, so the setting stays: leave the directory it
      // points at (a uuid child of `dir`) existing and empty, so a later
      // checkpoint in this JVM never finds a deleted path
      val ckpt = new java.net.URI(spark.sparkContext.getCheckpointDir.get)
      LocalFiles.deleteRecursively(dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckpt))
    }
  }

  test("neardup clusters: planted clone triples resolve with the longest doc as keeper") {
    val rows = Dedup.neardupClusters(docs)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // tokenized length is capped at 220: a base doc at the cap makes the
    // prepended near clone the SAME length and the tie-break (min id)
    // keeps the base doc; below the cap the near clone is longest
    val baseLen = docs.select(col("doc_id"),
      size(graft.analysis.Tokenizer.tokenizeDoc(col("text"))).as("n"))
      .as[(Long, Int)].collect().toMap
    (0L until 10L).foreach { i =>
      // {i, 300+i (exact clone), 400+i (near clone, one extra token)}
      val expectedKeeper = if (baseLen(400L + i) > baseLen(i)) 400L + i else i
      Seq(i, 300L + i, 400L + i).foreach { d =>
        val (cid, size, keeper) = rows(d)
        assert(cid == i, s"doc $d cluster_id")
        assert(size == 3L, s"doc $d cluster_size")
        assert(keeper == expectedKeeper, s"doc $d keeper (longest copy wins)")
      }
    }
  }

  test("jaccard df cap drops boilerplate shingles from candidates AND counts") {
    // every doc shares the same boilerplate prefix; each pair also shares
    // nothing rare — with the cap at 1 every shared shingle exceeds df=1
    // and no pair can form; with a high cap the clones score J=1
    val withCap = Dedup.ngramJaccardPairs(docs, threshold = 0.5, maxShingleDf = 1)
    assert(withCap.count() == 0L, "df<=1 shingles can never be shared by a pair")
    val noCap = Dedup.ngramJaccardPairs(docs, threshold = 0.5, maxShingleDf = 1000000)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    (0L until 10L).foreach(i => assert(noCap.contains((i, 300L + i))))
  }

  test("bounded collect: an over-cap bucket drops without truncating survivors") {
    // one boilerplate cluster of 40 clones (every band bucket overflows a
    // cap of 8) plus one small cluster of 3 clones: the big cluster must
    // vanish entirely while the small one still yields ALL 3 of its pairs
    // — i.e. the capped buffer never truncates a SURVIVING bucket.
    val rows =
      (0L until 40L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta")) ++
      (100L until 103L).map(i => (i, "iota kappa lambda mu nu xi omicron pi rho"))
    val d = rows.toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(d, maxBucket = 8)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L), (100L, 102L), (101L, 102L)))
  }

  test("hash sampling/mixing: deterministic, rate-accurate, shuffle-free") {
    import java.security.MessageDigest
    val n = 4000L
    val rows = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("src"), (col("id") % 4).cast("string")).as("source"))
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1) // src3 dropped
    val mixed = Sampling.mixBySource(rows, col("source"), col("doc_id"), rates, "t-seed")
    val got = mixed.select(col("doc_id"), col("source")).as[(Long, String)].collect().toSet

    // parity with a local md5 recomputation of the same rule
    val md = MessageDigest.getInstance("MD5")
    def hex8(s: String) =
      md.digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
    val want = (0L until n).flatMap { id =>
      val src = s"src${id % 4}"
      rates.get(src).collect {
        case r if r >= 1.0 || hex8(s"t-seed|$id") < Sampling.hexThreshold(r) => (id, src)
      }
    }.toSet
    assert(got == want, "mix disagrees with local md5 recomputation")

    // rates hold to a few percent at n=1000/source
    val bySrc = got.groupBy(_._2).view.mapValues(_.size.toDouble / (n / 4)).toMap
    assert(bySrc("src0") == 1.0)
    assert(math.abs(bySrc("src1") - 0.5) < 0.05, s"src1 rate ${bySrc("src1")}")
    assert(math.abs(bySrc("src2") - 0.1) < 0.03, s"src2 rate ${bySrc("src2")}")
    assert(!bySrc.contains("src3"), "unconfigured source must drop")

    // identical selection at any parallelism, and a pure narrow plan
    val again = Sampling.mixBySource(rows.repartition(13), col("source"),
      col("doc_id"), rates, "t-seed").as[(Long, String)].collect().toSet
    assert(again == got)
    val plan = mixed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n${plan.take(500)}")
  }

  test("decontamination flags exactly the docs sharing benchmark shingles") {
    // benchmark = the 10 base docs that have exact clones planted at
    // 300+i and near-clones at 400+i: every clone shares (nearly) all
    // its trigrams with the benchmark and must be flagged; docs 10..119
    // are independent synthetic pages and must not be
    val bench = docs.filter(col("doc_id") < 10)
    val corpus = docs.filter(col("doc_id") >= 300)
    val flagged = Dedup.contaminated(corpus, bench, n = 3, minOverlap = 2)
      .select(col("doc_id"), col("overlap")).as[(Long, Long)].collect().toMap
    (0L until 10L).foreach { i =>
      assert(flagged.contains(300L + i), s"exact clone ${300 + i} not flagged")
      assert(flagged.contains(400L + i), s"near clone ${400 + i} not flagged")
    }
    // overlap counts equal a local recomputation over distinct trigrams
    val shLocal = docs.select(col("doc_id"),
        Dedup.shingles(graft.analysis.Tokenizer.tokenizeDoc(col("text")), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap.view.mapValues(_.toSet)
    val benchSh = (0L until 10L).flatMap(shLocal(_)).toSet
    flagged.foreach { case (id, n) =>
      assert(n == shLocal(id).count(benchSh.contains), s"overlap mismatch for $id")
    }
    // scale shape: the benchmark side must broadcast (corpus shingles are
    // never shuffled by the probe join)
    val plan = Dedup.contaminated(corpus, bench).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("simhash bucket cap bounds candidate generation") {
    // maxBucket=1 leaves no bucket with >=2 members -> zero candidates
    assert(Dedup.simhashPairs(docs, maxBucket = 1).count() == 0L)
    // plans stay pair-bounded: the generator is a grouped collect, never a
    // bucket self-join re-evaluating the signature pipeline
    val plan = Dedup.simhashPairs(docs).queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesianproduct"), plan.take(500))
  }

  test("trained IVF recall vs brute force is usable at nprobe=4") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val ivf = Similarity.ivfTopK(emb, qs, 10)
      .select(col("qid"), col("vec_id")).as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, qs, 10)
      .select(col("qid"), col("vec_id")).as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"IVF recall@10 vs brute (k=sqrt(N), nprobe=4): $recall%.3f")
    assert(recall >= 0.5, f"recall collapsed: $recall%.3f")
  }

  test("LSH ANN: exact clone is always a candidate and ranks first") {
    // identical embeddings get identical bucket arrays in every table, so
    // the clone is a guaranteed candidate — the deterministic core of the
    // LSH contract (recall on non-identical neighbors is probabilistic,
    // measured below)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val clone = emb.filter(col("vec_id") === 0L)
      .select(lit(9999L).as("vec_id"), col("embedding"), col("label"))
    val res = Similarity.lshTopK(emb.unionByName(clone), Seq(9999L), 5)
      .as[(Long, Long, Int, Double)].collect()
    assert(res.nonEmpty && res.head._2 == 0L && res.head._3 == 1,
      s"clone of vec 0 must rank first, got ${res.toSeq.take(3)}")
    assert(res.head._4 == 1.0, s"clone cosine must round to 1.0, got ${res.head._4}")
  }

  test("LSH ANN: planted high-cosine neighbors found; selective and parallelism-invariant") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // plant 10 high-cosine neighbors (deterministic ±0.003 per-dim nudges,
    // cosine ≈ 0.999): sign-projection LSH promises recall on THIS regime
    // (dedup-grade similarity, per-bit agreement 1−θ/π ≈ 0.99) — on this
    // corpus's random-ish "nearest" neighbors (cosine ~0.3, per-bit ~0.6)
    // no LSH config is both selective and complete, and that recall is
    // reported below as info, not asserted
    val planted = emb.filter(col("vec_id") < 10L).select(
      (col("vec_id") + 9000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        x + lit(0.003f) * (pmod(col("vec_id") + i, lit(3)) - 1).cast("float"))
        .as("embedding"),
      col("label"))
    val all = emb.unionByName(planted)
    val qs = (9000L until 9010L).toSeq
    val found = Similarity.lshTopK(all, qs, 5)
      .filter(col("vec_id") === col("qid") - 9000L).count()
    assert(found == 10L, s"only $found/10 planted neighbors retrieved")

    // selectivity: candidates scanned per query stay a small corpus slice
    // (the point of 6-bit buckets — ~4·N/64 before table overlap)
    val candFrac = Similarity.lshCandidates(emb, Seq(0L, 1L, 2L, 3L, 4L))
      .count().toDouble / (5 * 500)
    info(f"LSH candidate fraction (4 tables x 6 bits): $candFrac%.3f")
    assert(candFrac <= 0.3, f"bucketing not selective: $candFrac%.3f")

    // random-data recall, informational (see comment above)
    val brute = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 10)
      .select(col("qid"), col("vec_id")).as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, Seq(0L, 1L, 2L), 10)
      .select(col("qid"), col("vec_id")).as[(Long, Long)].collect().toSet
    info(f"LSH recall@10 on random-ish neighbors: ${lsh.intersect(brute).size.toDouble / brute.size}%.3f")

    // bucketing is parallelism-invariant (pure per-row integer math):
    // identical result set at a different partitioning
    val repart = Similarity.lshTopK(emb.repartition(7), Seq(0L, 1L, 2L), 10)
      .select(col("qid"), col("vec_id")).as[(Long, Long)].collect().toSet
    assert(repart == lsh, "LSH result must not depend on partitioning")
  }

  test("lsh_buckets: shape, range, and null semantics") {
    import graft.pipeline.LshSignature.lsh_buckets
    val df = Seq(
      (1L, Some(Array(0.5f, -0.25f, 0.125f))),
      (2L, Some(Array.empty[Float])),
      (3L, None)
    ).toDF("id", "embedding")
    val out = df.select(col("id"), lsh_buckets(col("embedding"), 4, 6).as("b"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(out(2L).isEmpty && out(3L).isEmpty, "empty/null embedding -> null")
    val b = out(1L).get
    assert(b.length == 4, "one bucket id per table")
    assert(b.forall(x => x >= 0L && x < 64L), s"bucket ids must fit 6 bits: $b")
    // fixed-point floor semantics: scaling inputs by 1e-9 collapses every
    // ei to 0 or -1 — buckets become input-independent (all-ones or
    // sign-flip constants), proving the integer pipeline, not float math
    val tiny = Seq((1L, Array(1e-9f, -1e-9f, 1e-9f))).toDF("id", "embedding")
      .select(lsh_buckets(col("embedding"), 4, 6)).as[Seq[Long]].head()
    assert(tiny.length == 4)
  }

  test("repetition ratios match hand-computed documents") {
    val df = Seq(
      (1L, "a a b"),
      (2L, "a a a"),
      (3L, "a")
    ).toDF("doc_id", "text")
    val got = TextStats.repetition(df)
      .as[(Long, Int, Double, Double, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // "a a b": 3 tokens, 2 distinct, top "a" 2/3, bigrams {"a a","a b"} all distinct
    assert(got(1L) == ((1L, 3, 0.666667, 0.666667, Some(0.0))))
    // "a a a": bigrams ["a a","a a"] -> 1 distinct of 2 -> dup 0.5
    assert(got(2L) == ((2L, 3, 0.333333, 1.0, Some(0.5))))
    // single token: no bigrams -> null
    assert(got(3L) == ((3L, 1, 1.0, 1.0, None)))
  }

  test("persisted IVF model round-trips and searches identically") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-model").toString
    try {
      Similarity.saveIvf(spark, emb, dir)
      val reopened = Similarity.openIvf(spark, dir)
      val qs = Seq(0L, 1L, 2L, 3L, 4L)
      val fresh = Similarity.ivfTopK(emb, qs, 10, 4, Similarity.trainedIvf(emb))
        .as[(Long, Long, Int, Double)].collect().toSet
      val persisted = Similarity.ivfTopK(emb, qs, 10, 4, reopened)
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(persisted == fresh,
        "persisted model must reproduce the fresh model's ranking exactly")
      // the manifests commit atomically — a partial write must not open
      val bad = java.nio.file.Files.createTempDirectory("graft-ivf-bad").toString
      assertThrows[IllegalArgumentException](Similarity.openIvf(spark, bad))
    } finally LocalFiles.deleteRecursively(dir)
  }

  test("embedding near-dups: every emitted pair verifies against local cosine") {
    val emb = (0 until 60).map { i =>
      // two planted near-identical vectors: 50 ≈ 0
      val base = Array.tabulate(8)(d => math.sin(i * 17 + d * 3).toFloat)
      (i.toLong, i % 5, if (i == 50) Array.tabulate(8)(d => math.sin(d * 3).toFloat * 1.001f) else base)
    }.toDF("vec_id", "label", "embedding")
    val got = Similarity.embeddingNearDups(emb, 0.999)
      .select(col("vec_a"), col("vec_b")).as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 50L)), s"planted near-identical pair missing: $got")
  }

  test("brute-force ANN: ranks agree with a local exhaustive recomputation") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, i % 4, Array.tabulate(8)(d => math.cos(i * 31 + d * 7).toFloat))
    }
    val emb = vecs.toDF("vec_id", "label", "embedding")
    val got = Similarity.bruteForceTopK(emb, Seq(0L, 1L), 5)
      .select(col("qid"), col("vec_id"), col("rank")).as[(Long, Long, Int)]
      .collect().toSet

    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val byId = vecs.map(v => v._1 -> v._3).toMap
    val want = Seq(0L, 1L).flatMap { q =>
      vecs.filter(_._1 != q)
        .map(v => (v._1, cos(byId(q), v._3)))
        .sortBy { case (id, s) => (-math.rint(s * 1e6) / 1e6, id) }
        .take(5).zipWithIndex
        .map { case ((id, _), r) => (q, id, r + 1) }
    }.toSet
    assert(got == want)
  }

  test("IVF ANN returns a subset of brute-force candidates with correct sims") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivf = Similarity.ivfTopK(emb, Seq(0L, 1L, 2L), 10)
      .select(col("qid"), col("vec_id"), col("sim")).as[(Long, Long, Double)].collect()
    val brute = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 500)
      .select(col("qid"), col("vec_id"), col("sim")).as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    ivf.foreach { case (q, v, s) =>
      assert(brute.get((q, v)).contains(s), s"sim mismatch for ($q,$v)")
    }
  }
}
