package graft

import java.nio.file.Files

import graft.corpus.Synthesizer
import graft.index.IndexBuilder
import graft.query.Bm25Search

/** One isolated scaling measurement: `ScaleRunner <cpus> <nDocs> <pagesDir>`
  * builds the full persisted index over the PRE-WRITTEN pages parquet at
  * local[cpus] (after a small warmup build) and prints ONE line:
  * `SCALE <cpus> <build_sec> <query_sec> <p50_sec>`.
  *
  * Run in its OWN JVM by Bench — successive SparkSessions inside one JVM
  * measurably degrade (accumulated codegen/metaspace/GC state: observed
  * 3× inflation by the fifth session), so each measurement forks, exactly
  * like one spark-submit per cluster size would. Bench additionally pins
  * the fork to `cpus` physical cores (taskset) and caps the JVM's visible
  * processor count, so GC/JIT/netty thread pools size like they would on
  * a real N-core executor NODE instead of borrowing all 32 machine cores
  * — without the cap the low-core baseline is serviced by 32-core JVM
  * machinery and the measured scaling ratio is fiction in both directions.
  *
  * The input corpus is synthesized and written ONCE by the parent (both
  * parallelism levels read identical parquet bytes — north-rule "same
  * input"); synthesis cost is not indexing throughput.
  */
object ScaleRunner {

  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val nDocs = args(1).toLong
    val pagesDir = args(2)
    // local-mode shuffle never crosses a network: lz4-compressing it
    // only spends CPU and memory-bus bandwidth (the contended resource
    // at full machine width) to shrink writes to the page cache.
    // Measured at 1M docs: blocks stage 24.8->20.9 s @8, 8.3->7.2 s @32.
    // A real multi-node cluster SHOULD keep compression on for its
    // network shuffles; this conf models a node-local NVMe shuffle,
    // applied identically to both arms of the pair.
    val spark = Bench.session(cpus, "spark.shuffle.compress" -> "false")
    // warmup at 1/10 scale: enough docs that C2 fully compiles the build's
    // generated code and the heap reaches its working size BEFORE the
    // timed builds (measured: an under-warmed first build runs 2-10x slow,
    // and with ActiveProcessorCount=2 the compiler has few threads)
    val warmDir = Files.createTempDirectory(s"graft-warm-$cpus").toString
    val dirs = scala.collection.mutable.ArrayBuffer[String](warmDir)
    // a crashed measurement must not leak tens of GB of temp indexes (the
    // VM disk filled after a day of probing) — cleanup runs on EVERY exit
    try {
    IndexBuilder.build(spark, Synthesizer.pages(spark, math.max(2000L, nDocs / 10), cpus),
      warmDir, auditExtraction = false)
    val pages = spark.read.parquet(pagesDir)
    // min of seven timed builds in the SAME session: repeated builds
    // within one session are stable (unlike across sessions), and this VM
    // shows EPISODIC ~30-60s contention windows in which the identical
    // build runs ~2x slow (measured: 14,24,14,24,14 s patterns at 8
    // cores) — the min over several reliably lands outside a bad window,
    // where min-of-3 was a coin flip. Seven now costs what five did
    // before the build dropped the postings materialization (~28%).
    var dir = ""
    val buildSec = (1 to 7).map { r =>
      dir = Files.createTempDirectory(s"graft-scale-$cpus-$r").toString
      dirs += dir
      val t0 = System.nanoTime()
      val reps = IndexBuilder.build(spark, pages, dir, auditExtraction = false)
      val t = (System.nanoTime() - t0) / 1e9
      // per-stage breakdown (diagnostic; the parent's regex reads only the
      // SCALE line) — what to attack when the N→4N ratio sags
      System.err.println(f"STAGES $cpus run$r total=$t%.2f " +
        reps.map(x => f"${x.stage}=${x.seconds}%.2f").mkString(" "))
      t
    }.min
    val index = IndexBuilder.open(spark, dir)
    val queries = Synthesizer.queries(spark, 40, nDocs)
    // min of 2: the serving measurement is warm-session by contract (the
    // reference times repeated queries on a resident index,
    // searcher.py:101-114), and a single sample can land in one of this
    // VM's episodic contention windows
    val querySec = (1 to 2).map { _ =>
      val t1 = System.nanoTime()
      Bm25Search.searchPersisted(queries, index, 10).count()
      (System.nanoTime() - t1) / 1e9
    }.min
    // single-query p50 latency over a WARM serving session — the
    // reference's per-query perf_counter analog (searcher.py:101-114)
    import spark.implicits._
    val session = graft.query.SearchSession.open(spark, dir)
    val singles = Synthesizer.queries(spark, 11, nDocs).as[(Long, String)].collect().toSeq
    val lats = singles.map { case (_, text) =>
      val s0 = System.nanoTime()
      session.searchOne(text, 10).count()
      (System.nanoTime() - s0) / 1e9
    }.sorted
    val p50 = lats(lats.size / 2)
    println(f"SCALE $cpus $buildSec%.3f $querySec%.3f $p50%.4f")
    spark.stop()
    } finally dirs.foreach(LocalFiles.deleteRecursively)
  }
}
