package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Benchmark main. Emits ONE JSON line:
  * {"metric":"total","value":S,"unit":"sec","queries":{...},"sf":...,
  *  "scaling":{...}}
  *
  * Parts:
  * 1. north-rule two-cluster-size scaling evidence: the identical
  *    persisted index build (extract → docIds → postings → blocks →
  *    stats) over the SAME pre-written parquet corpus at parallelism N
  *    and 4N, reporting docs/sec at both and efficiency (tp_4N/tp_N)/4.
  *    Protocol (each measurement its own spark-submit-like JVM):
  *      - the corpus is synthesized and written ONCE by this parent — both
  *        levels read identical bytes;
  *      - each fork is taskset-pinned to exactly `cpus` cores AND has
  *        -XX:ActiveProcessorCount=cpus, so the JVM's GC/JIT/pool sizing
  *        matches a real N-core executor node (without this the 2-core
  *        baseline borrows 32-core JVM services and the ratio is fiction);
  *      - build time = min of 7 in-session builds, after a 1/10-scale
  *        warmup build (sheds JIT convergence and the VM's episodic
  *        contention windows in which identical builds run ~2x slow);
  *      - BOTH pairs (primary local[2] vs local[8], full-machine
  *        local[8] vs local[32]) run THREE consecutive times each
  *        (reproducibility evidence, not one lucky roll) with
  *        per-arm minima pooled across runs.
  * 2. per-query wall time of every SparkEntry query on $SPARK_GRAFT_SF_DIR
  *    (the driver contract).
  *
  * Results also go to BENCH.md.
  */
object Bench {

  /** The local[cpus] session every bench JVM (this parent, ScaleRunner,
    * WandRegimeRunner) measures in; `conf` adds settings on top. */
  private[graft] def session(cpus: Int, conf: (String, String)*): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ride out long GC pauses instead of expiring the local executor
      // (a heartbeat expiry mid-build cascades into a dead context)
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config(conf.toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fork an isolated, core-pinned child JVM running `mainClass args...`
    * and return its merged stdout+stderr. Pinning (taskset +
    * ActiveProcessorCount) makes the child's GC/JIT/pool sizing match a
    * dedicated N-core executor node; heap scales at 2 GB/core (N vs 4N
    * EXECUTORS means 4× the aggregate memory — a fixed heap would hand
    * the low-core baseline 4× the per-core memory and bill the high-core
    * run 4× the GC pressure). */
  private def fork(mainClass: String, cpus: Int, args: Seq[String],
                   heapGb: Int = 0, gc: String = "Parallel"): String = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    // pin to the TOP cpus cores: OS interrupt handling and the (mostly
    // pipe-blocked, unpinned) parent JVM concentrate on the low cores, and
    // that noise taxes a 2-core arm 4× harder per core than an 8-core arm
    // — inflating the measured low-arm time and with it the efficiency
    // ratio. Top-pinning removes the shared-core bias from both arms; a
    // full-machine (32-core) child necessarily still includes core 0.
    val total = Runtime.getRuntime.availableProcessors
    val pin =
      if (new java.io.File("/usr/bin/taskset").exists())
        Seq("/usr/bin/taskset", "-c", s"${math.max(0, total - cpus)}-${total - 1}")
      else Seq.empty
    val heap = if (heapGb > 0) heapGb else 2 * cpus
    val cmd = pin ++ Seq(javaBin) ++ addOpens ++ Seq(
      s"-Xmx${heap}g", s"-XX:+Use${gc}GC", s"-XX:ActiveProcessorCount=$cpus",
      "-cp", System.getProperty("java.class.path"),
      mainClass) ++ args
    // merge stderr into the read pipe: the result-line regexes tolerate
    // the surrounding log noise, and an undrained stderr pipe (>64KB of
    // Spark warnings) would block the child and deadlock the bench
    val out = new StringBuilder
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    var line = reader.readLine()
    while (line != null) { out.append(line).append('\n'); line = reader.readLine() }
    proc.waitFor()
    out.toString
  }

  /** One scaling measurement in an ISOLATED, core-pinned child JVM (see
    * ScaleRunner). Returns (build sec, query sec, p50 sec). */
  private def scaleRun(cpus: Int, nDocs: Long, pagesDir: String): (Double, Double, Double) = {
    val out = fork("graft.ScaleRunner", cpus, Seq(cpus.toString, nDocs.toString, pagesDir))
    val m = """SCALE \d+ ([\d.]+) ([\d.]+) ([\d.]+)""".r.findFirstMatchIn(out)
      .getOrElse(sys.error(s"ScaleRunner produced no SCALE line:\n$out"))
    (m.group(1).toDouble, m.group(2).toDouble, m.group(3).toDouble)
  }

  case class Pair(nLow: Int, nHigh: Int, docs: Long,
                  tLow: Double, tHigh: Double, qLow: Double, qHigh: Double,
                  p50Low: Double, p50High: Double) {
    def tpLow: Double = docs / tLow
    def tpHigh: Double = docs / tHigh
    def eff: Double = (tpHigh / tpLow) / (nHigh.toDouble / nLow)
  }

  /** One retry per measurement: a single fork lost to an episodic VM
    * stall (or a transient child crash) must not zero the round's
    * scaling evidence. */
  private def scaleRunRetry(cpus: Int, nDocs: Long, pagesDir: String): (Double, Double, Double) =
    try scaleRun(cpus, nDocs, pagesDir)
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] scale run local[$cpus] failed, retrying once: ${e.getMessage}")
        scaleRun(cpus, nDocs, pagesDir)
    }

  private def runPair(nLow: Int, nHigh: Int, docs: Long, pagesDir: String): Pair = {
    val (tl, ql, pl) = scaleRunRetry(nLow, docs, pagesDir)
    val (th, qh, ph) = scaleRunRetry(nHigh, docs, pagesDir)
    Pair(nLow, nHigh, docs, tl, th, ql, qh, pl, ph)
  }

  case class WandRegime(nDocs: Long, vocab: Int, rareTerm: String, rareDf: Long,
                        tFull: Double, tWand: Double,
                        blocksFull: Long, blocksWand: Long,
                        postingsFull: Long, postingsWand: Long)

  /** The staged-pruning (block-max WAND) arm in its winning regime — ONE
    * genuinely rare strong term + corpus-saturating stopwords (df≈N →
    * idf≈0 → the bound proves them WEAK and their posting lists are
    * decoded only inside the rare term's ~df candidate blocks). Needs its
    * own corpus with a WEB-SCALE vocabulary: under the 5k test vocabulary
    * every term's df exceeds the N/8192 block count, so block-granular
    * bounds can prune nothing (measured: blockRatio exactly 1.0). The
    * strong term is picked by MEASURED df from termstats. Runs in its OWN
    * forked JVM (see WandRegimeRunner — the bench's largest-memory stage
    * once stalled the parent with GC-starved heartbeats and killed every
    * artifact of the round); a failure here costs only this arm. */
  private def wandRegime(cpus: Int, nPages: Long, vocab: Int): Option[WandRegime] =
    try {
      // 24g G1, NOT 2 GB/core ParallelGC: the build over a web-vocab
      // corpus fills whatever old gen it is given, and a full ParallelGC
      // pause on a 64-80g heap exceeds spark.network.timeout — the
      // heartbeat expiry that killed this arm in-parent (measured twice:
      // stall at ~13-14 min, executor exit 56). A bounded G1 heap trades
      // spill for pause; the build is charged to neither measured path.
      val out = fork("graft.WandRegimeRunner", cpus,
        Seq(cpus.toString, nPages.toString, vocab.toString),
        heapGb = 24, gc = "G1")
      val m = """WANDREGIME (\S+) (\d+) ([\d.]+) ([\d.]+) (\d+) (\d+) (\d+) (\d+)""".r
        .findFirstMatchIn(out)
        .getOrElse(sys.error(s"WandRegimeRunner produced no WANDREGIME line:\n${out.takeRight(4000)}"))
      Some(WandRegime(nPages, vocab, m.group(1), m.group(2).toLong,
        m.group(3).toDouble, m.group(4).toDouble,
        m.group(5).toLong, m.group(6).toLong, m.group(7).toLong, m.group(8).toLong))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] wand_regime arm FAILED (continuing): ${e.getMessage}")
        None
    }

  private def wandMd(wand: Option[WandRegime], cpus: Int,
                     skipped: Boolean = false): String = wand match {
    case None if skipped =>
      """The wand arm was SKIPPED this run: the sweep left less budget than
        |the wand floor, and the scaling pairs (the north-rule gate) take
        |precedence. Numbers from the last successful run are in git history.
        |""".stripMargin
    case None =>
      """The forked wand_regime arm FAILED this run (see stderr); wall/decode
        |numbers from the last successful run are in git history.
        |""".stripMargin
    case Some(w) =>
      f"""${w.nDocs}-page persisted index with a WEB-SCALE vocabulary
(${w.vocab} Zipf terms — the 5k test vocabulary makes every
term denser than one posting per doc-range block, so block
bounds can prune nothing; real web text has a long df tail).
Query = one rare strong term (picked by measured df:
`${w.rareTerm}`, df=${w.rareDf}) + three corpus-saturating
stopwords (df≈N → idf≈0 → provably weak → their posting lists
are decoded only inside the rare term's candidate blocks).
Wall = min of 5 interleaved warm full/wand pairs in a dedicated
local[$cpus] JVM; decode
volume counted from each path's physical decode input.

| path | wall sec | blocks decoded | postings decoded |
| --- | --- | --- | --- |
| full (searchPersisted) | ${w.tFull}%.2f | ${w.blocksFull} | ${w.postingsFull} |
| wand (searchPersistedWand) | ${w.tWand}%.2f | ${w.blocksWand} | ${w.postingsWand} |

Decode reduction: **${w.blocksFull.toDouble / math.max(1, w.blocksWand)}%.1f× fewer blocks**,
${w.postingsFull.toDouble / math.max(1, w.postingsWand)}%.1f× fewer postings; wall-time
${if (w.tWand < w.tFull) f"win ${w.tFull / w.tWand}%.1f×" else f"LOSS ${w.tWand / w.tFull}%.1f× (pruning pays in decode volume, not wall, at this scale)"}.
"""
  }

  /** Headline estimator: min build time per ARM across every fork of that
    * arm (3 forks × min-of-7 builds = min of 21). Each fork's min-of-7
    * already estimates the uncontended build; pooling the arms' minima
    * extends the same estimator past fork-length contention windows that
    * a single fork cannot dodge. Per-run pair efficiencies stay in the
    * artifact as the reproducibility evidence. */
  private def pooled(pairs: Seq[Pair]): Pair =
    pairs.sortBy(_.eff).apply(pairs.size / 2).copy(
      tLow = pairs.map(_.tLow).min, tHigh = pairs.map(_.tHigh).min,
      qLow = pairs.map(_.qLow).min, qHigh = pairs.map(_.qHigh).min,
      p50Low = pairs.map(_.p50Low).min, p50High = pairs.map(_.p50High).min)

  private def medianEff(pairs: Seq[Pair]): Double =
    pairs.map(_.eff).sorted.apply(pairs.size / 2)

  private def pairJson(tag: String, p: Pair, extra: String = ""): String =
    f""""$tag":{"cores":"${p.nLow}v${p.nHigh}","n_docs":${p.docs},""" +
    f""""build_sec_low":${p.tLow}%.2f,"build_sec_high":${p.tHigh}%.2f,""" +
    f""""docs_per_sec_low":${p.tpLow}%.1f,"docs_per_sec_high":${p.tpHigh}%.1f,""" +
    f""""efficiency":${p.eff}%.3f,"query_batch40_sec_high":${p.qHigh}%.2f,""" +
    f""""query_p50_sec_high":${p.p50High}%.4f$extra}"""

  private def runsJson(pairs: Seq[Pair]): String =
    pairs.map(p => f"${p.eff}%.3f").mkString("[", ",", "]")

  /** The bench's one-line JSON artifact. Called with partial inputs after
    * each scaling phase (`provisional = true`) so an external timeout that
    * kills the run mid-protocol still leaves the completed phases' numbers
    * in the output tail, and once at the end with everything. */
  private def jsonLine(results: Seq[(String, Double)], fixtures: Seq[(String, Double)],
                       sfDir: String, pairsA: Seq[Pair], pairsBOpt: Option[Seq[Pair]],
                       wand: Option[WandRegime], provisional: Boolean = false,
                       wandSkipped: Boolean = false): String = {
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val fx = fixtures.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val scalingParts =
      (if (pairsA.nonEmpty)
        Seq(pairJson("n_vs_4n", pooled(pairsA),
          f""","efficiency_runs":${runsJson(pairsA)},"efficiency_median":${medianEff(pairsA)}%.3f"""))
      else Seq.empty) ++
      pairsBOpt.filter(_.nonEmpty).map(pb => pairJson("full_machine", pooled(pb),
        f""","efficiency_runs":${runsJson(pb)},"efficiency_median":${medianEff(pb)}%.3f"""))
    val scaling = scalingParts.mkString("{", ",", "}")
    val wandJson = wand match {
      case Some(w) =>
        f""""wand_regime":{"n_pages":${w.nDocs},"vocab":${w.vocab},""" +
        f""""rare_term":"${w.rareTerm}","rare_df":${w.rareDf},""" +
        f""""full_sec":${w.tFull}%.2f,""" +
        f""""wand_sec":${w.tWand}%.2f,"blocks_full":${w.blocksFull},""" +
        f""""blocks_wand":${w.blocksWand},"postings_full":${w.postingsFull},""" +
        f""""postings_wand":${w.postingsWand}}"""
      case None =>
        if (wandSkipped) """"wand_regime":{"skipped_budget":true}"""
        else if (provisional) """"wand_regime":{"pending":true}"""
        else """"wand_regime":{"failed":true}"""
    }
    val prov = if (provisional) """"provisional":true,""" else ""
    f"""{"metric":"total","value":$total%.3f,"unit":"sec",$prov"queries":$qs,"fixtures":$fx,"sf":"$sfDir","scaling":$scaling,$wandJson}"""
  }

  /** Run up to `maxRuns` protocol executions of one scaling pair, keeping
    * inside the bench's wall budget: the first run is unconditional (a
    * pair with zero runs is no evidence at all), each further run needs
    * its own predicted time plus `reserveSec` (the floor kept for the
    * arms still to come) to fit in what remains. `emit` publishes a
    * provisional JSON line after EVERY run, so an external timeout
    * mid-protocol still leaves every completed run in the output tail
    * (round 4 lost the whole wand arm to exactly such a timeout). */
  private def runPairsBudgeted(nLow: Int, nHigh: Int, docs: Long, pagesDir: String,
                               maxRuns: Int, remainingSec: () => Double,
                               reserveSec: Double,
                               emit: Seq[Pair] => Unit): Seq[Pair] = {
    var pairs = Vector.empty[Pair]
    var lastRunSec = 0.0
    var continue = true
    while (continue && pairs.size < maxRuns) {
      val t0 = System.nanoTime()
      pairs :+= runPair(nLow, nHigh, docs, pagesDir)
      lastRunSec = (System.nanoTime() - t0) / 1e9
      emit(pairs)
      continue = remainingSec() - reserveSec > lastRunSec * 1.2
      if (!continue && pairs.size < maxRuns)
        System.err.println(f"[bench] ${nLow}v$nHigh: stopping after ${pairs.size} " +
          f"runs (${remainingSec()}%.0f s left, reserve $reserveSec%.0f s)")
    }
    pairs
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val docsA = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "600000").toLong
    val docsB = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS2", "1000000").toLong
    val pairARuns = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt
    val pairBRuns = sys.env.getOrElse("SPARK_GRAFT_SCALE2_RUNS", "3").toInt
    // wall budget for the WHOLE bench: round 4's driver artifact was
    // killed by an external timeout (rc=124) with the wand arm never run,
    // so the protocol now fits itself to a budget instead of hoping
    val budgetMin = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_MIN", "38").toDouble
    val benchStart = System.nanoTime()
    def remainingSec(): Double = budgetMin * 60 - (System.nanoTime() - benchStart) / 1e9

    // Parent session: synthesize both scale corpora ONCE (fast at
    // local[32]; children read identical parquet bytes) and run the
    // per-query sweep — BEFORE the scale forks, so the parent session can
    // be fully stopped while children measure (an idle-but-live local[32]
    // parent's GC/heartbeat/netty threads share the cores the children
    // are pinned to and depressed the measured ratio; ADVICE r2).
    val spark = session(cpus)
    val pagesDirA = Files.createTempDirectory("graft-bench-pages-a").toString
    val pagesDirB = Files.createTempDirectory("graft-bench-pages-b").toString
    val (results, fixtures, pairsA, pairsB, wand, wandSkipped) =
      try {
        corpus.Synthesizer.pages(spark, docsA, 128).write.mode("overwrite").parquet(pagesDirA)
        corpus.Synthesizer.pages(spark, docsB, 128).write.mode("overwrite").parquet(pagesDirB)

        // one-time on-disk fixtures built OUTSIDE the timed sweep, reported
        // under their own keys (charging them to the first query that
        // touched them made the sweep read 2x slower than the queries are)
        val fixtures = SparkEntry.prepareFixtures(spark, sfDir)

        // driver-contract per-query timings
        // a failing query records -1 so breakage is visible in the artifact
        val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            name -> (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] query $name FAILED: ${e.getMessage}")
              name -> -1.0
          }
        }
        spark.stop() // children must not share cores with a live parent
        println(jsonLine(results, fixtures, sfDir, Seq.empty, None, None,
          provisional = true))

        // arm order sweep → WAND → scaling (VERDICT r4): the wand arm is
        // all-or-nothing in one fork, while the scaling pairs degrade
        // gracefully (a provisional line goes out after EVERY pair run) —
        // so the fragile arm runs while budget is surest, in its own
        // right-sized JVM (largest-memory stage; an in-parent run once
        // GC-stalled the whole bench). One guard: the scaling pairs are
        // the NORTH-RULE gate, so if a pathologically contended sweep
        // already ate the budget, the wand arm (nice-to-have evidence)
        // is skipped rather than starving the gate of even a first run.
        val wandFloorSec = 15 * 60.0
        val wandSkipped = remainingSec() < wandFloorSec
        val wand =
          if (wandSkipped) {
            System.err.println(f"[bench] SKIPPING wand arm: ${remainingSec()}%.0f s " +
              f"left < $wandFloorSec%.0f s floor (scaling gate takes precedence)")
            None
          } else wandRegime(cpus,
            sys.env.getOrElse("SPARK_GRAFT_WAND_DOCS", "6000000").toLong,
            sys.env.getOrElse("SPARK_GRAFT_WAND_VOCAB", "2000000").toInt)
        println(jsonLine(results, fixtures, sfDir, Seq.empty, None, wand,
          provisional = true, wandSkipped = wandSkipped))

        // scaling pairs, budget-fitted: up to 3 protocol runs each, arms
        // alternating 2,8,2,8,... so the VM's episodic contention windows
        // land on both arms, and pooling each arm's minima across runs
        // dodges windows longer than one fork (a single-run 8v32 pair
        // measured 0.565 and 0.718 on identical code hours apart). The
        // 2v8 gate pair runs first and reserves one 8v32 run's worth of
        // budget (~240 s measured) so the honesty pair always gets at
        // least one run.
        val pairsA = runPairsBudgeted(2, 8, docsA, pagesDirA, pairARuns,
          remainingSec, reserveSec = 300,
          pa => println(jsonLine(results, fixtures, sfDir, pa, None, wand,
            provisional = true, wandSkipped = wandSkipped)))
        val pairsB = runPairsBudgeted(8, 32, docsB, pagesDirB, pairBRuns,
          remainingSec, reserveSec = 0,
          pb => println(jsonLine(results, fixtures, sfDir, pairsA, Some(pb), wand,
            provisional = true, wandSkipped = wandSkipped)))
        (results, fixtures, pairsA, pairsB, wand, wandSkipped)
      } finally {
        // a failed child must not leak the multi-GB temp corpora
        Seq(pagesDirA, pagesDirB).foreach(LocalFiles.deleteRecursively)
      }

    val effRuns = pairsA.map(_.eff).sorted
    val effMedian = medianEff(pairsA)
    val pairABest = pooled(pairsA)
    val pairBBest = pooled(pairsB)
    val effMedianB = medianEff(pairsB)
    val total = results.map(_._2).sum
    println(jsonLine(results, fixtures, sfDir, pairsA, Some(pairsB), wand,
      wandSkipped = wandSkipped))

    // Multi-line table blocks are substituted into the template AFTER
    // stripMargin via placeholder tokens: stripMargin strips any leading
    // blanks-then-"|" from EVERY line, so interpolating "|"-leading rows
    // (or space-"|"-leading rows) before stripping mangles all rows after
    // the first — the defect visible in earlier committed BENCH.md tables.
    def pairMd(p: Pair): String =
      f"""| local[${p.nLow}]  | ${p.tLow}%.2f | ${p.tpLow}%.1f | ${p.qLow}%.2f | ${p.p50Low * 1000}%.0f |
| local[${p.nHigh}] | ${p.tHigh}%.2f | ${p.tpHigh}%.1f | ${p.qHigh}%.2f | ${p.p50High * 1000}%.0f |

Scaling efficiency (docs/sec ratio ÷ core ratio): **${p.eff}%.3f**"""
    def runsMd(pairs: Seq[Pair]): String = pairs.zipWithIndex.map { case (p, i) =>
      f"| run ${i + 1} | ${p.tLow}%.2f | ${p.tHigh}%.2f | ${p.tpLow}%.1f | ${p.tpHigh}%.1f | **${p.eff}%.3f** |"
    }.mkString("\n")
    val bench =
      f"""# BENCH — measured on this sandbox (single VM, 32 cores, no SMT)
         |
         |## North-rule scaling evidence (same input, N vs 4N parallelism)
         |
         |Full persisted index build (extract -> dense docIds -> zero-shuffle
         |postings -> term-id dictionary -> compressed blocks -> stats) over
         |ONE pre-written parquet corpus, read identically at both
         |parallelism levels (sandbox stand-in for N vs 4N executors, per
         |driver instruction). Each measurement is an isolated child JVM
         |taskset-pinned to exactly its core count with
         |-XX:ActiveProcessorCount to match (a dedicated N-core executor
         |node: GC/JIT/pool threads sized to the node, not the machine) and
         |heap scaled at 2 GB/core (N vs 4N executors means 4x the
         |aggregate memory; a fixed heap would bill the high-core run 4x
         |the GC pressure); shuffle compression off in BOTH arms (a
         |local-mode shuffle never crosses a network — lz4 would spend
         |CPU and memory-bus bandwidth, the contended resource at full
         |width, to shrink page-cache writes; a real multi-node cluster
         |keeps it on for network shuffles);
         |build time = min of 7 in-session builds after a
         |1/10-scale JIT warmup build (this VM shows episodic ~30-60s
         |contention windows running identical builds ~2x slow — the min
         |over 7 lands outside them). Target: efficiency >= 0.8.
         |
         |A per-run efficiency can legitimately exceed 1.0: the heap
         |scales at 2 GB/core, so the 2-core arm models a small executor
         |whose 4 GB heap pays disproportionate GC against the same
         |per-core work — a real small-executor effect, not a protocol
         |artifact (the pooled estimator still reports the minimum-time
         |ratio, not a cherry-picked run).
         |
         |### Primary pair: local[2] vs local[8] (${pairsA.head.docs} docs) — ${pairsA.size} protocol run(s), count budget-fitted
         |
         || run | build sec @2 | build sec @8 | docs/sec @2 | docs/sec @8 | efficiency |
         || --- | --- | --- | --- | --- | --- |
         |@RUNS@
         |
         |Headline efficiency (pooled minimum — min build per arm across
         |all ${pairsA.size} forks x 7 builds, the same uncontended-time
         |estimator each fork's min-of-7 applies, extended past fork-length
         |contention windows): **${pairABest.eff}%.3f**.
         |Median of per-run efficiencies: **$effMedian%.3f**
         |(runs: ${effRuns.map(e => f"$e%.3f").mkString(", ")}).
         |
         |Pooled-minimum detail:
         |
         || parallelism | build sec | docs/sec | 40-query batch sec | single-query p50 ms |
         || --- | --- | --- | --- | --- |
         |@PAIR_A@
         |
         |Low core counts isolate algorithmic scaling from the single
         |shared memory bus of this VM — the closer analog of adding
         |executor NODES (each with its own memory bandwidth).
         |
         |### Secondary pair: local[8] vs local[32] (${pairsB.head.docs} docs) — ${pairsB.size} protocol run(s), count budget-fitted
         |
         |(The bench fits its arm repetitions to a wall budget —
         |SPARK_GRAFT_BENCH_BUDGET_MIN, default 38 — after round 4's
         |independent run was killed by an external timeout with the WAND
         |arm never executed; the first run of every arm is unconditional,
         |repeats run only while they fit.)
         |
         || run | build sec @8 | build sec @32 | docs/sec @8 | docs/sec @32 | efficiency |
         || --- | --- | --- | --- | --- | --- |
         |@RUNS_B@
         |
         |Pooled minimum (same estimator as the primary pair —
         |single-run 8v32 pairs measured 0.565 and 0.718 on identical
         |code hours apart, so this pair needs the multi-run pooling
         |too): efficiency **${pairBBest.eff}%.3f**, median
         |**$effMedianB%.3f**.
         |
         || parallelism | build sec | docs/sec | 40-query batch sec | single-query p50 ms |
         || --- | --- | --- | --- | --- |
         |@PAIR_B@
         |
         |Caveat: at 32 cores all threads share one memory bus and the
         |hypervisor's episodic CPU steal (~3%% average, bursty) lands
         |somewhere every run — both depress the high-core ratio in ways a
         |multi-node cluster does not. The pinned-JVM protocol above is the
         |controlled experiment; this pair is the honesty check at full
         |machine width.
         |
         |## Staged pruning (block-max WAND) in its winning regime
         |
         |@WAND@
         |Regimes WAND cannot win (measured in r2/r3 probes): a planted
         |unique-term query (df=1 < k) yields no θ bound; an all-stopword
         |query has no strong term; a mid-frequency term (df ≥ #blocks)
         |leaves a posting in every block (measured blockRatio 1.0). Since
         |r3 the engine routes PER QUERY at compile time: qids with no
         |block-sparse term (2·min df ≥ #blocks, metadata-only test) take
         |the one-pass full path, so the degenerate regimes no longer even
         |pay the bound-stage overhead; `searchFull`/`searchPersisted`
         |remains the default for callers that never want pruning.
         |
         |## Per-query wall time (sf=$sfDir, local[$cpus], seconds)
         |
         |One-time on-disk index fixtures are built BEFORE the timed sweep
         |and reported here separately (they are index-build cost, not
         |query cost). Shared fixture FRAMES are disk-backed (parquet,
         |round 5) so consumer timings survive cache eviction; one side
         |effect: entries whose plan previously coincided with a
         |memory-persisted fixture no longer get an accidental
         |logical-plan cache substitution — bm25_topk's earlier ~0.19 s
         |was such a hit against the resident flagship ranking, and it
         |now measures a genuinely fresh 10-query search (~0.9 s, parity
         |with the window/flipr variants):
         |
         || fixture | sec |
         || --- | --- |
         |@FIXTURES@
         |
         || query | sec |
         || --- | --- |
         |@QUERIES@
         || **total** | **$total%.3f** |
         |""".stripMargin
        .replace("@RUNS@", runsMd(pairsA))
        .replace("@RUNS_B@", runsMd(pairsB))
        .replace("@PAIR_A@", pairMd(pairABest))
        .replace("@PAIR_B@", pairMd(pairBBest))
        .replace("@WAND@", wandMd(wand, cpus, skipped = wandSkipped))
        .replace("@FIXTURES@",
          fixtures.map { case (k, v) => f"| $k | $v%.3f |" }.mkString("\n"))
        .replace("@QUERIES@",
          results.map { case (k, v) => f"| $k | $v%.3f |" }.mkString("\n"))
    Files.writeString(java.nio.file.Paths.get("/root/repo/BENCH.md"), bench)
  }
}
