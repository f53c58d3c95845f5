package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.Synthesizer
import graft.index.IndexBuilder

/** One benchmark arm in its own JVM. The `main` arm ([[MainArm]]) sets up a
  * corpus and an index, then measures its workload: `index_update` (index
  * updates, then repeated builds) or `query_serve` (HTTP serving, then
  * 40-query batches). The `build1c` arm builds the main arm's pages on one
  * core. Each arm writes its metrics, operation counts and failures as one
  * JSON object to `--out`.
  *
  * Every input is generated from `--seed` with `corpus.Synthesizer`; the
  * program receives only the generated pages and query texts. */
object Bench {

  /** `params` holds the workload's sizes: docs, and as the workload needs
    * them seg_docs, segments, remove_ids and repeat. */
  final case class Conf(arm: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, out: Path, spans: Option[Path], cores: Int,
                        params: Map[String, String]) {
    def docs: Long = params("docs").toLong
    def num(key: String): Double = params(key).toDouble
  }

  val K = 10
  val BatchQueries = 40

  // shares of --seconds given to each measured phase
  val UpdateShare = 0.35
  val BuildShare = 0.65
  val ServeClosedShare = 0.12
  val ServeSingleShare = 0.45
  val BatchShare = 0.43

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(a("arm"), a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", Paths.get(a("work")), Paths.get(a("out")), a.get("spans").map(Paths.get(_)),
      a("cores").toInt, a)
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName(s"graft-perfbench-${c.arm}")
      // the session graft.Main builds for a standalone run
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", c.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, c.trace)
    val r = new Result
    r.info("jdk") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"
    r.info("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576
    r.info("cores") = c.cores
    try {
      c.arm match {
        case "main" => new MainArm(spark, c, trace, r).run()
        case "build1c" => new Build1cArm(spark, c, r).run()
      }
      r.metric("jvm.gc_s", Jvm.gcSeconds)
      r.metric("jvm.heap_peak_mb", Jvm.heapPeakMb)
      if (c.trace) {
        trace.selfSecondsByLayer.foreach { case (layer, s) => r.metric(s"$layer.self_s", s) }
        c.spans.foreach(trace.write)
      }
    } finally spark.stop()
    Files.write(c.out, r.json.getBytes(UTF_8))
  }

  private val started = System.nanoTime()

  /** A progress line in the arm's log. */
  def log(msg: String): Unit = println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(x => Files.copy(x, to.resolve(from.relativize(x).toString)))
    finally s.close()
  }

  /** The pages table for corpus `seed`, written as parquet the way
    * `graft.Main synth` writes it. */
  def writePages(spark: SparkSession, n: Long, seed: Long, dir: Path): Unit =
    Synthesizer.pages(spark, n, spark.sparkContext.defaultParallelism, seed)
      .write.parquet(dir.toString)

  /** Update pages: Synthesizer text for ids `[from, from + n)`, past the
    * base corpus, so every 7th doc plants a term the index has never seen.
    * All are English, so each is indexed. */
  def writeSegmentPages(spark: SparkSession, from: Long, n: Long, seed: Long, dir: Path): Unit = {
    import spark.implicits._
    spark.range(from, from + n, 1, 2).map { id =>
      val t = Synthesizer.text(id, seed)
      (Synthesizer.url(id), new java.sql.Timestamp(Synthesizer.Epoch + id * 1000L),
        Synthesizer.html(t), t, "en")
    }.toDF("url", "warc_ts", "html", "text", "lang").write.parquet(dir.toString)
  }

  /** A planted query's unique answer: the synthesizer plants `plant<j>` in
    * doc 7j only. */
  def plantedId(text: String): Option[Long] =
    text.split(' ').find(_.startsWith("plant")).map(_.stripPrefix("plant").toLong * 7)

  type Row4 = (Long, Long, Int, Double)

  def rows(df: DataFrame): Array[Row4] = {
    import df.sparkSession.implicits._
    df.select(col("qid"), col("doc_id"), col("rank"), col("score")).as[Row4].collect()
  }

  def queryRows(spark: SparkSession, texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("qid", "text")
  }
}

/** Metrics, operation counts and failure notes of one arm. */
final class Result {
  private val metrics = mutable.LinkedHashMap[String, Double]()
  private val notes = mutable.ArrayBuffer[String]()
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val info = mutable.LinkedHashMap[String, Any]()

  def metric(name: String, v: Double): Unit = metrics(name) = v
  def check(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(what)
  }
  def fail(what: String): Unit = {
    failed.incrementAndGet()
    notes.synchronized(if (notes.size < 20) notes += what)
  }
  def json: String = Json.obj(Seq("attempted" -> attempted.get, "failed" -> failed.get,
    "failures" -> notes.toSeq, "metrics" -> metrics.toMap, "info" -> info.toMap))
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
}

object Jvm {
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Builds the main arm's pages once on one core, in a fresh JVM like the
  * main arm's set-up build, so the two are the 1-vs-N core pair. */
final class Build1cArm(spark: SparkSession, c: Bench.Conf, r: Result) {
  import Bench._

  def run(): Unit = {
    val pages = c.work.resolve("pages")
    val dir = c.work.resolve("build1c")
    val secs = try time(IndexBuilder.build(spark, spark.read.parquet(pages.toString), dir.toString))._2
      finally deleteTree(dir)
    r.metric("index.build_docs_per_s_1c", c.docs / secs)
  }
}
