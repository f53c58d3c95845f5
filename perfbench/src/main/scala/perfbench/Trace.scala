package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into a layer of the program. Times are
  * milliseconds: `start`/`end` on the monotonic clock since the tracer
  * began, `wallStart`/`wallEnd` on the wall clock Spark stamps its events
  * with. Spans of one request share `req`. */
final case class Span(id: Int, parent: Int, layer: String, name: String, req: Long,
                      start: Double, end: Double, wallStart: Long, wallEnd: Long) {
  def ms: Double = end - start
}

/** Spark work attributed to one span, from listener events and from the
  * executed plans of the span's SQL executions. */
final class Counts {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var blocksScanned = 0L
  var postingsDecoded = 0L
  var scanFileBytes = 0L
  var scoreStageMs = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    blocksScanned += o.blocksScanned; postingsDecoded += o.postingsDecoded
    scanFileBytes += o.scanFileBytes; scoreStageMs += o.scoreStageMs
    jobIntervals ++= o.jobIntervals
  }

  /** Wall milliseconds of `[from, to]` not covered by any Spark job. */
  def driverSelfMs(from: Long, to: Long): Long = to - from - Trace.covered(jobIntervals.toSeq, from, to)
}

/** The scan, decode and score-stage facts of one executed plan. */
final case class PlanRecord(accums: Set[Long], counts: Counts, score: Set[Long])

/** Spans recorded around the benchmark's calls into each layer, plus the
  * Spark listener and SQL-metric counts at the same boundaries. Spans stay
  * in memory until [[Trace.spans]] is written at the end of the run. When
  * `enabled` is false nothing is registered and [[span]] only runs its
  * body; `recording` switches tracing off for single operations, so that a
  * traced run can time traced and untraced operations side by side. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val t0 = System.nanoTime()
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile var recording: Boolean = enabled

  // listener state: written on the listener-bus threads, read after a drain
  private val lock = new Object
  private val bySpan = mutable.HashMap[Int, Counts]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val jobSpan = mutable.HashMap[Int, (Int, Long)]()
  private val stageAccums = mutable.HashMap[Int, (Int, Long, Set[Long])]()
  /** Accumulator id (SQL metrics, not task metrics) → the span whose task updated it. */
  private val accumSpan = mutable.HashMap[Long, Int]()
  private val plans = mutable.ArrayBuffer[PlanRecord]()
  /** Every job started in the application, traced or not. */
  val allJobs = new AtomicInteger(0)

  private def counts(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      allJobs.incrementAndGet()
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).foreach { span =>
        val c = counts(span)
        c.jobs += 1
        c.stages += e.stageInfos.size
        e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
        jobSpan(e.jobId) = (span, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.remove(e.jobId).foreach { case (span, start) =>
        counts(span).jobIntervals += ((start, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      stageSpan.get(si.stageId).foreach { span =>
        val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L)
        stageAccums(si.stageId) = (span, wall, si.accumulables.keySet.toSet)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val c = counts(span)
        c.tasks += 1
        e.taskInfo.accumulables.foreach(a => if (!a.name.exists(_.startsWith("internal."))) accumSpan(a.id) = span)
        Option(e.taskMetrics).foreach { m =>
          c.taskRunMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planCounts(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Scan and decode counts of one executed plan, read from the SQL
    * metrics of its nodes: rows the blocks scans emitted, postings the
    * decode generators emitted, and file bytes the blocks scans listed.
    * The accumulator ids of the final (qid, doc_id) aggregate identify the
    * score stage. The plan's span is resolved later, from the tasks that
    * updated its metrics. */
  private def planCounts(plan: SparkPlan): Unit = {
    val c = new Counts
    val score = mutable.Set[Long]()
    val nodes = Nodes.all(plan)
    nodes.foreach {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.getName == "blocks") =>
        c.blocksScanned += metric(s, "numOutputRows")
        c.scanFileBytes += metric(s, "filesSize")
      case g: GenerateExec if g.generator.toString.contains("varint") =>
        c.postingsDecoded += metric(g, "numOutputRows")
      case a: BaseAggregateExec
          if a.groupingExpressions.map(_.name) == Seq("qid", "doc_id") &&
            a.aggregateExpressions.exists(_.mode == Final) =>
        score ++= a.metrics.values.map(_.id)
      case _ => ()
    }
    val accums = nodes.flatMap(_.metrics.values.map(_.id)).toSet
    lock.synchronized(plans += PlanRecord(accums, c, score.toSet))
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Run `body` as a span of `layer`; Spark jobs it submits from this
    * thread are attributed to it. With `on` false it runs untraced. */
  def span[T](layer: String, name: String, req: Long = -1L, on: Boolean = true)(body: => T): T =
    if (!recording || !on) body
    else {
      val id = ids.incrementAndGet()
      val stack = current.get
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      current.set(id :: stack)
      sc.setLocalProperty(SpanKey, id.toString)
      val w0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      try body
      finally {
        val s1 = System.nanoTime()
        done.add(Span(id, stack.headOption.getOrElse(0), layer, name, req,
          (s0 - t0) / 1e6, (s1 - t0) / 1e6, w0, System.currentTimeMillis()))
        current.set(stack)
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** All finished spans, in end order. */
  def spans: Seq[Span] = done.asScala.toSeq

  /** Summed counts of the given spans, after every pending listener event
    * has been delivered. */
  def countsOf(spanIds: Iterable[Int]): Counts = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    lock.synchronized {
      val ids = spanIds.toSet
      val out = new Counts
      ids.foreach(id => bySpan.get(id).foreach(out += _))
      plans.foreach { p =>
        if (p.accums.flatMap(accumSpan.get).exists(ids.contains)) {
          out += p.counts
          out.scoreStageMs += stageAccums.valuesIterator.collect {
            case (span, wall, a) if ids.contains(span) && a.exists(p.score.contains) => wall
          }.sum
        }
      }
      out
    }
  }

  /** Ids of `root`'s span and of every span nested under it. */
  def subtree(root: Int): Set[Int] = {
    val children = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = children.getOrElse(id, Nil).map(_.id).toSet.flatMap(go) + id
    go(root)
  }

  /** Self time per layer in seconds: each span's duration minus the part
    * of it covered by its child spans. */
  def selfSecondsByLayer: Map[String, Double] = {
    val all = spans
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        s.ms - coveredD(kids, s.start, s.end)
      }.sum / 1000.0
    }
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "req" -> s.req, "start_ms" -> s.start, "end_ms" -> s.end))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Length of the union of `intervals` clipped to `[from, to]`. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long =
    coveredD(intervals.map { case (a, b) => (a.toDouble, b.toDouble) }, from.toDouble, to.toDouble).toLong

  def coveredD(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    var total = 0.0
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).fold(0L)(_.value)

  /** Every node of an executed plan, through adaptive stages and subqueries. */
  private object Nodes extends AdaptiveSparkPlanHelper {
    def all(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) { case n => n }
  }
}

/** Minimal JSON rendering for the benchmark's result and span files. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
