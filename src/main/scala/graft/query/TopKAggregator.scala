package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** Bounded top-k heap as a native TypedImperativeAggregate: Spark's
  * partial/final aggregation contract makes the per-partition heaps merge
  * associatively — the distributed re-expression of the reference's
  * pthread-sharded heaps in filter_pids.cpp:27-123 and the final
  * `scores.sort` + slice in colbert/search/index_storage.py:106-107.
  *
  * Order: score DESC, doc_id ASC tiebreak (reference stable-sort semantics,
  * server.py:34). The buffer is a pair of primitive arrays kept heap-shaped
  * lazily: append until 2k then compact to the best k, so update stays O(1)
  * amortized and the serialized partial buffer stays ≤ 2k entries.
  *
  * A native imperative aggregate instead of a typed Dataset Aggregator:
  * the typed route (groupByKey + kryo Buf + per-row tuple decode) paid a
  * full encoder deserialization plus two tuple allocations plus an
  * object-array copy PER INPUT ROW — measured as ~85% of the 40-query
  * batch wall time over a 1M-doc index (per-stage timing: scores 1.3 s,
  * scores+topk 9.6 s). Here the input side stays codegen'd UnsafeRows and
  * update touches two primitive array slots.
  */
object TopKAggregator {

  /** (doc_id, score) → array<struct<doc_id,score>> of the k best rows in
    * (score desc, doc_id asc) order. */
  def heap_topk(docId: Column, score: Column, k: Int): Column = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    GraftShim.column(HeapTopKAggExpr(
      GraftShim.expression(docId), GraftShim.expression(score), k)
      .toAggregateExpression())
  }

  /** (qid, doc_id, score) → (qid, doc_id, rank, score): top-k per qid with
    * map-side partial heaps (no global per-qid sort shuffle). */
  def topK(scores: DataFrame, k: Int): DataFrame =
    scores
      .groupBy(col("qid"))
      .agg(heap_topk(col("doc_id").cast("long"), col("score").cast("double"), k)
        .as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(
        col("qid"),
        col("e.doc_id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("e.score").as("score"))
}

/** Growable (doc_id, score) buffer bounded at 2k live entries: append is
  * two primitive slot writes; every k-th overflow pays one O(k log k)
  * compaction down to the k best — ~16 B/entry, no per-entry objects. */
final class TopKBuf(val k: Int, var ids: Array[Long], var scs: Array[Double], var n: Int) {
  def this(k: Int) =
    this(k, new Array[Long](math.max(2 * k, 1)), new Array[Double](math.max(2 * k, 1)), 0)

  /** (score desc, doc_id asc) — the serving tiebreak. */
  private def better(i: Int, j: Int): Boolean =
    scs(i) > scs(j) || (scs(i) == scs(j) && ids(i) < ids(j))

  /** Keep only the `keep` best entries (in best-first order). */
  def compact(keep: Int): Unit = if (n > keep) {
    val idx = new Array[Integer](n)
    var i = 0
    while (i < n) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) =>
      if (better(a.intValue(), b.intValue())) -1
      else if (better(b.intValue(), a.intValue())) 1
      else 0)
    val nIds = new Array[Long](ids.length)
    val nScs = new Array[Double](scs.length)
    i = 0
    while (i < keep) {
      nIds(i) = ids(idx(i).intValue()); nScs(i) = scs(idx(i).intValue()); i += 1
    }
    ids = nIds; scs = nScs; n = keep
  } else sortBestFirst()

  /** In-place best-first order for n ≤ keep (eval of a small group). */
  private def sortBestFirst(): Unit = {
    val idx = new Array[Integer](n)
    var i = 0
    while (i < n) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) =>
      if (better(a.intValue(), b.intValue())) -1
      else if (better(b.intValue(), a.intValue())) 1
      else 0)
    val nIds = new Array[Long](ids.length)
    val nScs = new Array[Double](scs.length)
    i = 0
    while (i < n) { nIds(i) = ids(idx(i).intValue()); nScs(i) = scs(idx(i).intValue()); i += 1 }
    ids = nIds; scs = nScs
  }

  private def ensure(cap: Int): Unit =
    if (cap > ids.length) {
      val newCap = math.max(cap, ids.length * 2)
      ids = java.util.Arrays.copyOf(ids, newCap)
      scs = java.util.Arrays.copyOf(scs, newCap)
    }

  def append(id: Long, s: Double): Unit = {
    if (n >= 2 * k) compact(k)
    ids(n) = id; scs(n) = s; n += 1
  }

  def appendAll(o: TopKBuf): Unit = {
    ensure(n + o.n)
    System.arraycopy(o.ids, 0, ids, n, o.n)
    System.arraycopy(o.scs, 0, scs, n, o.n)
    n += o.n
    if (n > 2 * k) compact(k)
  }

  /** The k best entries, best-first — (doc_id, score) pairs. */
  def result(): Array[(Long, Double)] = {
    compact(math.min(n, k))
    val out = new Array[(Long, Double)](math.min(n, k))
    var i = 0
    while (i < out.length) { out(i) = (ids(i), scs(i)); i += 1 }
    out
  }
}

/** The per-group top-k heap aggregate (see [[TopKAggregator]]). Null
  * doc_id/score inputs are skipped — they cannot rank. */
case class HeapTopKAggExpr(left: Expression, right: Expression, k: Int,
                           mutableAggBufferOffset: Int = 0,
                           inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuf] with BinaryLike[Expression] {

  override def prettyName: String = "heap_topk"
  override def dataType: DataType = HeapTopKAggExpr.OutType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val id = left.eval(input)
    val s = right.eval(input)
    if (id != null && s != null)
      buf.append(id.asInstanceOf[Long], s.asInstanceOf[Double])
    buf
  }

  override def merge(buf: TopKBuf, other: TopKBuf): TopKBuf = {
    buf.appendAll(other)
    buf
  }

  override def eval(buf: TopKBuf): Any =
    new GenericArrayData(buf.result().map { case (id, s) =>
      new GenericInternalRow(Array[Any](id, s))
    }.asInstanceOf[Array[Any]])

  /** Shuffle format: k, n, ids, raw score bits — the partial buffer is
    * ≤ 2k entries by construction. */
  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + buf.n * 16)
    bb.putInt(buf.k); bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.ids(i)); bb.putDouble(buf.scs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val kk = bb.getInt(); val n = bb.getInt()
    val buf = new TopKBuf(kk,
      new Array[Long](math.max(n, 2 * kk)), new Array[Double](math.max(n, 2 * kk)), n)
    var i = 0
    while (i < n) { buf.ids(i) = bb.getLong(); buf.scs(i) = bb.getDouble(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HeapTopKAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HeapTopKAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HeapTopKAggExpr =
    copy(left = newLeft, right = newRight)
}

object HeapTopKAggExpr {
  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
}
