package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analysis.Tokenizer
import graft.index.{Bm25Params, IndexUpdater}

/** Exact BM25 over an index's live docs, recomputed on the driver from their
  * text alone: n, avgdl, df, tf and dl are counted here, not read from the
  * index, and the formula is the one the index documents,
  * idf = ln((n − df + 0.5)/(df + 0.5) + 1) and
  * tfnorm = tf·(k1 + 1)/(tf + k1·(1 − b + b·dl/avgdl)). */
final class Oracle(docs: Array[(Long, String)], p: Bm25Params = Bm25Params()) {
  private val docIds = docs.map(_._1)
  private val dl = new Array[Int](docs.length)
  /** term → (doc index, tf) of every doc that holds it. */
  private val postings = mutable.HashMap[String, mutable.ArrayBuffer[(Int, Int)]]()

  docs.zipWithIndex.foreach { case ((_, text), i) =>
    val terms = Tokenizer.tokenize(text, Tokenizer.DocMaxTerms)
    dl(i) = terms.length
    terms.groupBy(identity).foreach { case (t, occ) =>
      postings.getOrElseUpdate(t, mutable.ArrayBuffer()) += ((i, occ.length))
    }
  }
  private val avgdl = dl.map(_.toDouble).sum / math.max(1, docs.length)

  /** (doc_id, score) of every doc the query hits, best first: by score
    * descending, then doc_id ascending. */
  def ranking(query: String): Seq[(Long, Double)] = {
    val score = mutable.HashMap[Int, Double]()
    Tokenizer.tokenize(query, Tokenizer.QueryMaxTerms).groupBy(identity).toSeq.sortBy(_._1).foreach {
      case (t, occ) => postings.get(t).foreach { ps =>
        val idf = math.log((docs.length - ps.size + 0.5) / (ps.size + 0.5) + 1)
        ps.foreach { case (i, tf) =>
          val norm = tf * (p.k1 + 1) / (tf + p.k1 * (1 - p.b + p.b * dl(i) / avgdl))
          score(i) = score.getOrElse(i, 0.0) + occ.length * idf * norm
        }
      }
    }
    score.toSeq.map { case (i, s) => (docIds(i), s) }.sortBy { case (d, s) => (-s, d) }
  }
}

object Oracle {
  /** Scores within this share of each other are a tie: the engine sums a
    * doc's term scores in another order than [[Oracle.ranking]] does. */
  val Tolerance = 1e-9

  /** The oracle over the live docs of the index in `dir`: base and
    * segments, less tombstones. */
  def of(spark: SparkSession, dir: String): Oracle = {
    import spark.implicits._
    new Oracle(IndexUpdater.liveDocs(spark, dir).select(col("doc_id"), col("text")).as[(Long, String)].collect())
  }
}
