package graft.train

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The exact-arithmetic transcendental primitives (ExactMath): the
  * generated SQL, evaluated by Spark, must equal the driver replication
  * BIT-FOR-BIT — the same property the DuckDB oracle leans on (validated
  * there over 400k samples at authoring time) — and both must track libm
  * within the polynomials' truncation error. TrainingSpec pins the
  * composed loss chain; this spec pins each primitive in isolation so a
  * regression localizes. */
class ExactMathSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import ExactMath._

  private val rnd = new scala.util.Random(11)

  test("exp chain: Spark evaluation of the generated SQL == expExact, bitwise") {
    val xs = Seq.fill(2000)(math.floor(-rnd.nextDouble() * 40 * 10000) / 10000) ++
      Seq(0.0, -0.0001, -31.9999, -32.0, -39.5) // clamp edges
    var df = xs.toDF("x").withColumn("p", expr(expCoreSql(expReduceSql("x"))))
    (1 to ExpSquarings).foreach { _ => df = df.withColumn("p", expr(pow4Sql("p"))) }
    val out = df.select(col("x"), col("p")).collect()
    out.foreach { r =>
      val (x, p) = (r.getDouble(0), r.getDouble(1))
      assert(java.lang.Double.doubleToLongBits(p) ==
        java.lang.Double.doubleToLongBits(expExact(x)), s"x=$x")
      if (x > -30) // truncation bound; below the clamp region fidelity is moot
        assert(math.abs(p - math.exp(x)) <= 1e-12 * math.max(math.exp(x), 1e-300) + 1e-16,
          s"accuracy x=$x")
    }
  }

  /** ln(z) through the generated fragments, chained as Training does. */
  private def lnChain(zs: Seq[Double]) = zs.toDF("z")
    .withColumn("k", expr(lnKSql("z")))
    .withColumn("m", expr(lnMSql("z")))
    .withColumn("w", expr("(m - 1)/(m + 1)"))
    .withColumn("u", expr("w*w"))
    .withColumn("l", expr(lnAssembleSql("k", "w", "u")))

  test("ln chain: Spark evaluation of the generated SQL == lnExact, bitwise") {
    val zs = Seq.fill(2000) {
      val scale = Seq(1e-9, 0.1, 1.0, 10.0, 1000.0, 1000000.0)(rnd.nextInt(6))
      1.0 + rnd.nextDouble() * scale
    } ++ Seq(1.0, 2.0, 4.0, 1048575.9, (LnZLimit - 1).toDouble)
    val out = lnChain(zs).select(col("z"), col("l")).collect()
    out.foreach { r =>
      val (z, l) = (r.getDouble(0), r.getDouble(1))
      assert(java.lang.Double.doubleToLongBits(l) ==
        java.lang.Double.doubleToLongBits(lnExact(z)), s"z=$z")
      assert(math.abs(l - math.log(z)) < 1e-12, s"accuracy z=$z")
    }
  }

  test("ln range guard: z at or above 2^21 gives NULL, not a wrong ln") {
    // 2^21 - 1, the largest z in range, is an input of the ln chain test
    val out = lnChain(Seq(LnZLimit.toDouble, 1e12))
      .select(col("z"), col("k"), col("m"), col("l")).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert((1 to 3).forall(r.isNullAt), s"z=${r.getDouble(0)}")
      assert(lnExact(r.getDouble(0)).isNaN, s"z=${r.getDouble(0)}")
    }
  }

  test("freeze guard: the loss contract calls no libm exp/ln/log/pow") {
    // the loss oracles replay ExactMath's polynomials in DuckDB; a libm
    // call on either side reintroduces last-ulp engine differences. The
    // BM25 teacher/student scores upstream take ln for idf and enter the
    // loss snapped to the 4-decimal grid, so the guard covers the loss
    // chain: everything from its first CTE (`nagg`) to the final select
    val libm = """(?i)\b(exp|ln|log|log2|log10|pow|power)\s*\(""".r
    Seq("train_losses", "train_losses_distill").foreach { name =>
      val sql = graft.SparkEntry.oracleSql(name)
      val chain = sql.indexOf("nagg AS (")
      assert(chain > 0, s"$name: loss chain not found")
      val call = libm.findFirstIn(sql.substring(chain))
      assert(call.isEmpty, s"$name loss chain calls $call")
    }
    import org.apache.spark.sql.catalyst.expressions._
    val nway = Seq((1L, 0, 3.0, 2.5), (1L, 1, 1.0, 1.5)).toDF("qid", "way", "teacher", "student")
    val ib = Seq((1L, 0L, 3.0, 1), (1L, 5L, 1.0, 0)).toDF("qid", "doc_id", "score", "label")
    val plan = Training.losses(nway, ib).queryExecution.analyzed
    val calls = plan.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: Exp | _: Expm1 | _: Log | _: Log1p | _: Log2 | _: Log10 |
                _: Logarithm | _: Pow) => e.prettyName
    }))
    assert(calls.isEmpty, s"Training.losses evaluates libm: ${calls.distinct}")
  }

  test("snap4: Spark evaluation == driver snap, bitwise; normalizes -0.0") {
    val xs = Seq.fill(2000)(math.floor((rnd.nextDouble() - 0.5) * 60 * 1e8) / 1e8) ++
      Seq(0.0, -0.0, 1.23455, -1.23455, 0.00004999, -1e-12)
    val out = xs.toDF("x").withColumn("s", expr(snap4Sql("x")))
      .select(col("x"), col("s")).collect()
    out.foreach { r =>
      val (x, s) = (r.getDouble(0), r.getDouble(1))
      assert(java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(snap4(x)), s"x=$x")
    }
    // -0.0 and tiny negatives snap to +0.0: the driver's value hash must
    // never see a signed zero
    assert(java.lang.Double.doubleToLongBits(snap4(-0.0)) == 0L)
    assert(java.lang.Double.doubleToLongBits(snap4(-1e-12)) == 0L)
  }
}
