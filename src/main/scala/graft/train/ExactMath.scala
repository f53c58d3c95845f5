package graft.train

/** Cross-engine EXACT transcendentals for the loss contract (SURVEY §2.5
  * A11; reference training.py:159-196).
  *
  * The correctness gate compares the engine's loss reductions against an
  * independent DuckDB replay, value-hashed after a 4-decimal round. Two
  * rounds of evidence showed that ANY use of libm (`exp`, `ln`) breaks
  * that contract: JVM and DuckDB libm differ in the last ulp on some
  * inputs, and even an 8-decimal output grid cannot absorb the difference
  * because `round(double, n)` is itself engine-dependent (Spark routes
  * through BigDecimal HALF_UP, DuckDB through a float multiply +
  * nearbyint), so one ulp can land the two engines on different grid
  * points.
  *
  * Fix BY CONSTRUCTION, not probability: this object generates SQL text
  * for `exp` and `ln` that uses ONLY operations every IEEE-754 engine
  * executes bit-identically — double +, −, ×, ÷, comparisons, and
  * small-integer-literal promotion. No libm call, no decimal literal, no
  * rounding anywhere inside the math. Both Spark and DuckDB evaluate the
  * SAME generated arithmetic over the SAME input doubles, so the outputs
  * are bit-identical on any conforming platform (validated: 0 mismatches
  * over 400k random 4-decimal-grid inputs between DuckDB 1.0 and
  * IEEE-ordered reference arithmetic; max |err| vs libm ≈ 6e-15).
  *
  *  - exp(x) for x ≤ 0: clamp to [-32, 0] (e⁻³² ≈ 1.3e-14, beyond the
  *    4-decimal loss resolution), scale h = x/64 ∈ [-0.5, 0] (exact:
  *    division by a power of two), order-16 Taylor in Horner form whose
  *    only constants are the integer divisors 1..16 (truncation ≤ 3e-20),
  *    then three (p²)² stages to undo the scaling: e^x = (e^(x/64))^64.
  *  - ln(z) for z ∈ [1, 2^21): power-of-two normalization via a CASE
  *    cascade (k = ⌊log₂ z⌋, m = z/2^k ∈ [1, 2) — again exact), then
  *    ln m = 2w·P(w²) with w = (m−1)/(m+1) ∈ [0, 1/3) and P the
  *    order-16 atanh series in Horner form (constants 1/(2j+1) as
  *    integer divisions), and ln 2 itself from the same series at
  *    w = 1/3 — no decimal literal whose parse could differ. From
  *    z ≥ 2^21 on the normalization yields NULL, never a wrong ln.
  *
  * The generated text is dialect-neutral; callers chain the fragments
  * through named intermediates (withColumn / CTE stages) because inlining
  * the whole composition would duplicate subexpressions exponentially.
  */
object ExactMath {

  /** Inputs below this clamp contribute < 1.3e-14 to any softmax sum —
    * invisible at the contract's 4-decimal resolution. */
  val ExpClampLo: Int = -32

  /** e^x = (e^(x/2^6))^(2^6): the scaling that keeps the Taylor argument
    * in [-0.5, 0], undone by [[ExpSquarings]] (p²)² stages. */
  val ExpScale: Int = 64
  val ExpSquarings: Int = 3 // each stage is (p·p)·(p·p) = p⁴; 4³ = 64

  val ExpOrder: Int = 16
  val LnOrder: Int = 16
  val LnKMax: Int = 20 // normalizes z < 2^21 — softmax sums are ≤ batch size

  /** 2^(LnKMax+1): the first z the ln normalization cannot reach. At and
    * above it [[lnKSql]]/[[lnMSql]] yield NULL (and [[lnExact]] NaN)
    * instead of a silently wrong ln. */
  val LnZLimit: Long = 1L << (LnKMax + 1)

  /** Clamp to [-32, 0] and scale to h = x/64 ∈ [-0.5, 0]. */
  def expReduceSql(x: String): String =
    s"((CASE WHEN ($x) < $ExpClampLo THEN $ExpClampLo ELSE ($x) END)/$ExpScale)"

  /** e^h as the order-[[ExpOrder]] Taylor polynomial in Horner form:
    * 1 + h(1 + h/2(1 + … h/16)). Exact-arithmetic by construction. */
  def expCoreSql(h: String): String =
    (1 to ExpOrder).foldRight("1") { (n, inner) => s"(1 + (($h)/$n)*$inner)" }

  /** One de-scaling stage: p ↦ p⁴ (apply [[ExpSquarings]] times). */
  def pow4Sql(p: String): String =
    s"((($p)*($p))*(($p)*($p)))"

  /** k = ⌊log₂ z⌋ for z ∈ [1, 2^(KMax+1)); NULL from [[LnZLimit]] up. */
  def lnKSql(z: String): String =
    (s"WHEN ($z) >= $LnZLimit THEN NULL" +:
      (LnKMax to 1 by -1).map(j => s"WHEN ($z) >= ${1L << j} THEN $j"))
      .mkString("(CASE ", " ", " ELSE 0 END)")

  /** m = z/2^k ∈ [1, 2) — exact (division by a power of two); NULL from
    * [[LnZLimit]] up. */
  def lnMSql(z: String): String =
    (s"WHEN ($z) >= $LnZLimit THEN NULL" +:
      (LnKMax to 1 by -1).map(j => s"WHEN ($z) >= ${1L << j} THEN ($z)/${1L << j}"))
      .mkString("(CASE ", " ", s" ELSE ($z) END)")

  /** P(u) = Σ_{j=0..LnOrder} u^j/(2j+1) in Horner form, so that
    * ln m = 2w·P(w²) with w = (m−1)/(m+1). */
  def lnSeriesSql(u: String): String = {
    val inner = (1 until LnOrder).foldRight(s"(1/${2 * LnOrder + 1})") {
      (j, acc) => s"((1/${2 * j + 1}) + ($u)*$acc)"
    }
    s"(1 + ($u)*$inner)"
  }

  /** ln 2 = 2·atanh(1/3) from the same series — 1/3 and (1/3)² are
    * single IEEE divisions/multiplies, identical on every engine. */
  val Ln2Sql: String = s"(2*(1/3)*${lnSeriesSql("((1/3)*(1/3))")})"

  /** Assemble ln(z) from the chained intermediates: k·ln2 + 2w·P(u).
    * `k`, `w`, `u` must be columns produced by [[lnKSql]]/[[lnMSql]]
    * (w = (m−1)/(m+1), u = w·w). */
  def lnAssembleSql(k: String, w: String, u: String): String =
    s"($k)*$Ln2Sql + 2*($w)*${lnSeriesSql(u)}"

  /** Engine-exact 4-decimal snap for the contract's FINAL outputs:
    * floor(x·10⁴ + 1/2)/10⁴ — floor, multiply, add, divide are all
    * IEEE-exact, unlike `round(double, n)` whose half-up path differs
    * across engines. Also normalizes −0.0 to 0.0. */
  def snap4Sql(x: String): String =
    s"(floor(($x)*10000 + 0.5)/10000)"

  // -- driver-side replication (bit-for-bit, same op order) --------------
  // Used by tests to assert the engines produce EXACTLY these doubles.

  def expExact(x0: Double): Double = {
    val x = if (x0 < ExpClampLo) ExpClampLo.toDouble else x0
    val h = x / ExpScale
    var p = 1.0
    var n = ExpOrder
    while (n >= 1) { p = 1 + (h / n) * p; n -= 1 }
    var i = 0
    while (i < ExpSquarings) { p = ((p * p)) * ((p * p)); i += 1 }
    p
  }

  private def lnSeries(u: Double): Double = {
    var acc = 1.0 / (2 * LnOrder + 1)
    var j = LnOrder - 1
    while (j >= 1) { acc = (1.0 / (2 * j + 1)) + u * acc; j -= 1 }
    1 + u * acc
  }

  val Ln2: Double = 2 * (1.0 / 3) * lnSeries((1.0 / 3) * (1.0 / 3))

  def lnExact(z: Double): Double = if (z >= LnZLimit) Double.NaN else {
    var k = 0
    var m = z
    var j = LnKMax
    while (j >= 1 && k == 0) {
      if (z >= (1L << j)) { k = j; m = z / (1L << j) }
      j -= 1
    }
    val w = (m - 1) / (m + 1)
    val u = w * w
    k * Ln2 + 2 * w * lnSeries(u)
  }

  def snap4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
}
