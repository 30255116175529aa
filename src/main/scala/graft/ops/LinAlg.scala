package graft.ops

import org.apache.spark.sql.Column

/** Driver-side STRAIGHT-LINE linear algebra mirroring the oracle's
  * SQL spelling bit for bit (round-17 verdict task 1 — the
  * d-covariate generalization of the unrolled 3×3 Cramer solves):
  * the Newton/OLS Gram sums are EXACT longs computed distributed
  * (one map-side-combinable aggregate), the (d+1)-unknown solve is
  * O(d³) driver arithmetic on one collected row — the
  * MLlib-treeAggregate-then-driver-solve shape, and the S6
  * bounded-collect convention (K·(d+1)² longs per step).
  *
  * Determinism across engines: the elimination is a FIXED sequence
  * of IEEE-754 binary64 +,−,×,÷ with NO pivoting and NO
  * data-dependent branches, spelled identically in the DuckDB twin
  * (`gaussSql*` in SparkEntry) — same ops on the same exactly-
  * converted integers give the same bits on any IEEE engine (the
  * q195 parity argument, applied to a whole solve instead of one
  * expression). A zero pivot poisons the affected unknowns (NaN/±Inf
  * here, NULL in DuckDB — its float division by zero returns NULL),
  * and BOTH engines' update guards read "every unknown finite", so
  * degenerate steps freeze identically on both sides.
  */
private[graft] object LinAlg {

  /** Half-away-from-zero rounding of the BINARY double value — the
    * C/DuckDB `round(x)::BIGINT` semantic (NOT JVM `math.round`,
    * which rounds half toward +∞ and disagrees at negative .5
    * ties; DuckDB round(-2.5) = -3). Callers guard non-finite
    * inputs before rounding (the isfinite freeze). */
  def rnd(x: Double): Long =
    (math.signum(x) * math.floor(math.abs(x) + 0.5)).toLong

  /** Solve A·x = s by forward elimination WITHOUT pivoting in
    * strict index order, then back substitution with the
    * subtraction left-fold in ascending column order — the EXACT
    * operation sequence of the SQL twin. `a` and `s` are consumed
    * as exact-integer-valued doubles and are NOT mutated (the
    * caller may reuse them); the returned unknowns may be
    * non-finite when a pivot is zero — callers apply the
    * all-finite freeze guard ([[allFinite]]). */
  def gaussSolve(aIn: Array[Array[Double]],
                 sIn: Array[Double]): Array[Double] = {
    val n = sIn.length
    require(aIn.length == n && aIn.forall(_.length == n),
      s"A must be ${n}x$n")
    val m = Array.tabulate(n, n)((r, c) => aIn(r)(c))
    val v = sIn.clone()
    for (l <- 0 until n - 1; r <- l + 1 until n) {
      val f = m(r)(l) / m(l)(l)
      for (c <- l + 1 until n) m(r)(c) = m(r)(c) - f * m(l)(c)
      v(r) = v(r) - f * v(l)
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var acc = v(r)
      for (c <- r + 1 until n) acc = acc - m(r)(c) * x(c)
      x(r) = acc / m(r)(r)
    }
    x
  }

  /** The cross-engine freeze guard: true iff every unknown is a
    * finite double (DuckDB's NULL-poisoned twin fails its
    * isfinite(...) AND-chain the same way). */
  def allFinite(xs: Array[Double]): Boolean =
    xs.forall(java.lang.Double.isFinite)

  /** The 3×3 determinant as a Column, by cofactor expansion along
    * the first row — the one Spark spelling of every unrolled 3×3
    * Cramer solve (the GLM Newton steps in [[EvalOps]], the ridge
    * solve in [[AggOps]]), term for term the DuckDB twin's
    * `cramer3Sql` in SparkEntry. */
  def det(m11: Column, m12: Column, m13: Column,
          m21: Column, m22: Column, m23: Column,
          m31: Column, m32: Column, m33: Column): Column =
    m11 * (m22 * m33 - m23 * m32) -
      m12 * (m21 * m33 - m23 * m31) +
      m13 * (m21 * m32 - m22 * m31)
}
