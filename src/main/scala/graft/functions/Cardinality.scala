package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperLogLog cardinality sketch with INTEGER-EXACT registers — the
  * mergeable NDV estimator (Flajolet et al. 2007, "HyperLogLog: the
  * analysis of a near-optimal cardinality estimation algorithm") built
  * from deterministic column expressions so the DuckDB oracle can
  * recompute it bit-for-bit. Spark ships approx_count_distinct (its own
  * HLL++), but its sketch is opaque to a cross-engine check; this one
  * is the same algorithm with every step pinned:
  *
  *   - hash: the repo's engine-portable 60-bit md5 ([[Sampling.keyHash60]])
  *   - bucket: low `p` bits (pmod); suffix w: the remaining 60−p bits
  *   - rho(w): leading-zero count in the (60−p)-bit field + 1, computed
  *     by an integer CASE chain (no log2 — float log near powers of two
  *     rounds differently across libms)
  *   - register M_j = max rho per bucket — a partial-aggregating MAX,
  *     which is WHY the sketch scales: the per-partition combine emits
  *     at most m rows per key, and the merge of two sketches is an
  *     elementwise max (the property approx_count_distinct exploits;
  *     here it is visible in the plan)
  *   - the harmonic sum Σ 2^(−M_j) runs SCALED: Σ 2^(S−M_j) with
  *     S = 60−p+1, each term an exact power-of-two long, the sum exact
  *     and order-independent; empty registers contribute 2^S
  *   - estimate: alpha·m²·2^S / Z_scaled — the constant is ONE double
  *     literal (rendered with shortest-repr toString into both engines)
  *     and the division is a single correctly-rounded IEEE op.
  *
  * The small-range (linear counting) and large-range corrections are
  * deliberately OMITTED: both need ln (libm, not cross-engine exact).
  * This is the RAW HLL estimator — bias at NDV ≲ 2.5·m is expected and
  * the point of pairing it with the exact count in the audit query.
  */
object Cardinality {

  /** The sketch itself: occupied registers of `valueCol` per `keyCols`
    * group — (keyCols..., __b: bucket, __m: register). This is the
    * MERGEABLE form: the union of two sketches is `groupBy(__b).max(__m)`
    * over their concatenated register frames, which is how a 100 TB NDV
    * distributes (per-partition sketches, elementwise-max combine) and
    * how set union estimates compose without touching raw values.
    */
  def hllRegisters(df: DataFrame, keyCols: Seq[String], valueCol: String,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "need 4 <= p <= 16")
    val m = 1 << p
    val wBits = 60 - p
    val h = Sampling.keyHash60(col(valueCol))
    val bucket = pmod(h, lit(m.toLong))
    // h div 2^p via shift — h is a nonnegative 60-bit long, so the
    // shift is the exact integer division (a double-typed `/` would
    // round h's low bits away above 2^53)
    val w = shiftright(h, p)
    val rho = rhoExpr(w, wBits)
    df.select(keyCols.map(col) :+ bucket.as("__b") :+ rho.as("__rho"): _*)
      .groupBy(keyCols.map(col) :+ col("__b"): _*)
      .agg(max(col("__rho")).as("__m"))
  }

  /** Estimate from a register frame ([[hllRegisters]] shape):
    * (keyCols..., hll_ndv: double).
    */
  def hllEstimate(regs: DataFrame, keyCols: Seq[String],
      p: Int = 8): DataFrame = {
    val m = 1 << p
    val s = 60 - p + 1
    // Z_scaled = Σ_occupied 2^(S−M_j) + (m − occupied)·2^S; shiftleft is
    // the exact power of two, the long sum exact and order-free
    regs
      .groupBy(keyCols.map(col): _*)
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $s - __m)"))
          .as("__z_occ"),
        count(lit(1)).as("__occ"))
      .select(keyCols.map(col) :+
        (lit(estimatorConst(p)) /
          (col("__z_occ") + (lit(m.toLong) - col("__occ")) *
            lit(1L << s)).cast("double"))
          .as("hll_ndv"): _*)
  }

  /** Raw HLL NDV estimate of `valueCol` per `keyCols` group:
    * (keyCols..., hll_ndv: double). `p` index bits → m = 2^p registers,
    * standard error ≈ 1.04/√m.
    */
  def hllNdv(df: DataFrame, keyCols: Seq[String], valueCol: String,
      p: Int = 8): DataFrame =
    hllEstimate(hllRegisters(df, keyCols, valueCol, p), keyCols, p)

  /** DuckDB mirror of [[hllRegisters]]: selects (keyCols..., b, mj)
    * from `srcSql` (which provides `$keyCols..., $valueCol`). Same
    * hash, same CASE-chain rho.
    */
  def hllRegistersSql(srcSql: String, keyCols: Seq[String],
      valueCol: String, p: Int = 8): String = {
    val m = 1 << p
    val wBits = 60 - p
    val keysSel = if (keyCols.isEmpty) "" else keyCols.mkString("", ", ", ", ")
    val hSql = Sampling.keyHash60Sql(valueCol)
    s"""SELECT ${keysSel}b, MAX(rho) AS mj FROM (
       |  SELECT ${keysSel}h % $m AS b,
       |    ${rhoSql(s"(h // $m)", wBits)} AS rho
       |  FROM (SELECT ${keysSel}$hSql AS h FROM ($srcSql)))
       |GROUP BY ${(keyCols :+ "b").mkString(", ")}""".stripMargin
  }

  /** DuckDB mirror of [[hllEstimate]] over a register SELECT. */
  def hllEstimateSql(regsSql: String, keyCols: Seq[String],
      p: Int = 8): String = {
    val m = 1 << p
    val s = 60 - p + 1
    val keysSel = if (keyCols.isEmpty) "" else keyCols.mkString("", ", ", ", ")
    val grp = if (keyCols.isEmpty) "" else s"\n  GROUP BY ${keyCols.mkString(", ")}"
    s"""SELECT $keysSel${estimatorConst(p)} /
       |  CAST(z_occ + ($m - occ) * ${1L << s} AS DOUBLE) AS hll_ndv
       |FROM (
       |  SELECT $keysSel
       |    CAST(SUM(CAST(1 AS BIGINT) << ($s - mj)) AS BIGINT) AS z_occ,
       |    CAST(COUNT(*) AS BIGINT) AS occ
       |  FROM ($regsSql)$grp)""".stripMargin
  }

  /** DuckDB mirror of [[hllNdv]] as a full SELECT. */
  def hllNdvSql(srcSql: String, keyCols: Seq[String], valueCol: String,
      p: Int = 8): String =
    hllEstimateSql(hllRegistersSql(srcSql, keyCols, valueCol, p), keyCols, p)

  /** alpha_m · m² · 2^S as one double constant, rendered shortest-repr
    * into both engines so they parse the identical value.
    */
  private def estimatorConst(p: Int): Double = {
    val m = (1 << p).toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    alpha * m * m * math.pow(2.0, 61 - p)
  }

  /** rho = leading zeros of `w` in a `bits`-wide field, plus 1:
    * w ≥ 2^(bits−1) → 1, …, w ≥ 1 → bits, w = 0 → bits+1. A
    * first-match CASE chain of integer comparisons.
    */
  private def rhoExpr(w: Column, bits: Int): Column = {
    val first = when(w >= lit(1L << (bits - 1)), lit(1))
    (bits - 2 to 0 by -1)
      .foldLeft(first)((acc, k) => acc.when(w >= lit(1L << k), lit(bits - k)))
      .otherwise(lit(bits + 1))
  }

  private def rhoSql(wExpr: String, bits: Int): String = {
    val arms = (bits - 1 to 0 by -1)
      .map(k => s"WHEN $wExpr >= ${1L << k} THEN ${bits - k}")
      .mkString(" ")
    s"(CASE $arms ELSE ${bits + 1} END)"
  }
}
