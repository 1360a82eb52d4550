package graft

import org.apache.spark.sql.functions._

import graft.functions.Cardinality

/** The oracle-exact HyperLogLog: estimation quality, determinism, and
  * the merge identity that makes it the distributed-NDV primitive.
  */
class CardinalitySpec extends SparkSpec {
  import spark.implicits._

  test("hllNdv: estimate within the m=256 error envelope on 10k distinct keys") {
    val df = (1L to 10000L).toDF("v")
    val est = Cardinality.hllNdv(df, Seq.empty, "v", p = 8)
      .collect().head.getDouble(0)
    // standard error 1.04/sqrt(256) = 6.5%; allow 4 sigma for one draw
    assert(math.abs(est - 10000.0) / 10000.0 < 0.26, s"est=$est")
  }

  test("hllNdv: duplicate-insensitive and deterministic") {
    val once = (1L to 2000L).toDF("v")
    val thrice = ((1L to 2000L) ++ (1L to 2000L) ++ (1L to 2000L)).toDF("v")
    val e1 = Cardinality.hllNdv(once, Seq.empty, "v").collect().head.getDouble(0)
    val e3 = Cardinality.hllNdv(thrice, Seq.empty, "v").collect().head.getDouble(0)
    assert(e1 === e3) // exact bit equality: same registers, same dag
  }

  test("register max-merge equals the sketch of the union — the mergeability law") {
    val a = (1L to 3000L).toDF("v")
    val b = (2000L to 5000L).toDF("v") // overlaps a
    val union = a.unionByName(b)
    val merged = Cardinality.hllRegisters(a, Seq.empty, "v")
      .unionByName(Cardinality.hllRegisters(b, Seq.empty, "v"))
      .groupBy(col("__b")).agg(max(col("__m")).as("__m"))
    val estMerged = Cardinality.hllEstimate(merged, Seq.empty)
      .collect().head.getDouble(0)
    val estDirect = Cardinality.hllNdv(union, Seq.empty, "v")
      .collect().head.getDouble(0)
    assert(estMerged === estDirect) // identity, not approximation
  }

  test("per-key estimates are independent of other keys' values") {
    val df = Seq.tabulate(4000)(i => (if (i % 2 == 0) "x" else "y", i.toLong))
      .toDF("k", "v")
    val both = Cardinality.hllNdv(df, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val solo = Cardinality.hllNdv(df.filter(col("k") === "x"), Seq("k"), "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(both("x") === solo("x"))
  }

  test("null values occupy one phantom register and add no harmonic term") {
    val p = 8
    val m = 1 << p
    val sBits = 60 - p + 1
    val longs: Seq[java.lang.Long] = (1L to 600L).map(java.lang.Long.valueOf)
    val vals = (longs ++ Seq(null, null)).toDF("v")
    // the null hash lands in one extra register row with a null bucket
    val regs = Cardinality.hllRegisters(vals, Seq.empty, "v", p)
    val nonNull = Cardinality.hllRegisters(longs.toDF("v"), Seq.empty, "v", p)
      .as[(Long, Int)].collect()
    assert(regs.count() === nonNull.length + 1)
    assert(regs.filter(col("__b").isNull).count() === 1)
    // estimate by hand: the phantom register counts as occupied, so one
    // empty register's 2^S term drops, and it contributes nothing itself
    val zOcc = nonNull.map { case (_, mj) => 1L << (sBits - mj) }.sum
    val z = zOcc + (m - nonNull.length - 1).toLong * (1L << sBits)
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val expected = alpha * m * m * math.pow(2.0, 61 - p) / z.toDouble
    val est = Cardinality.hllNdv(vals, Seq.empty, "v", p)
      .collect().head.getDouble(0)
    assert(est === expected) // exact: the same long sum, one division
  }
}
