package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Z-order (Morton) clustering key of two columns, [[zValue]], and
  * its DuckDB mirror [[zValueSql]], which the gated `events_zorder`
  * query checks against each other.
  */
object Bucketing {

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative long columns — the multi-dimensional clustering key a
    * lakehouse layout optimizer sorts files by (Delta/Iceberg
    * `OPTIMIZE ZORDER`): rows close in EITHER dimension land in nearby
    * z-prefix ranges, so per-file min/max stats prune scans filtered on
    * either column, where a plain sort only serves its leading column.
    * Pure integer bit expressions — codegen'd, bit-reproducible
    * cross-engine.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "need 1 <= bits <= 31")
    val mask = (1L << bits) - 1
    val la = a.bitwiseAND(lit(mask))
    val lb = b.bitwiseAND(lit(mask))
    (0 until bits).map { i =>
      shiftleft(shiftright(la, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(lb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** The DuckDB mirror of [[zValue]] over expressions `a` and `b`. */
  def zValueSql(a: String, b: String, bits: Int = 16): String = {
    val mask = (1L << bits) - 1
    (0 until bits).map { i =>
      s"(((($a & $mask) >> $i) & 1) << ${2 * i}) | " +
        s"(((($b & $mask) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")
  }
}
