package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.graftbridge.Bridge

/** Morton (Z-order) key kernel: interleave two 16-bit coordinates into one
  * 32-bit key, built from composed codegen'd bitwise functions — no UDF.
  *
  * Why Z-order at all: range-partitioning by ONE column gives perfect file
  * pruning on that column and none on any other. Interleaving the bits of
  * two columns before the range shuffle makes every file a small hyper-
  * rectangle in (a, b) space, so per-file min/max stats prune on BOTH
  * dimensions — the standard lakehouse layout trick (e.g. "Z-ordering" in
  * Delta/Iceberg, after Morton 1966) re-expressed as a plain Spark
  * expression the optimizer can see through.
  *
  * Everything here is exact integer arithmetic so an external engine
  * (DuckDB, the driver's oracle) can recompute keys bit-for-bit:
  * truncating division on non-negative operands, no doubles anywhere.
  */
object ZOrder {

  /** Spread the low 16 bits of a non-negative long to the even bit
    * positions of a 32-bit value (0babcd → 0b0a0b0c0d), via the classic
    * shift-or-mask ladder — 4 shifts, 4 ands, all whole-stage codegen. */
  def spread16(c: Column): Column = {
    val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Interleave two 16-bit coordinates: a takes the even bits, b the odd. */
  def zkey16(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Min-max scale a long column to [0, 65535] with truncating integer
    * division — deterministic and oracle-recomputable (floor == trunc on
    * non-negative operands, which `(v - min) * 65535` always is).
    * A degenerate column (min == max) maps everywhere to 0.
    *
    * Overflow guard: (v-min)*65535 stays in Long while the column span is
    * ≤ Long.MaxValue/65535 ≈ 1.4e14 — ~4.5 years of microseconds; callers
    * indexing a wider epoch range should pre-bucket (the `require` below
    * fails loudly rather than wrapping). */
  def scale16(v: Column, min: Long, max: Long): Column = {
    require(max >= min, s"scale16 bounds inverted: [$min, $max]")
    require(max - min <= Long.MaxValue / 65535L,
      s"scale16 span overflow: max-min=${max - min}")
    if (max == min) lit(0L)
    else Bridge.column(new IntegralDivide( // `div`, NOT `/`: Column./ on longs is a double Divide, inexact past 2^53
      Bridge.expression((v - lit(min)) * lit(65535L)),
      Bridge.expression(lit(max - min))))
  }
}
