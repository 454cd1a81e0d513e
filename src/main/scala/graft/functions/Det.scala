package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, LongType}

/** Determinism helpers for float aggregates (SURVEY.md §2.9).
  *
  * Parallel float summation is partial-sum-order sensitive: the same query
  * can produce different last-ulp results under different partition counts,
  * which breaks hash-matching against the DuckDB oracle AND breaks
  * reproducibility across cluster sizes (a 1000-executor run must agree with
  * the local run). Accumulating in DECIMAL(38,10) makes the sum exact and
  * therefore independent of partitioning — the property that matters at
  * 100 TB, where partial-sum order is maximally shuffled.
  *
  * The decimal→double conversion itself is a portability hazard: Spark
  * converts via BigDecimal (correctly rounded) while DuckDB computes
  * `hugeint * 1e-10` (double-rounded) — they disagree by 1 ulp on real sums
  * (observed on sf0.01). So the exact decimal is first rounded to `scale`
  * places, scaled to an exact integer, and only then divided once in double:
  * both engines perform the same single correctly-rounded IEEE division.
  */
object Det {

  private val Dec = DecimalType(38, 10)

  /** Exact decimal sum surfaced as a deterministic double with `scale`
    * decimal places. Oracle twin:
    * `CAST(round(sum(CAST(x AS DECIMAL(38,10))), s) * 10^s AS BIGINT) / 10^s.0`.
    * The scaled integer must fit 2^53 (scale 2 → |sum| < 9e13; holds for all
    * testdata money columns with huge margin). NULL-preserving.
    */
  def dsum(c: Column, scale: Int = 2): Column = {
    val p = math.pow(10, scale)
    (round(sum(c.cast(Dec)), scale) * lit(p.toLong))
      .cast(LongType).cast(DoubleType) / lit(p)
  }

  /** Exact mean: deterministic dsum / count, rounded to `scale` places. */
  def davg(c: Column, scale: Int = 6): Column =
    round(dsum(c, scale) / count(lit(1)), scale)

  /** The MERGEABLE half of dsum — a partial exact decimal sum that a
    * materialized rollup can store (parquet DECIMAL(38,10)) and
    * [[dsumMerge]] can later combine losslessly: decimal addition is
    * associative and exact, so merge-of-partials equals the single-pass sum
    * bit-for-bit, whatever the partial boundaries (day files, micro-batches,
    * backfill chunks). Rounding happens only at merge time. */
  def dsumPartial(c: Column): Column = sum(c.cast(Dec))

  /** One step of an exact-decimal fold run outside Catalyst, taken as the
    * SQL `sum` buffer takes it: `acc + v` (`v` itself for an empty
    * accumulator) must fit `t`, else the fold fails with the SQL sum's own
    * ARITHMETIC_OVERFLOW. It fails under ANSI off too, where the SQL sum
    * would return null: a null partial would drop out of a later merge
    * unseen. */
  def addExact(acc: Decimal, v: Decimal, t: DecimalType): Decimal = {
    val s = if (acc == null) v else acc + v
    if (!s.changePrecision(t.precision, t.scale))
      throw org.apache.spark.sql.graft.SparkErrors.sumOfDecimalsOverflow()
    s
  }

  /** Merge [[dsumPartial]] columns exactly and finish with dsum's
    * round → scale-to-integer → single-double-division dance, so the merged
    * result is byte-identical to a from-scratch dsum over the raw rows. */
  def dsumMerge(c: Column, scale: Int = 2): Column = {
    val p = math.pow(10, scale)
    (round(sum(c), scale) * lit(p.toLong))
      .cast(LongType).cast(DoubleType) / lit(p)
  }

  /** Windowed twin of dsum: exact decimal sum over a window frame, surfaced
    * as a deterministic double. Window aggregation engines differ in partial-
    * sum order (DuckDB uses segment trees, Spark accumulates in frame order)
    * — exact decimal accumulation makes the result order-independent. */
  def dsumOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec,
               scale: Int = 2): Column = {
    val p = math.pow(10, scale)
    (round(sum(c.cast(Dec)).over(w), scale) * lit(p.toLong))
      .cast(LongType).cast(DoubleType) / lit(p)
  }
}
