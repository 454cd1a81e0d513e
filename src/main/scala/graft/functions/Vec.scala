package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` columns as codegen-friendly higher-order
  * function expressions (SURVEY.md §2.8): no UDFs, no mapPartitions — the
  * folds stay inside whole-stage codegen and scale linearly with row count.
  *
  * Floats are widened to double BEFORE any arithmetic so Spark and the DuckDB
  * oracle (which casts to DOUBLE[]) perform identical IEEE operations; all
  * folds are sequential left-to-right on both sides, and every surfaced value
  * is rounded to 6 dp to absorb any residual summation-order ulp.
  *
  * Column-name-based (expr strings) because lambda HOFs are easiest to state
  * in SQL form; callers pass simple column references.
  */
object Vec {

  /** Dot product — the native codegen'd VecDot expression (one fused loop
    * in whole-stage codegen; bit-identical to the HOF fold it replaced,
    * which is kept below for cross-checking). */
  def dot(a: String, b: String): Column = expr(s"vec_dot($a, $b)")

  /** Reference HOF formulation of dot — interpreted three-fold version;
    * VecGramSpec asserts bit-equality with the native expression. */
  def dotHof(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> double(x) * double(y)), 0D, (s, v) -> s + v)")

  /** Squared L2 norm = dot(a, a). */
  def norm2(a: String): Column = dot(a, a)

  /** L2 norm. */
  def norm(a: String): Column = sqrt(norm2(a))

  /** Euclidean distance via the dot-product identity
    * `|a-b|^2 = |a|^2 + |b|^2 - 2ab` — chosen over a zip_with difference fold
    * because the DuckDB oracle computes the same three `list_dot_product`
    * terms, keeping both engines' float paths structurally identical.
    * `greatest(_, 0)` guards the tiny negative that cancellation can give. */
  def euclid(a: String, b: String): Column =
    sqrt(greatest(norm2(a) + norm2(b) - lit(2.0) * dot(a, b), lit(0.0)))

  /** Cosine similarity from the same sequential-fold dot products. */
  def cosine(a: String, b: String): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))
}
