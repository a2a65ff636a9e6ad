package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column math over `array<float>` embedding columns.
  *
  * The hot path (pairwise dot products) runs on [[VecExprs.DotProduct]],
  * a custom codegen expression: built-in higher-order functions
  * (`aggregate`/`zip_with`) are CodegenFallback — interpreted per row
  * with closure + intermediate-array cost — which dominates all-pairs
  * similarity. The codegen loop accumulates sequentially left-to-right,
  * so results stay bit-identical to both the HOF formulation and
  * DuckDB's `list_dot_product` (outputs still rounded at 6 dp before
  * any threshold compare, see SURVEY §5).
  *
  * Callers must [[VecExprs.register]] on the session first (operators
  * do this; it's idempotent).
  */
object VectorFunctions {

  /** float[] → double[] via built-in element cast (codegen'd, exact). */
  def toDoubleVec(v: Column): Column = v.cast("array<double>")

  /** Σ xᵢyᵢ — codegen'd dot product of two double vectors. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Σ xᵢ² — squared L2 norm. */
  def norm2(v: Column): Column = dot(v, v)

  /** cosine from a precomputed dot and squared norms — written as
    * dot/(√n2a·√n2b) in exactly this operand order (mirrored in the
    * oracle SQL). The division is guarded: this build runs Spark 4's
    * ANSI default, where an unguarded double division by zero THROWS
    * (DIVIDE_BY_ZERO) — a zero-norm pair yields NULL here instead of
    * crashing the job. Callers still exclude zero-norm rows up front
    * (preparedNonZero/unitFrame): a NULL cosine row would silently
    * vanish from ≥-tau filters, and the DuckDB oracle side computes
    * NaN for the same pair (which orders LARGEST there), so only the
    * shared exclusion keeps both engines honest. */
  def cosineFromParts(dotCol: Column, n2a: Column, n2b: Column): Column = {
    val denom = sqrt(n2a) * sqrt(n2b)
    when(denom > 0, dotCol / denom)
  }
}
