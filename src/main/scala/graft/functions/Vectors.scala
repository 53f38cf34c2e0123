package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector primitives over ArrayType(FloatType) embedding columns.
  *
  * Products and sums are computed in DOUBLE, folding left in index
  * order — `aggregate` with a 0.0 init adds terms sequentially, which
  * both matches DuckDB's `list_reduce` fold (0.0 + p1 ≡ p1) and keeps
  * results reproducible regardless of partitioning (no tree-reduction
  * reordering). float×float→double is exact, so the only rounding is
  * the unavoidable sequential-sum rounding, identical everywhere.
  *
  * All higher-order built-ins — codegen-friendly, no UDF serialization.
  * A native Catalyst Expression variant (fused dot/norm loop, doGenCode)
  * lives in graft.plans for the perf path; these are the portable
  * reference forms.
  */
object Vectors {
  private def dbl(c: Column): Column = c.cast("double")

  /** Σ aᵢ·bᵢ — native codegen'd Catalyst expression (hot path). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftSql.floatDot(a, b)

  /** Portable higher-order-function form of [[dot]]; bit-identical
    * results (same fold order), kept as the reference implementation
    * and exercised against the native one in VectorExprSpec.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => dbl(x) * dbl(y)), lit(0.0), (acc, x) => acc + x)

  /** Σ (aᵢ−bᵢ)² — native codegen'd Catalyst expression (hot path). */
  def sqDist(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftSql.floatSqDist(a, b)

  /** Portable higher-order-function form of [[sqDist]]; bit-identical
    * results (same per-term arithmetic and fold order), kept as the
    * reference implementation and exercised against the native one in
    * VectorExprSpec.
    */
  def sqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (dbl(x) - dbl(y)) * (dbl(x) - dbl(y))),
      lit(0.0), (acc, x) => acc + x)

  /** ‖a‖₂ (sequential double sum of squares, codegen'd). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with precomputed norms (callers precompute norms
    * once per vector instead of per pair).
    */
  def cosineWithNorms(dotAB: Column, normA: Column, normB: Column): Column =
    dotAB / (normA * normB)

  /** Declare an embedding column DENSE (no null elements) so
    * optimizer rewrites gated on `containsNull = false` — the
    * [[graft.plans.NativeVectorRewrite]] HOF→native upgrade — can fire
    * on PARQUET-SOURCED frames, whose scans always report elements
    * nullable. Zero-cost retyping pass-through (Spark's `KnownNotNull`
    * pattern), NOT a runtime check: assert only what ingestion
    * enforces — a lying assertion makes the natives read undefined
    * buffer slots for null elements. SQL form: `assert_dense(col)`.
    */
  def assertDense(a: Column): Column = {
    val gs = org.apache.spark.sql.graft.GraftSql
    gs.column(graft.plans.KnownDenseArray(gs.expression(a)))
  }
}
