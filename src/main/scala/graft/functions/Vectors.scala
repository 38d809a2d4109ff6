package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector kernels over `ArrayType(FloatType)` columns — the engine's
  * embedding representation (SURVEY.md §1.1, qdrant_io_manager.py:31-34).
  * All math is done in DOUBLE via codegen'd higher-order functions; no
  * UDFs, so whole-stage codegen stays intact across the similarity join.
  */
object Vectors {

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Column = org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def expr(c: Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)

  /** Element-wise cast to double (floats promote exactly). A direct
    * array cast, NOT `transform(v, _.cast("double"))`: Cast is
    * codegen'd element-wise over arrays, while ArrayTransform is
    * CodegenFallback (round-22 PlanAudit) — identical values and null
    * behavior either way.
    */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product in double precision (M5 hot path, SURVEY.md §2.11) —
    * native codegen'd expression; same summation order as the HOF
    * formulation, so results are bit-identical.
    */
  def dot(a: Column, b: Column): Column =
    native(graft.expressions.DotProduct(expr(a), expr(b)))

  /** HOF dot product (kept as the independent cross-check the native
    * expression is tested against).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity (Qdrant collection metric, qdrant_io_manager.py:33).
    * NULL when either vector has zero norm. Native codegen'd single-pass
    * loop — the hot inner expression of every similarity join.
    */
  def cosine(a: Column, b: Column): Column =
    native(graft.expressions.CosineSimilarity(expr(a), expr(b)))

  /** HOF cosine (cross-check twin of [[cosine]]). */
  def cosineHof(a: Column, b: Column): Column = {
    val d  = dotHof(a, b)
    val na = sqrt(dotHof(a, a))
    val nb = sqrt(dotHof(b, b))
    when(na > 0.0 && nb > 0.0, d / (na * nb))
  }

  /** Element-wise sum of two equal-length vectors. */
  def add(a: Column, b: Column): Column =
    zip_with(toDouble(a), toDouble(b), (x, y) => x + y)

  /** True when the vector is non-degenerate: expected size and at least
    * one non-zero component (embedded_articles.py:146-166 guards, F13).
    */
  def isValid(v: Column, dim: Int): Column =
    size(v) === dim && exists(v, x => x =!= 0.0f)
}
