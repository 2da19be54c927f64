package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector arithmetic over `ArrayType` embedding columns, built from
  * codegen'd higher-order functions (`zip_with`/`aggregate`/`transform`) —
  * no UDFs, so the expressions stay inside whole-stage codegen and can be
  * pushed anywhere a normal Column can.
  *
  * All math is done in DOUBLE regardless of the storage element type
  * (testdata embeddings are `array<float>`): float accumulation loses
  * precision and would not reproduce against a double-precision oracle.
  */
object VectorOps {

  /** Elementwise cast to double — apply before any accumulation. */
  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(toDouble(a), x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot(a, b) / (na * nb))
  }

  // ---- native-Expression tier (requires GraftExtensions registered) ----

  /** Dot product via the codegen'd [[DotProduct]] Catalyst expression —
    * same left-to-right double summation as [[dot]], so results are
    * bit-identical; the loop runs inside whole-stage codegen instead of
    * interpreted lambdas. Needs `graft_dot` registered (GraftExtensions).
    */
  def dotNative(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Cosine via the FUSED native [[graft.functions.CosineSimilarity]]
    * expression: one array pass for dot + both norms, vs three passes for
    * the composed graft_dot formulation. Bit-identical accumulation order,
    * so results (and oracle hashes) are unchanged.
    */
  def cosineNative(a: Column, b: Column): Column = call_function("graft_cos", a, b)
}
