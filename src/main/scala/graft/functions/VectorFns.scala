package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>`/`array<double>` columns, as pure
  * Column expressions (`zip_with`/`aggregate` are codegen'd higher-order
  * functions — no UDF serialization cost, no driver round-trips).
  */
object VectorFns {

  private def asD(c: Column): Column = c.cast("array<double>")

  /** Dot product via the codegen'd [[VecDotExpr]] (`vec_dot` from the
    * function catalogue: the session needs [[graft.GraftExtensions]] or one
    * [[graft.Sessions.init]]).
    */
  def dot(a: Column, b: Column): Column = VectorExpressions.vecDot(a, b)

  /** Interpreted HOF formulation — kept for equivalence testing against the
    * codegen'd path.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asD(a), asD(b), (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))

  /** |a-b| via the dot identity aa - 2ab + bb (codegen'd primitives). */
  def l2Dist(a: Column, b: Column): Column =
    sqrt(greatest(dot(a, a) - lit(2.0d) * dot(a, b) + dot(b, b), lit(0.0d)))

  /** Literal query vector as an array<double> Column. */
  def vecLit(v: Seq[Double]): Column = array(v.map(lit): _*)

  /** Coarse IVF-style bucket id: sign-bits of `nBits` random-ish projections,
    * computed from per-dimension hash seeds. Deterministic, shuffle-free.
    * Used to restrict ANN search to matching buckets (plus neighbors probed
    * by the caller).
    */
  def signBucket(vec: Column, nBits: Int): Column = {
    // Projection j uses pseudo-random +/-1 weights derived from (j, dim idx):
    // hash-based Rademacher projection — cheap, deterministic, index-free.
    val bits = (0 until nBits).map { j =>
      val s = aggregate(
        zip_with(asD(vec), sequence(lit(0), size(vec) - 1),
          (x, i) => x * when(pmod(hash(i, lit(j)), lit(2)) === 0, 1.0d).otherwise(-1.0d)),
        lit(0.0d), (acc, v) => acc + v)
      when(s >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
