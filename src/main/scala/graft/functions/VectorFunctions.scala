package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column functions (north-star similarity surface; absent
  * from the reference). Vectors are plain `array<float>` columns
  * (embeddings.parquet) — no UDT, no MLlib Vector boxing.
  *
  * All math is expressed with higher-order array functions over doubles:
  * per-element float→double casts are exact, multiplication is IEEE-
  * deterministic, and `aggregate` folds left-to-right in array order — so a
  * DuckDB loop over the same list produces bit-identical results, which the
  * oracle compare relies on. Codegen-friendly; if profiling at scale shows
  * boxing overhead, the designated upgrade is a fused native Catalyst
  * `Expression` with `doGenCode` (same semantics, same results).
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double precision — native codegen'd loop
    * ([[graft.functions.expressions.DotProduct]]); sums left-to-right, so
    * results are bit-identical to [[dotHof]] and to a sequential engine
    * loop, including NULL semantics (mismatched lengths or null elements →
    * NULL; both asserted in TextVectorSpec/EdgeCaseSpec).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.DotProduct(a, b)

  /** Reference higher-order-function formulation of [[dot]] — kept as the
    * pure-Catalyst cross-check for the native expression (tests assert
    * bit-equality). ~100× slower per pair: lambda frames + an intermediate
    * array per row, outside whole-stage codegen.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; zero vectors score 0. The zero-denominator branch is
    * guarded BEFORE the division — under ANSI mode (Spark 4 default) even a
    * double division by zero throws rather than yielding NaN.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Random-hyperplane (SimHash-style) LSH bucket for cosine similarity:
    * sign pattern of the vector against `nBits` seeded ±1 hyperplanes.
    * Hyperplanes are generated driver-side from the seed and embedded as
    * literal arrays, so each bit is one native dot product against a
    * constant — no stored model, deterministic, and codegen-fast.
    */
  def hyperplaneBucket(v: Column, nBits: Int, seed: Int, dim: Int): Column = {
    val bits = (0 until nBits).map { j =>
      val rnd = new scala.util.Random(seed.toLong * 7919 + j)
      val plane = Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
      when(dot(v, typedlit(plane)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
