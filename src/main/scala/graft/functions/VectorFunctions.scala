package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector ops over `array<float>` embedding columns.
  *
  * Implemented as compositions of Spark's higher-order functions with all
  * arithmetic forced to double and a left-to-right accumulation order, so the
  * result is bit-deterministic (required for the oracle hash compare). A
  * 64-dim dot product per row is a few hundred ns — the shuffle/scan dominates
  * at any realistic scale, so a custom codegen Expression is not warranted
  * (SURVEY.md §4: prefer composition over custom Catalyst artifacts).
  */
object VectorFunctions {

  /** Σ a_i * b_i, accumulated left-to-right in double (native expression with
    * the same accumulation order as `aggregate(zip_with(...))`, so the values
    * are bit-identical but evaluation is one JVM loop).
    */
  def dot(a: Column, b: Column): Column = CatalystExprs.dotF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]; null-safe via Spark null propagation. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Squared L2 distance. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0),
      (acc, v) => acc + v)

  /** Random-hyperplane LSH signature: `bits` sign bits of dot products against
    * seeded deterministic hyperplanes, packed into a long. The standard SimHash
    * family for cosine similarity — two vectors with high cosine share most
    * signature bits, so banding the signature buckets near-duplicates without
    * an all-pairs join.
    */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int, seed: Long): Column = {
    require(bits <= 63, "signature must fit a long")
    CatalystExprs.hyperplaneSig(vec, dim, bits, seed)
  }
}
