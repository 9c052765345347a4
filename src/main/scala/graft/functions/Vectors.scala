package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions over `array<float>` embeddings.
  *
  * Built on higher-order functions (`zip_with`/`aggregate`) which are
  * codegen'd and accumulate strictly left-to-right — so a SQL oracle
  * using sequential `list_sum` reproduces results exactly, and the
  * expressions stay inside whole-stage codegen (no UDF boxing).
  *
  * All math is double precision regardless of the stored element type
  * (floats upcast once at the scan edge).
  */
object Vectors {

  /** Upcast to array<double> once; all downstream math is double. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product via the native codegen'd [[DotProduct]] expression —
    * same left-to-right double accumulation as the composable
    * `aggregate(zip_with(...))` form, ~10× faster on pair scans.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine from precomputed norms: dot / (na * nb). Precomputing the
    * norms per row (not per pair) is what makes brute-force top-k
    * O(n·m·d) instead of O(n·m·3d) — and keeps the formula identical
    * to the oracle's.
    */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Random-hyperplane LSH bucket id over `nBits` deterministic
    * pseudo-random planes. Plane coefficients come from a fixed
    * integer mix (Knuth multiplicative hash) so every executor — and
    * every round — derives the same planes with zero driver state.
    * Each bit is one native `graft_dot` against a literal plane (an
    * element_at-per-dimension expression tree blows past codegen
    * limits and falls back to interpretation).
    */
  def lshBucket(v: Column, dim: Int, nBits: Int): Column = {
    val bits = (0 until nBits).map { j =>
      val plane = Array.tabulate(dim) { i =>
        val h = (((j.toLong * dim + i) * 2654435761L) & 0xffffffffL)
        h.toDouble / 4294967296.0 - 0.5
      }
      when(dot(v, typedlit(plane)) > 0, lit(1L << (nBits - 1 - j)))
        .otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b).as("lsh_bucket")
  }
}
