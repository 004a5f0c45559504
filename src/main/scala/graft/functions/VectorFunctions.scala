package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions over array<float>/array<double>
  * embeddings. Built from higher-order functions (`zip_with` +
  * `aggregate`) so vectors stay packed (no row explosion of elements) and
  * everything is codegen'd — the scale-safe shape for 100 TB of
  * embedding rows.
  *
  * All math is done in double after an explicit cast so results are
  * bit-comparable with a DuckDB oracle casting to DOUBLE[].
  */
object VectorFunctions {

  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product via the custom ArrayDot codegen expression: identical
    * left-to-right summation (bit-equal to the aggregate/zip_with form
    * and to a sequential SQL fold) but no per-row intermediate array —
    * the difference between GC-bound and compute-bound at millions of
    * candidate pairs. */
  def dot(a: Column, b: Column): Column =
    graft.plans.ArrayDot(toDouble(a), toDouble(b))

  def norm(a: Column): Column = {
    val d = toDouble(a)
    sqrt(graft.plans.ArrayDot(d, d))
  }

  /** Pre-cast hot-path variants: callers guarantee array<double> input
    * (ArrayDot reads raw doubles), skipping the per-row transform-cast
    * allocation that dot/norm pay for arbitrary numeric arrays — on a
    * candidate-pair product that cast is two fresh arrays per pair. */
  def dotPre(a: Column, b: Column): Column = graft.plans.ArrayDot(a, b)
  def normPre(a: Column): Column = sqrt(graft.plans.ArrayDot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Random-hyperplane LSH signature: bit i = sign of dot(v, h_i),
    * packed into a Long (nBits <= 63). */
  def hyperplaneSig(v: Column, nBits: Int, dim: Int): Column =
    hyperplaneSigPre(toDouble(v), nBits, dim)

  /** Pre-cast variant: input must already be array<double> (skips the
    * per-row transform-cast copy — see dotPre). */
  def hyperplaneSigPre(v: Column, nBits: Int, dim: Int): Column =
    hyperplaneSigPreAt(v, 0, nBits, dim)

  /** [[hyperplaneSigPre]] over the GLOBAL plane window
    * [first, first+nBits): signatures wider than one long's 63 bits
    * split across several longs by calling this with increasing
    * `first` — plane indices are global, so splitting changes the
    * packing, never the planes (a 100-plane banded signature is 20
    * five-bit calls, one per band).
    *
    * One codegen expression (plans/HyperplaneSig), bit-identical to
    * the ArrayDot-vs-literal-plane composition it replaces — which put
    * nBits × dim literal doubles in the plan (a 20-band signature was
    * ~6,400 literals / a 270 KB plan string re-optimized per run, and
    * overflowed whole-stage codegen into interpreted eval). */
  def hyperplaneSigPreAt(v: Column, first: Int, nBits: Int, dim: Int): Column =
    graft.plans.HyperplaneSig(v, first, nBits, dim)
}
