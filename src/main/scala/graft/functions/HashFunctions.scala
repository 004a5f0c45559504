package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Distributed hashing primitives for near-dup detection — MinHash
  * signatures and LSH band hashes as pure Column trees over xxhash64
  * (codegen'd, no UDFs, vectors/arrays stay packed).
  */
object HashFunctions {

  /** MinHash signature as array<long> of length k from pre-hashed
    * shingles: element j is min over xxhash64(h, j) — k seeded long
    * hashes (fixed-width, codegen'd) instead of k string re-hashes, an
    * order of magnitude off the signature cost (Broder's k-permutation
    * scheme with seeded hashes). Empty inputs yield null mins; filter
    * empty docs first. */
  def minhashFromHashes(hashes: Column, k: Int): Column =
    graft.plans.MinHashSig(hashes, k)

  /** LSH band hashes: array<struct<band:int, h:long>> where h is a hash
    * of the signature slice for that band. Docs sharing any (band, h)
    * become candidate pairs — the classic b-bands × r-rows tradeoff. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.cast("int").as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), b).as("h")))

  /** 8-bit chunks of a 64-bit SimHash signature as
    * array<struct<chunk:int, v:long>>. By pigeonhole, two signatures at
    * Hamming distance <= 7 must agree on at least one of the 8 chunks,
    * so a join on (chunk, v) is an EXACT candidate generator for
    * ham <= 7 (host-side loop: shift amounts must be literal ints). */
  def simhashChunks(sig: Column): Column =
    array((0 until 8).map { c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(sig, c * 8).bitwiseAND(lit(0xffL)).as("v"))
    }: _*)
}
