package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-capable text-shingling / hashing expressions.
  *
  * These replace higher-order-function Column trees (`transform` /
  * `filter` lambdas are CodegenFallback: interpreted eval, ~ms/row on
  * long texts) in the dedup hot path. The interpreted cost compounds
  * because Catalyst freely duplicates projection expressions into
  * synthesized/pushed-down filters and parallel plan branches — a cheap
  * single-pass native expression makes every such copy harmless, which
  * is the property that survives a 100x scale-up.
  *
  * Semantics replicate the previous Column trees bit-for-bit:
  * WordShingles is covered by the unchanged DuckDB oracles of the
  * shingle queries; SortedShingleHashes/MinHashSig feed only the
  * rows-only LSH/SimHash queries, so their equality with the legacy
  * transform/xxhash64 trees is asserted directly in TextShinglesSpec.
  * Shared rules: Spark `trim` removes ASCII spaces only; `split` on
  * java-regex "\\s+" with limit -1; shingles are n-token windows joined
  * by a single space; `distinct` keeps first occurrence
  * (array_distinct order).
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
  extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"shingle width n=$n must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WordShingles.compute($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  private val Whitespace = Pattern.compile("\\s+")

  def apply(c: Column, n: Int, distinct: Boolean): Column =
    call_function("word_shingles", c, lit(n), lit(distinct))

  /** Called from generated code. */
  def compute(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    // UTF8String.trim() trims ASCII space only — same as Spark's trim().
    val toks = Whitespace.split(text.trim().toString, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val count = toks.length - n + 1
    val out = new java.util.ArrayList[Any](count)
    val seen = if (distinct) new java.util.HashSet[String](count * 2) else null
    var i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      if (!distinct || seen.add(s)) out.add(UTF8String.fromString(s))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Sorted xxhash64 shingle hashes in ONE pass:
  * `array_sort(transform(word_shingles(text, n, distinct=true),
  * s -> xxhash64(s)))` fused into a single expression. The unfused
  * chain materializes the string array, re-walks it for hashing (a
  * lambda), then sorts via `array_sort`
  * — whose comparator is a LAMBDA the engine evaluates interpreted per
  * element pair. One native pass builds the strings in a reused
  * buffer, dedups (STRING-level, first occurrence — the same set the
  * unfused chain hashes), hashes straight to a long[], and
  * Arrays.sort()s it. Hash-collided distinct shingles keep BOTH longs,
  * exactly like the unfused chain (sorted adjacency) — equality is
  * asserted in TextShinglesSpec. Null text yields null (wrap in
  * coalesce for empty-array semantics); fewer than n tokens yields an
  * empty array. */
case class SortedShingleHashes(child: Expression, n: Int)
  extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"shingle width n=$n must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_shingle_hashes"
  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    SortedShingleHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SortedShingleHashes.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): SortedShingleHashes =
    copy(child = newChild)
}

object SortedShingleHashes {
  /** Spark's xxhash64 seed: each element hashes like `xxhash64(s)`. */
  val Seed = 42L
  private val Whitespace = Pattern.compile("\\s+")

  def apply(c: Column, n: Int): Column =
    call_function("sorted_shingle_hashes", c, lit(n))

  /** Called from generated code. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = Whitespace.split(text.trim().toString, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val count = toks.length - n + 1
    val out = new Array[Long](count)
    val seen = new java.util.HashSet[String](count * 2)
    val sb = new java.lang.StringBuilder(64)
    var m = 0
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      if (seen.add(s)) {
        val u = UTF8String.fromString(s)
        out(m) = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.numBytes, Seed)
        m += 1
      }
      i += 1
    }
    java.util.Arrays.sort(out, 0, m)
    new GenericArrayData(if (m == count) out else java.util.Arrays.copyOf(out, m))
  }
}

/** Intersection SIZE of two ascending-sorted long arrays by a merge
  * walk — `size(array_intersect(a, b))` without building the
  * intersection array or its hash set, for arrays the caller already
  * keeps sorted (the prefix-filter dedup path). Multiset semantics
  * match array_intersect on set-like inputs (each value counted once;
  * duplicate values — hash-collided shingles — advance both cursors
  * together, matching array_intersect's distinct-output contract).
  * Null array yields null. */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.SortedIntersectCount.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def apply(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)

  /** Called from generated code. Both inputs must be sorted ascending;
    * duplicate values are counted once (set semantics). */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val va = a.getLong(i)
      val vb = b.getLong(j)
      if (va < vb) i += 1
      else if (va > vb) j += 1
      else {
        c += 1
        val v = va
        while (i < na && a.getLong(i) == v) i += 1
        while (j < nb && b.getLong(j) == v) j += 1
      }
    }
    c
  }
}

/** MinHash signature from pre-hashed shingles in ONE pass: element j of
  * the result is min over input hashes h of xxhash64(h, j) — exactly
  * `array((0 until k).map(j => array_min(transform(hs, h =>
  * xxhash64(h, lit(j))))))`, which is k interpreted passes. Spark's
  * xxhash64(h, j) folds children left-to-right from seed 42:
  * hashInt(j, hashLong(h, 42)) — `lit(j)` is an IntegerType literal,
  * which Spark hashes via XXH64.hashInt. Empty input yields
  * k nulls (array_min of empty is null) — callers filter empty docs. */
case class MinHashSig(child: Expression, k: Int)
  extends UnaryExpression with ImplicitCastInputTypes {
  require(k >= 1, s"signature length k=$k must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"
  override def inputTypes = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.MinHashSig.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  val Seed = 42L

  def apply(c: Column, k: Int): Column = call_function("minhash_sig", c, lit(k))

  /** Called from generated code. */
  def compute(hashes: ArrayData, k: Int): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](k)) // k nulls
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      // null elements hash like xxhash64(null, j): the null child leaves
      // the running hash at the seed, then j folds in.
      val base = if (hashes.isNullAt(i)) Seed else XXH64.hashLong(hashes.getLong(i), Seed)
      var j = 0
      while (j < k) {
        // lit(j) is an IntegerType literal — Spark folds it via hashInt.
        val h = XXH64.hashInt(j, base)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
