package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Random-hyperplane LSH signature over the GLOBAL plane window
  * [first, first+nBits): bit i is the sign of dot(v, plane(first+i)),
  * packed into one long.
  *
  * Bit-identical to the composed form this replaces (one ArrayDot
  * against a literal hyperplane per bit, OR-reduced): same plane
  * formula, same left-to-right summation, same >= 0 sign rule, same
  * strict length/null handling as ArrayDot. The composed form carried
  * nBits × dim literal doubles IN THE PLAN — a 20-band × 5-bit × 64-dim
  * signature put ~6,400 literals (a ~270 KB plan string) through every
  * analyze/optimize/codegen pass and overflowed whole-stage codegen
  * into interpreted eval. Here the plane matrix is a plain double[]
  * attached as a codegen reference object: the plan carries four ints,
  * and the generated code is one static call.
  */
case class HyperplaneSig(child: Expression, first: Int, nBits: Int, dim: Int)
  extends UnaryExpression with ImplicitCastInputTypes {
  require(first >= 0, s"first=$first must be >= 0")
  require(nBits > 0 && nBits <= 63, s"nBits=$nBits must be in 1..63")
  require(dim > 0, s"dim=$dim must be positive")

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"
  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(DoubleType))

  @transient private lazy val planes: Array[Double] =
    HyperplaneSig.planeMatrix(first, nBits, dim)

  override def nullSafeEval(v: Any): Any =
    HyperplaneSig.compute(v.asInstanceOf[ArrayData], planes, nBits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev,
      v => s"graft.plans.HyperplaneSig.compute($v, $ref, $nBits, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

object HyperplaneSig {
  def apply(c: Column, first: Int, nBits: Int, dim: Int): Column =
    call_function("hyperplane_sig", c, lit(first), lit(nBits), lit(dim))

  /** Deterministic pseudo-random hyperplane component for (bit, j):
    * splitmix64-style mix mapped to [-0.5, 0.5). The single source of
    * truth for the plane family. */
  def planeComponent(bit: Int, j: Int): Double = {
    var z = bit.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
  }

  /** Planes [first, first+nBits) flattened row-major (bit-major). */
  def planeMatrix(first: Int, nBits: Int, dim: Int): Array[Double] = {
    val m = new Array[Double](nBits * dim)
    var i = 0
    while (i < nBits) {
      var j = 0
      while (j < dim) {
        m(i * dim + j) = planeComponent(first + i, j)
        j += 1
      }
      i += 1
    }
    m
  }

  /** Called from generated code. Mirrors ArrayDot's strictness: the
    * vector must have exactly `dim` non-null elements (the composed
    * form failed the same way through ArrayDot's length/null checks). */
  def compute(v: ArrayData, planes: Array[Double], nBits: Int, dim: Int): Long = {
    if (v.numElements() != dim) {
      throw new IllegalArgumentException(
        s"hyperplane_sig: vector length ${v.numElements()} != dim $dim")
    }
    var sig = 0L
    var i = 0
    while (i < nBits) {
      var s = 0.0
      val off = i * dim
      var j = 0
      while (j < dim) {
        if (v.isNullAt(j)) {
          throw new IllegalArgumentException(s"hyperplane_sig: null element at index $j")
        }
        s += v.getDouble(j) * planes(off + j)
        j += 1
      }
      if (s >= 0) sig |= 1L << i
      i += 1
    }
    sig
  }
}
