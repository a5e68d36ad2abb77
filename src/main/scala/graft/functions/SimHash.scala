package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** 64-bit SimHash over a token array — custom Catalyst `Expression`.
  *
  * Why custom (SURVEY.md §7 preference order): the per-bit ±1 accumulation
  * needs a variable shift inside a loop, which Spark's higher-order
  * functions can't express without unrolling 64 `aggregate` passes over the
  * token array (O(64·T) column ops). This expression does one xxhash64 per
  * token and updates 64 counters imperatively — O(T) with constant factors,
  * no UDF serialization (operates on UTF8String directly).
  *
  * Deterministic: xxhash64(seed=42) per token, bit b of the final hash set
  * iff the signed counter for b is positive. Two documents' SimHashes
  * differ in few bits iff their token multisets are similar.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  // No ExpectsInputTypes: AbstractDataType is private[sql] in Spark 4.
  // The only call site (simhash64 below) always passes array<string>.
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(
          arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Column-level entry point: simhash64 of an array<string> column. */
  def simhash64(tokens: Column): Column =
    GraftShims.toColumn(SimHash64(GraftShims.toExpression(tokens)))
}
