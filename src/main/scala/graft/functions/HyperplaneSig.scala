package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Random-hyperplane LSH signature of an `array<double>` vector — custom
  * Catalyst `Expression` with full codegen.
  *
  * Bit i of the result is 1 iff `dot(v, planes(i)) > 0`, with the dot
  * accumulated LEFT-TO-RIGHT in IEEE double — element-for-element the
  * same fold as the HOF baseline it replaces
  * (`aggregate(zip_with(v, plane, _*_), 0.0, _+_)`), so
  * `OracleGen.annLshSql`'s bit-parity with DuckDB holds unchanged.
  * Preserved HOF edge semantics: a null element anywhere nulls that
  * plane's dot, and `null > 0` is false, so the bit is 0; a vector whose
  * length differs from the planes' dim zeroes EVERY bit (zip_with pads
  * the shorter side with nulls). `Similarity.lshSignature` additionally
  * fail-fasts on wrong-dim vectors before this expression runs.
  *
  * Why native: the HOF form evaluates nBits interpreted `zip_with` +
  * `aggregate` lambdas per ROW (16×64 = 1024 per-element closures for the
  * default signature — the same CodegenFallback cost class whose
  * measurement forced the [[CosineSim]] escalation). Here the whole
  * signature is one inlined nested loop in the enclosing
  * WholeStageCodegen stage. Measured (500k × 64-dim vectors,
  * local[32]): signature stage 0.28 s vs 2.77 s HOF (~10×); q30
  * end-to-end ~1.16× (its bucketed pair join dominates — PLANS.md).
  *
  * The planes ride along as a reference object (driver-computed constants
  * serialized with the expression), not child expressions — they are
  * query-time constants, and baking them into codegen references keeps
  * the generated code free of 1024 literal nodes. Stored as
  * `IndexedSeq[IndexedSeq[Double]]` (NOT `Array[Array[Double]]`) so the
  * case-class equals/hashCode are structural: two signature expressions
  * over the same planes compare equal, which Catalyst canonicalization
  * and common-subexpression elimination rely on to dedupe them.
  */
case class HyperplaneSig(child: Expression, planes: IndexedSeq[IndexedSeq[Double]])
    extends UnaryExpression {

  /** Flat JVM arrays for the hot loops; rebuilt after deserialization. */
  @transient private lazy val planesArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  /** Input MUST be array<double>: getDouble over an array<float>'s
    * UnsafeArrayData would read 8-byte strides across 4-byte slots —
    * silent garbage, not an error. */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig expects array<double>, got ${other.simpleString}")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val p = ctx.addReferenceObj("planes", planesArr, "double[][]")
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val nul = ctx.freshName("nul")
      val row = ctx.freshName("row")
      s"""
         |long $sig = 0L;
         |double[][] $row = $p;
         |if ($row.length == 0 || $a.numElements() == $row[0].length) {
         |  for (int $i = 0; $i < $row.length; $i++) {
         |    double $acc = 0.0; boolean $nul = false;
         |    for (int $j = 0; $j < $row[$i].length; $j++) {
         |      if ($a.isNullAt($j)) { $nul = true; break; }
         |      $acc += $a.getDouble($j) * $row[$i][$j];
         |    }
         |    if (!$nul && $acc > 0) $sig |= (1L << $i);
         |  }
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val rows = planesArr
    var sig = 0L
    if (rows.isEmpty || a.numElements() == rows(0).length) {
      var i = 0
      while (i < rows.length) {
        val p = rows(i)
        var acc = 0.0; var nul = false; var j = 0
        while (!nul && j < p.length) {
          if (a.isNullAt(j)) nul = true
          else { acc += a.getDouble(j) * p(j); j += 1 }
        }
        if (!nul && acc > 0) sig |= (1L << i)
        i += 1
      }
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

object HyperplaneSig {
  /** Signature column over the given hyperplanes (auto-cast to
    * array<double>; a float-array input would otherwise fail the
    * expression's type check). */
  def hyperplane_sig(vec: Column, planes: Seq[Array[Double]]): Column =
    GraftShims.toColumn(HyperplaneSig(
      GraftShims.toExpression(vec.cast("array<double>")),
      planes.map(_.toIndexedSeq).toIndexedSeq))
}
