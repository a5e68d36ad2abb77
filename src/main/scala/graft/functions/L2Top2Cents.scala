package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Row-local squared-L2 top-2 centroid assignment — custom Catalyst
  * `Expression` for the simplified-silhouette card (q208).
  *
  * `l2_top2_cents(v, cands, dim)` returns
  * `struct<cell: long, a: long, b: long>` where `cell` is the nearest
  * candidate's cent_id and `a`/`b` are the nearest / second-nearest
  * integer-micros squared-L2 distances under the exact ordering of the
  * broadcast-fanout + top-2-window idiom it replaces (guide §2.4: the
  * |cands|× row fan-out and the id-keyed rank exchange both disappear;
  * the selection happens inside the scan task). Callers pass `cands`
  * sorted by cent_id ascending so ties fall to the lower cent_id.
  *
  * DETERMINISM, replicated bit-for-bit from the column form
  * (`round(l2Chain(v, cv, dim) * 1e6).cast("long")` ranked by
  * (d ASC, cent_id ASC)):
  * - squared L2: LEFT-TO-RIGHT accumulation of (v(i) − cv(i))² over
  *   exactly `dim` components — `element_at` past either array's end
  *   (or a null element) nulls the whole sum, so a short/null-holed
  *   vector yields d = NULL exactly like the column chain;
  * - micros: ×1e6 then Spark `Round`'s double contract
  *   (`BigDecimal.valueOf(x).setScale(0, HALF_UP)`, NaN/Infinity pass
  *   through) then the non-ansi double→long cast (NaN→0, ±Inf→extremes);
  * - ordering: ASC with nulls FIRST (Spark's `asc` default), ties by
  *   candidate order (= cent_id asc);
  * - fewer than two candidates: `b` (and with one candidate only, just
  *   `b`) is NULL — the rank-2 row the window form would not emit;
  *   zero candidates: the whole struct is NULL (the fan-out form emits
  *   no row; callers filter).
  */
case class L2Top2Cents(left: Expression, right: Expression, dim: Int)
    extends BinaryExpression {

  require(dim >= 1, "l2_top2_cents needs dim >= 1")

  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("a", LongType, nullable = true),
    StructField("b", LongType, nullable = true)))
  override def prettyName: String = "l2_top2_cents"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(st: StructType, _))
          if st.length == 2 && st(0).dataType == LongType &&
            st(1).dataType.isInstanceOf[ArrayType] &&
            st(1).dataType.asInstanceOf[ArrayType].elementType == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"l2_top2_cents expects (array<double>, array<struct<long, " +
          s"array<double>>>), got $other")
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = nullSafeCodeGen(ctx, ev, (v, cands) => {
      val nc = ctx.freshName("nc")
      val cid = ctx.freshName("cid")
      val dv = ctx.freshName("dv")
      val dnul = ctx.freshName("dnul")
      val filled = ctx.freshName("filled")
      val ci = ctx.freshName("ci")
      val st = ctx.freshName("st")
      val cv = ctx.freshName("cv")
      val s = ctx.freshName("s")
      val sNul = ctx.freshName("sNul")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val dd = ctx.freshName("dd")
      val dl = ctx.freshName("dl")
      val idx = ctx.freshName("idx")
      val beats = ctx.freshName("beats")
      val j = ctx.freshName("j")
      val row = ctx.freshName("row")
      s"""
         |int $nc = $cands.numElements();
         |if ($nc == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $cid = new long[2];
         |  long[] $dv = new long[2];
         |  boolean[] $dnul = new boolean[2];
         |  int $filled = 0;
         |  for (int $ci = 0; $ci < $nc; $ci++) {
         |    org.apache.spark.sql.catalyst.InternalRow $st =
         |      $cands.getStruct($ci, 2);
         |    org.apache.spark.sql.catalyst.util.ArrayData $cv = $st.getArray(1);
         |    double $s = 0.0;
         |    boolean $sNul = $v.numElements() < $dim ||
         |      $cv.numElements() < $dim;
         |    for (int $i = 0; !$sNul && $i < $dim; $i++) {
         |      if ($v.isNullAt($i) || $cv.isNullAt($i)) { $sNul = true; break; }
         |      double $d = $v.getDouble($i) - $cv.getDouble($i);
         |      $s += $d * $d;
         |    }
         |    long $dl = 0L;
         |    if (!$sNul) {
         |      double $dd = $s * 1000000.0;
         |      if (!Double.isNaN($dd) && !Double.isInfinite($dd)) {
         |        $dd = java.math.BigDecimal.valueOf($dd)
         |          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue();
         |      }
         |      $dl = (long) $dd;
         |    }
         |    int $idx = -1;
         |    for (int $j = 0; $j < $filled; $j++) {
         |      boolean $beats = $sNul ? !$dnul[$j]
         |        : (!$dnul[$j] && $dl < $dv[$j]);
         |      if ($beats) { $idx = $j; break; }
         |    }
         |    if ($idx < 0 && $filled < 2) $idx = $filled;
         |    if ($idx >= 0) {
         |      for (int $j = java.lang.Math.min($filled, 1); $j > $idx; $j--) {
         |        $cid[$j] = $cid[$j - 1]; $dv[$j] = $dv[$j - 1];
         |        $dnul[$j] = $dnul[$j - 1];
         |      }
         |      $cid[$idx] = $st.getLong(0); $dv[$idx] = $dl; $dnul[$idx] = $sNul;
         |      if ($filled < 2) $filled++;
         |    }
         |  }
         |  Object[] $row = new Object[3];
         |  $row[0] = $cid[0];
         |  $row[1] = $dnul[0] ? null : (Object) $dv[0];
         |  $row[2] = ($filled < 2 || $dnul[1]) ? null : (Object) $dv[1];
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions
         |    .GenericInternalRow($row);
         |}
       """.stripMargin
    })
    res
  }

  override def nullSafeEval(l: Any, rIn: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val cands = rIn.asInstanceOf[ArrayData]
    val nc = cands.numElements()
    if (nc == 0) return null
    val cid = new Array[Long](2)
    val dv = new Array[Long](2)
    val dnul = new Array[Boolean](2)
    var filled = 0
    var ci = 0
    while (ci < nc) {
      val st = cands.getStruct(ci, 2)
      val cv = st.getArray(1)
      var s = 0.0
      var sNul = v.numElements() < dim || cv.numElements() < dim
      var i = 0
      while (!sNul && i < dim) {
        if (v.isNullAt(i) || cv.isNullAt(i)) sNul = true
        else {
          val d = v.getDouble(i) - cv.getDouble(i)
          s += d * d
          i += 1
        }
      }
      var dl = 0L
      if (!sNul) {
        var dd = s * 1000000.0
        if (!dd.isNaN && !dd.isInfinite) {
          dd = java.math.BigDecimal.valueOf(dd)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
        }
        dl = dd.toLong
      }
      var idx = -1
      var j = 0
      while (idx < 0 && j < filled) {
        val beats = if (sNul) !dnul(j) else !dnul(j) && dl < dv(j)
        if (beats) idx = j
        j += 1
      }
      if (idx < 0 && filled < 2) idx = filled
      if (idx >= 0) {
        var p = math.min(filled, 1)
        while (p > idx) {
          cid(p) = cid(p - 1); dv(p) = dv(p - 1); dnul(p) = dnul(p - 1)
          p -= 1
        }
        cid(idx) = st.getLong(0); dv(idx) = dl; dnul(idx) = sNul
        if (filled < 2) filled += 1
      }
      ci += 1
    }
    new GenericInternalRow(Array[Any](cid(0),
      if (dnul(0)) null else dv(0),
      if (filled < 2 || dnul(1)) null else dv(1)))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Top2Cents =
    copy(left = newLeft, right = newRight)
}

object L2Top2Cents {
  /** Nearest / second-nearest candidate of `v` by integer-micros squared
    * L2 over exactly `dim` components, against a cent_id-sorted candidate
    * array; ties to the lower cent_id, null distances first. */
  def l2_top2_cents(v: Column, cands: Column, dim: Int): Column =
    GraftShims.toColumn(L2Top2Cents(
      GraftShims.toExpression(v),
      GraftShims.toExpression(cands), dim))
}
