package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The full signed-random-projection sketch of a quantized `array<bigint>`
  * vector as ONE native codegen'd expression: bit j of the result is set
  * iff `sum_d x_d · sign(j, d) > 0` (exact long sums; the zero tie clears
  * the bit — the same declared rule the DuckDB oracle replays).
  *
  * Replaces the relational sketch shape
  * `posexplode(dims) → join(broadcast sign table) → groupBy(id) with
  * `bits` conditional sums` — n·dim exploded rows through a shuffle —
  * with a narrow per-row projection whose bits·dim multiply-adds run
  * inside whole-stage codegen. The sign table rides in the expression
  * node (bits·dim ints, the same data the broadcast carried) via a
  * reference object.
  *
  * Null / shape semantics: null input, null element, or a vector whose
  * length differs from the sign table's dimension yields null.
  */
case class SrpSketchQ(child: Expression, signs: Array[Array[Int]])
    extends UnaryExpression {

  require(signs.nonEmpty && signs.length <= 64, "1..64 sketch bits")
  require(signs.forall(_.length == signs.head.length), "ragged sign table")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"srp_sketch_q expects array<bigint>, got $t")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "srp_sketch_q"

  private val dim = signs.head.length

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() != dim) return null
    // validating copy to a primitive array once per row, pure long[]
    // math after — same accessor-hoist as NearestSubCellQ
    val xs = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (x.isNullAt(i)) return null
      xs(i) = x.getLong(i)
      i += 1
    }
    var sketch = 0L
    var j = 0
    while (j < signs.length) {
      val sj = signs(j)
      var s = 0L; var d = 0
      while (d < dim) { s += xs(d) * sj(d); d += 1 }
      if (s > 0L) sketch |= (1L << j)
      j += 1
    }
    sketch
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val signsRef = ctx.addReferenceObj("signs", signs, "int[][]")
      val xs = ctx.addMutableState("long[]", "srpSketchScratch",
        v => s"$v = new long[$dim];")
      val sketch = ctx.freshName("sketch")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val sj = ctx.freshName("sj")
      s"""
         |if ($a.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $xs[$i] = $a.getLong($i);
         |  }
         |  long $sketch = 0L;
         |  if (!${ev.isNull}) {
         |    for (int $j = 0; $j < ${signs.length}; $j++) {
         |      final int[] $sj = $signsRef[$j];
         |      long $s = 0L;
         |      for (int $d = 0; $d < $dim; $d++) $s += $xs[$d] * $sj[$d];
         |      if ($s > 0L) $sketch |= (1L << $j);
         |    }
         |  }
         |  ${ev.value} = $sketch;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SrpSketchQ =
    copy(child = newChild)

  override def equals(o: Any): Boolean = o match {
    case n: SrpSketchQ =>
      n.child == child && n.signs.length == signs.length &&
        n.signs.indices.forall(i => java.util.Arrays.equals(n.signs(i), signs(i)))
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + signs.length

  override def toString: String = s"srp_sketch_q($child, bits=${signs.length})"
}

object SrpSketchQ {
  /** Column entry point: `signs(j)(d)` is hyperplane bit j's sign at
    * dimension d (±1).
    */
  def apply(q: Column, signs: Seq[Seq[Int]]): Column =
    GraftSqlBridge.column(SrpSketchQ(
      GraftSqlBridge.expression(q), signs.map(_.toArray).toArray))
}
