package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Nearest-centroid assignment of a quantized `array<bigint>` vector as ONE
  * native codegen'd expression, scoped by a cell id: given the vector and
  * its cell, argmin over ONLY that cell's centroids. Every exact-integer
  * argmin in the vector tier runs through it:
  *
  *  - flat k-means assignment ([[NearestSubCellQ.flat]]: the whole table is
  *    cell 0 and the cell column is `lit(0)`) — replaces the
  *    `crossJoin(broadcast(centroids)) → n·k dist rows → groupBy(id)
  *    argmin` shape with a narrow per-row projection: zero exploded rows,
  *    zero shuffle (the crossJoin's n·k shuffled rows were the measured
  *    super-linear term of the sf1-constrate auto-dedup tier);
  *  - a tree quantizer's deeper levels (the cell is the parent node's
  *    argmin): a flat k ∝ n assignment costs n·k dots, coarse k₁ ≈ √k plus
  *    per-cell k₂ ≈ √k sub-cells cost n·2√k dots for the SAME leaf count —
  *    the coarse-quantizer shape of faiss IVF / the inverted multi-index;
  *  - PQ encode (the cell is the subspace, `lit(mm)`, over the
  *    `(subspace, code, centroid)` codebook table — Jégou et al., TPAMI
  *    2011).
  *
  * Exact integer comparison key `cn2 − 2·dot` over longs (`n2x` is
  * constant per row, so the ordering is the full distance's), strict-improve
  * argmin so ties break to the LOWEST sub-cell id (sub ids are required
  * ascending per cell). Null input array, null element, dimension
  * mismatch, null cell id, or a cell id with no sub-cell table all yield
  * null.
  *
  * The per-cell centroid tables ride inside the node as reference objects
  * indexed by cell id (dense 0..k₁−1), never inlined source (k·dim
  * literals would blow the 64 KB method bytecode limit). The input vector
  * is copied once per row into a per-partition primitive scratch buffer so
  * the k₂·dim inner loop runs on `long[]`, not ArrayData's per-element
  * accessor (sf10: ~100 s -> ~2 s per assignment pass after this hoist).
  */
case class NearestSubCellQ(left: Expression, right: Expression,
                           subCids: Array[Array[Int]],
                           subCqs: Array[Array[Array[Long]]],
                           subN2s: Array[Array[Long]])
    extends BinaryExpression {

  require(subCids.length == subCqs.length && subCids.length == subN2s.length &&
    subCids.nonEmpty, "sub-cell tables must be non-empty and aligned")
  require(subCids.indices.forall(c => subCids(c).length == subCqs(c).length &&
    subCids(c).length == subN2s(c).length),
    "per-cell sub arrays must be aligned")
  require(subCids.forall(ids => ids.sliding(2).forall(w => w.length < 2 || w(0) < w(1))),
    "sub cids must be strictly ascending per coarse cell (tie-break contract)")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"nearest_sub_cell_q expects (array<bigint>, int), got ($l, $r)")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_sub_cell_q"

  private val dim = subCqs.iterator.flatten.next().length

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val coarse = b.asInstanceOf[Int]
    if (x.numElements() != dim) return null
    if (coarse < 0 || coarse >= subCids.length || subCids(coarse).isEmpty) return null
    val xs = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (x.isNullAt(i)) return null
      xs(i) = x.getLong(i)
      i += 1
    }
    val cids = subCids(coarse); val cqs = subCqs(coarse); val cn2s = subN2s(coarse)
    var best = Long.MaxValue; var bestCid = -1
    var c = 0
    while (c < cqs.length) {
      val cq = cqs(c)
      var dot = 0L; var j = 0
      while (j < dim) { dot += xs(j) * cq(j); j += 1 }
      val score = cn2s(c) - 2L * dot
      if (score < best) { best = score; bestCid = cids(c) }
      c += 1
    }
    bestCid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cqsRef = ctx.addReferenceObj("subCqs", subCqs, "long[][][]")
      val cn2sRef = ctx.addReferenceObj("subN2s", subN2s, "long[][]")
      val cidsRef = ctx.addReferenceObj("subCids", subCids, "int[][]")
      val xs = ctx.addMutableState("long[]", "nearestSubCellScratch",
        v => s"$v = new long[$dim];")
      val best = ctx.freshName("best")
      val bestCid = ctx.freshName("bestCid")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val dot = ctx.freshName("dot")
      val cq = ctx.freshName("cq")
      val cqs = ctx.freshName("cqs")
      val cn2s = ctx.freshName("cn2s")
      val cids = ctx.freshName("cids")
      val score = ctx.freshName("score")
      s"""
         |if ($a.numElements() != $dim ||
         |    $b < 0 || $b >= ${subCids.length} || $cidsRef[$b].length == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $xs[$i] = $a.getLong($i);
         |  }
         |  long $best = Long.MAX_VALUE;
         |  int $bestCid = -1;
         |  if (!${ev.isNull}) {
         |    final long[][] $cqs = $cqsRef[$b];
         |    final long[] $cn2s = $cn2sRef[$b];
         |    final int[] $cids = $cidsRef[$b];
         |    for (int $c = 0; $c < $cqs.length; $c++) {
         |      final long[] $cq = $cqs[$c];
         |      long $dot = 0L;
         |      for (int $j = 0; $j < $dim; $j++) $dot += $xs[$j] * $cq[$j];
         |      final long $score = $cn2s[$c] - 2L * $dot;
         |      if ($score < $best) { $best = $score; $bestCid = $cids[$c]; }
         |    }
         |  }
         |  ${ev.value} = $bestCid;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): NearestSubCellQ =
    copy(left = newLeft, right = newRight)

  // the centroid payload participates in equality via its content, not
  // array identity, so structurally identical assignments dedupe in the plan
  override def equals(o: Any): Boolean = o match {
    case n: NearestSubCellQ =>
      n.left == left && n.right == right &&
        n.subCids.length == subCids.length &&
        n.subCids.indices.forall { c =>
          java.util.Arrays.equals(n.subCids(c), subCids(c)) &&
            n.subN2s(c).sameElements(subN2s(c)) &&
            n.subCqs(c).length == subCqs(c).length &&
            n.subCqs(c).indices.forall(i =>
              java.util.Arrays.equals(n.subCqs(c)(i), subCqs(c)(i)))
        }
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * left.hashCode() + right.hashCode()) +
      java.util.Arrays.deepHashCode(subCids.asInstanceOf[Array[AnyRef]])
}

object NearestSubCellQ {
  /** Column entry point: assign `q` to the nearest sub-cell of its coarse
    * cell. `sub` rows are `(coarse cid, sub cid, quantized components)`;
    * coarse cids must be dense `0..k₁−1` (the fit's numbering — enforced
    * by the max-cid bound here), sub cids unique within a coarse cell.
    * `cn2` is derived here so callers can't desync it.
    */
  def apply(q: Column, coarse: Column, sub: Seq[(Int, Int, Seq[Long])]): Column = {
    require(sub.nonEmpty, "sub-cell table must be non-empty")
    val k1 = sub.map(_._1).max + 1
    val byCoarse = sub.groupBy(_._1)
    val tables = (0 until k1).map { c =>
      byCoarse.getOrElse(c, Seq.empty).sortBy(_._2)
        .map { case (_, cid, cq) => (cid, cq.toArray) }
    }
    val cqs = tables.map(_.map(_._2).toArray).toArray
    GraftSqlBridge.column(NearestSubCellQ(
      GraftSqlBridge.expression(q),
      GraftSqlBridge.expression(coarse),
      tables.map(_.map(_._1).toArray).toArray,
      cqs,
      cqs.map(_.map(a => a.map(x => x * x).sum))))
  }

  /** Flat entry point: assign `q` to its nearest centroid over the whole
    * table, as cell 0 of the per-cell kernel. `centroids` are
    * `(cid, quantized components)` with distinct cids.
    */
  def flat(q: Column, centroids: Seq[(Int, Seq[Long])]): Column =
    apply(q, lit(0), centroids.map { case (cid, cq) => (0, cid, cq) })
}
