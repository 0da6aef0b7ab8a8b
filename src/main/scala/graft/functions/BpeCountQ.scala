package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Post-BPE token count of an `array<string>` token column under a FIXED
  * trained merge table, as a native codegen'd Catalyst expression.
  *
  * BPE *training* needs a corpus-wide argmax per round, so it is
  * inherently iterative ([[graft.llm.TextOps.bpeTrain]]'s per-round
  * window chain is the right distributed shape for it). BPE *encoding*
  * under an already-trained table is a different animal: every learned
  * merge applies per document, greedily left-to-right — exactly what the
  * training loop's window chain computes, since its windows partition by
  * the doc id and never look across documents. That makes encode
  * embarrassingly parallel: this expression applies all `merges` in rank
  * order to one row's token array inside a single scan, replacing
  * `merges.length` full shuffle-sort-and-materialize rounds
  * (the loop path, `graft.llm.SpecForms.bpeEncodeStatsFromMerges` on the
  * test side) with zero shuffles —
  * the per-token constant the encode pays no longer multiplies by the
  * vocabulary size. The loop path stays as the value oracle
  * (`FunctionsSpec` pins this kernel against it).
  *
  * Greedy left-to-right with consume-both semantics reproduces the loop
  * path's run-parity rule exactly: for `a == b` a run "aaaa" merges as
  * (aa)(aa) because the scan advances past a merged pair, which is the
  * `run_pos % 2 = 1` selection; for `a != b` overlaps are impossible.
  * Merged tokens are not re-examined within their round (the scan
  * advances past them), matching the window rule computing sel/del on
  * the round's INPUT tokens.
  *
  * Null semantics: null array or any null element yields null (the
  * tokenizer never produces either; nulling out is the conservative
  * mirror of the loop path, where a null token joins nothing).
  */
case class BpeEncodeCountQ(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(s"bpe_count_q expects array<string>, got $t")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_count_q"

  @transient private lazy val mergeA: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1)).toArray
  @transient private lazy val mergeB: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._2)).toArray

  override protected def nullSafeEval(toks: Any): Any = {
    val r = BpeKernel.count(toks.asInstanceOf[ArrayData], mergeA, mergeB)
    if (r < 0) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val u = "org.apache.spark.unsafe.types.UTF8String[]"
    val aRef = ctx.addReferenceObj("bpeMergesA", mergeA, u)
    val bRef = ctx.addReferenceObj("bpeMergesB", mergeB, u)
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("bpeCount")
      s"""
         |final long $r = graft.functions.BpeKernel.count($c, $aRef, $bRef);
         |if ($r < 0) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeCountQ =
    copy(child = newChild)
}

/** The per-row merge loop, shared by eval and codegen (the generated Java
  * calls the static forwarder). Applies each merge in rank order with one
  * in-place left-to-right pass over a token buffer; returns the surviving
  * token count, or -1 for a null element (the expression nulls out).
  */
object BpeKernel {
  def count(arr: ArrayData, a: Array[UTF8String], b: Array[UTF8String]): Long = {
    val n = arr.numElements()
    val buf = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return -1L
      buf(i) = arr.getUTF8String(i)
      i += 1
    }
    var len = n
    var r = 0
    while (r < a.length) {
      val ta = a(r)
      val tb = b(r)
      var rd = 0
      var wr = 0
      while (rd < len) {
        if (rd + 1 < len && ta.equals(buf(rd)) && tb.equals(buf(rd + 1))) {
          buf(wr) = UTF8String.concat(ta, tb)
          rd += 2
        } else {
          buf(wr) = buf(rd)
          rd += 1
        }
        wr += 1
      }
      len = wr
      r += 1
    }
    len.toLong
  }
}

object BpeCountQ {
  /** Column-level entry point: post-merge token count of `toks` under the
    * rank-ordered `merges` table.
    */
  def apply(toks: Column, merges: Seq[(String, String)]): Column =
    GraftSqlBridge.column(
      BpeEncodeCountQ(GraftSqlBridge.expression(toks), merges))
}
