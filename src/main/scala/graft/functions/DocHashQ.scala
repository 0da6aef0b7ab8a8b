package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions.{coalesce, typedlit}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document fingerprint kernels — narrow codegen'd replacements for the
  * explode → `Exchange hashpartitioning(doc_id)` → wide-aggregate chains of
  * [[graft.llm.TextOps.simHashAgg]] and [[graft.llm.TextOps.rollingHashAgg]]
  * (round-13; optimization guide §2.4 "remove shuffles outright" / §4 "keep
  * the hot path in codegen"). The aggregate forms exchange one partial row
  * per (partition, doc) and pay a hash-map probe plus 60 aggregate-buffer
  * updates per TOKEN; these kernels fold the identical md5-derived math over
  * the token array in one tight pass per document, so the fingerprint frames
  * become `Scan → Project` with no exchange at all.
  *
  * Equivalence contract (spec-pinned by LlmSpec's existing
  * agg-equals-column-fold tests plus FunctionsSpec):
  *  - token hash = the first 15 md5 hex digits as a 60-bit integer, i.e.
  *    (first 8 digest bytes, big-endian) >>> 4 — identical to
  *    `conv(substring(md5(tok), 1, 15), 16, 10)`;
  *  - simhash bit j set iff Σ_tokens (bit_j(h) ? +1 : −1) > 0, j ∈ [0, 60);
  *  - rolling hash = left fold acc' = (acc·B + h mod P) mod P over tokens in
  *    order (B = 131, P = 2³¹−1), the same value as the aggregate's
  *    Σ h_i·B^(n−1−i) mod P.
  * Null tokens are skipped (whitespace `split` never produces them —
  * defensive parity with the aggregates, whose null hash rows vanish in the
  * sum). Callers filter null text rows themselves: the aggregate form DROPS
  * a null-text doc (explode of a null array yields no group), so the
  * rewritten TextOps entry points keep a `textCol IS NOT NULL` filter.
  */
case class SimHashDoc(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash_q expects array<string>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_q"

  override protected def nullSafeEval(input: Any): Any =
    DocHashKernels.simHash60(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.DocHashKernels.simHash60($in);")

  override protected def withNewChildInternal(newChild: Expression): SimHashDoc =
    copy(child = newChild)
}

/** See [[SimHashDoc]]'s file-head contract. */
case class RollingHashDoc(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"rollinghash_q expects array<string>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "rollinghash_q"

  override protected def nullSafeEval(input: Any): Any =
    DocHashKernels.rollingHash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.DocHashKernels.rollingHash($in);")

  override protected def withNewChildInternal(newChild: Expression): RollingHashDoc =
    copy(child = newChild)
}

/** Character-trigram language-ID scoring as one narrow pass over the
  * NORMALIZED text ([[graft.llm.TextOps.langIdNgram]]'s kernel form): the
  * per-language weight sums that the explode-one-row-per-trigram → broadcast
  * profile join → per-doc hash aggregate chain produced, computed by sliding
  * a 3-code-point window over the string and probing the embedded profile
  * table. Scoring is BAG arithmetic (every occurrence counts), so summing
  * per window ≡ the join's one row per (occurrence, matching profile row).
  * Windows step by CODE POINT like Spark's `substr`, so match positions are
  * identical; profile keys are the declared constants, embedded at plan
  * time. Docs shorter than 3 code points score zero everywhere (the chain's
  * left join + fill(0)). Output: array<long> of the per-language sums in
  * `langs` order.
  */
case class LangTriScores(child: Expression, profiles: Seq[(String, String, Long)],
                         langs: Seq[String]) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"lang_scores_q expects string, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lang_scores_q"

  @transient private lazy val table: java.util.HashMap[String, Array[Long]] = {
    val m = new java.util.HashMap[String, Array[Long]]()
    profiles.foreach { case (lang, tri, w) =>
      val idx = langs.indexOf(lang)
      require(idx >= 0, s"profile language $lang not in langs $langs")
      val arr = m.computeIfAbsent(tri, _ => new Array[Long](langs.size))
      arr(idx) += w
    }
    m
  }

  override protected def nullSafeEval(input: Any): Any =
    DocHashKernels.langTriScores(input.asInstanceOf[UTF8String], table, langs.size)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("langTable", table, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.DocHashKernels.langTriScores($in, $tableRef, ${langs.size});")
  }

  override protected def withNewChildInternal(newChild: Expression): LangTriScores =
    copy(child = newChild)
}

/** MinHash signature over a per-document DISTINCT gram array as one narrow
  * codegen'd pass (the kernel form of the shingle-row 64-min aggregate,
  * round-13): per gram, h = (60-bit md5 hash) mod p; sig_j = min over grams
  * of (h·a(j) + b(j)) mod p — exactly the j-th `min` aggregate of the
  * 64-column hash-aggregate chain, whose per-gram-row aggregate-buffer
  * probes and doc-id exchange this replaces (optimization guide §2.4/§4).
  * Returns null for an empty gram array (a doc shorter than the gram size
  * produced no shingle rows and hence no aggregate group — callers filter,
  * mirroring the old absent-group semantics). The affine constants flow in
  * from the declared source ([[graft.llm.Dedup]]'s permutation family), so
  * this expression carries no hash family of its own.
  */
case class MinHashSig(child: Expression, a: Seq[Long], b: Seq[Long], p: Long)
    extends UnaryExpression {
  require(a.nonEmpty && a.length == b.length, "one (a, b) pair per permutation")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_q expects array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_q"

  @transient private lazy val aArr: Array[Long] = a.toArray
  @transient private lazy val bArr: Array[Long] = b.toArray

  override protected def nullSafeEval(input: Any): Any =
    DocHashKernels.minHashSig(input.asInstanceOf[ArrayData], aArr, bArr, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, in => s"""
      ${ev.value} = graft.functions.DocHashKernels.minHashSig($in, $aRef, $bRef, ${p}L);
      ${ev.isNull} = (${ev.value} == null);""")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Static kernels shared by the interpreted and generated paths. */
object DocHashKernels {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  // declared rolling-hash constants, mirrored in graft.llm.TextOps
  private val RollP = 2147483647L
  private val RollB = 131L

  /** First 60 bits of md5 (15 hex digits) as a non-negative long —
    * bit-identical to `conv(substring(md5(tok), 1, 15), 16, 10)`.
    */
  private def hash60(u: UTF8String, digest: java.security.MessageDigest): Long = {
    digest.reset()
    val h = digest.digest(u.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def simHash60(in: ArrayData): Long = {
    val digest = md5.get()
    val n = in.numElements()
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!in.isNullAt(i)) {
        val h = hash60(in.getUTF8String(i), digest)
        var j = 0
        while (j < 60) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  def rollingHash(in: ArrayData): Long = {
    val digest = md5.get()
    val n = in.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!in.isNullAt(i)) {
        // acc·B + h < 2³¹·131 + 2³¹ — safely inside a long
        acc = (acc * RollB + hash60(in.getUTF8String(i), digest) % RollP) % RollP
      }
      i += 1
    }
    acc
  }

  def minHashSig(in: ArrayData, a: Array[Long], b: Array[Long], p: Long): ArrayData = {
    val n = in.numElements()
    if (n == 0) return null
    val k = a.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val digest = md5.get()
    var i = 0
    while (i < n) {
      if (!in.isNullAt(i)) {
        val h = hash60(in.getUTF8String(i), digest) % p
        var j = 0
        while (j < k) {
          val x = (h * a(j) + b(j)) % p
          if (x < mins(j)) mins(j) = x
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def langTriScores(u: UTF8String,
                    table: java.util.HashMap[String, Array[Long]],
                    nLangs: Int): ArrayData = {
    val out = new Array[Long](nLangs)
    val s = u.toString
    val len = s.length
    // 3-code-point sliding windows (Spark substr counts code points); docs
    // under 3 code points have no trigram and stay all-zero
    if (s.codePointCount(0, len) >= 3) {
      var i0 = 0
      var i3 = s.offsetByCodePoints(0, 3)
      var done = false
      while (!done) {
        val w = table.get(s.substring(i0, i3))
        if (w != null) {
          var l = 0
          while (l < nLangs) { out(l) += w(l); l += 1 }
        }
        if (i3 >= len) done = true
        else {
          i0 = s.offsetByCodePoints(i0, 1)
          i3 = s.offsetByCodePoints(i3, 1)
        }
      }
    }
    new GenericArrayData(out)
  }
}

object SimHashQ {
  def apply(tokens: Column): Column =
    GraftSqlBridge.column(SimHashDoc(GraftSqlBridge.expression(tokens)))
}

object RollingHashQ {
  def apply(tokens: Column): Column =
    GraftSqlBridge.column(RollingHashDoc(GraftSqlBridge.expression(tokens)))
}

object MinHashQ {
  def apply(grams: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    GraftSqlBridge.column(MinHashSig(GraftSqlBridge.expression(grams), a, b, p))
}

object LangScoresQ {
  /** Null text scores zero everywhere, like the chain's left join + fill(0). */
  def apply(normText: Column, profiles: Seq[(String, String, Long)],
            langs: Seq[String]): Column =
    coalesce(
      GraftSqlBridge.column(
        LangTriScores(GraftSqlBridge.expression(normText), profiles, langs)),
      typedlit(Seq.fill(langs.size)(0L)))
}
