package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference (spec-only) forms of operators whose production paths are
  * native kernels or fused pipelines: the shingle-row MinHash chain
  * ([[Dedup.kernelSignatures]]' aggregate form, its banding and LSH
  * candidates), the loop-form BPE encode
  * ([[TextOps.bpeEncodeStatsKernel]]'s relational value oracle) and the
  * SRP pair-frame verify (the within-bucket verify's reference).
  * Only specs call them, so they live on the test side; they stay in
  * `graft.llm` to share the declared hash family and merge step with the
  * production code.
  */
object SpecForms {
  import Dedup.{Bands, K, P, Rows, permA, permB}

  /** MinHash signatures from shingle rows: ONE wide hash aggregate with K
    * codegen'd `min` columns (sig_0 … sig_63) — partial-aggregated
    * map-side, one exchange on the doc id. DocHashQSpec pins
    * [[Dedup.kernelSignatures]] against it.
    */
  def minhashSignatures(sh: DataFrame, id: String): DataFrame = {
    val h = TextOps.hash60(col("shingle")) % P
    val mins = (0 until K).map(i => min((h * permA(i) + permB(i)) % P).as(s"sig_$i"))
    sh.groupBy(col(id)).agg(mins.head, mins.tail: _*)
  }

  /** `(id, band)` rows: each signature emits its [[Bands]] band keys
    * "band,sig,sig,sig,sig"; docs agreeing on any full band share a bucket.
    */
  def bandRows(sig: DataFrame, id: String): DataFrame = {
    val keys = (0 until Bands).map { b =>
      concat_ws(",", lit(b) +: (0 until Rows).map(r => col(s"sig_${b * Rows + r}")): _*)
    }
    sig.select(col(id), explode(array(keys: _*)).as("band"))
  }

  /** Candidate pairs (idA < idB) from the banded LSH self-join. */
  def lshCandidates(sh: DataFrame, id: String): DataFrame = {
    val keyed = bandRows(minhashSignatures(sh, id), id)
    val a = keyed.select(col(id).as("id_a"), col("band"))
    val b = keyed.select(col(id).as("id_b"), col("band"))
    a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** [[TextOps.bpeEncodeStats]] from an ALREADY-TRAINED merge table, one
    * corpus-wide merge-application window chain per merge. Output-identical
    * to `bpeEncodeStats(df, id, textCol, merges.length)` when `merges` is
    * the table [[TextOps.bpeTrain]] learns on `df`, and to the
    * [[graft.functions.BpeCountQ]] kernel path.
    */
  def bpeEncodeStatsFromMerges(df: DataFrame, id: String, textCol: String,
                               merges: Seq[(String, String)]): DataFrame = {
    var toks = df.select(col(id), posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
      .localCheckpoint(false)
    merges.foreach { case (a, b) => toks = TextOps.applyMerge(toks, id, a, b) }
    TextOps.encodeStatsFrom(df, id, textCol, toks)
  }

  /** SRP near-dup pairs by the PAIR-FRAME verify: distinct banded
    * candidate pairs (id_a < id_b), both full vectors joined onto each
    * pair, exact quantized cosine, `(id_a, id_b, cosine)` at or above
    * `threshold`. [[Srp.nearDupPairsSrpAuto]] and
    * [[Srp.semanticDedupSrpBucketWidth]] evaluate the same verify inside
    * the band self-join instead; specs pin them against this form.
    */
  def srpPairFramePairs(df: DataFrame, id: String, vec: String, dim: Int,
                        threshold: Double, rowsPerBand: Int): DataFrame = {
    val p = Similarity.prepare(df, id, vec).select(col(id), col("q"), col("n2"))
    val bands = Srp.bandedRows(p, id, vec, dim, rowsPerBand)
    bands.select(col(id).as("id_a"), col("band"))
      .join(bands.select(col(id).as("id_b"), col("band")), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(p.select(col(id).as("id_a"), col("q").as("qa"), col("n2").as("na")), Seq("id_a"))
      .join(p.select(col(id).as("id_b"), col("q").as("qb"), col("n2").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineQ(Similarity.dotQ(col("qa"), col("qb")),
          col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup verdicts `(id, dup_of, is_kept)` over [[srpPairFramePairs]]:
    * every vector names its min-id passing neighbor, or keeps.
    */
  def srpPairFrameDedup(df: DataFrame, id: String, vec: String, dim: Int,
                        threshold: Double, rowsPerBand: Int): DataFrame = {
    val dupOf = srpPairFramePairs(df, id, vec, dim, threshold, rowsPerBand)
      .groupBy(col("id_b").as(id)).agg(min(col("id_a")).as("dup_of"))
    df.select(col(id))
      .join(dupOf, Seq(id), "left")
      .select(col(id), col("dup_of"), col("dup_of").isNull.as("is_kept"))
  }
}
