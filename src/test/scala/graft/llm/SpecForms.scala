package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference (spec-only) forms of operators whose production paths are
  * native kernels or fused pipelines: the shingle-row MinHash chain
  * ([[Dedup.kernelSignatures]]' aggregate form, its banding and LSH
  * candidates), the loop-form BPE encode
  * ([[TextOps.bpeEncodeStatsKernel]]'s relational value oracle), the
  * SRP pair-frame verify (the within-bucket verify's reference) and the
  * column-level folds of the rolling-hash and SimHash fingerprints (the
  * [[graft.functions.RollingHashQ]] / [[graft.functions.SimHashQ]]
  * kernels' references).
  * Only specs call them, so they live on the test side; they stay in
  * `graft.llm` to share the declared hash family and merge step with the
  * production code.
  */
object SpecForms {
  import Dedup.{Bands, K, P, Rows, permA, permB}
  import TextOps.{RollB, RollP, hash60, tokens}

  /** Order-sensitive document fingerprint: left fold of a polynomial hash
    * over the token stream (content-defined, unlike the bag-of-words
    * SimHash). Single pass over the token array, no shuffle.
    */
  def rollingHash(c: Column): Column =
    aggregate(
      transform(tokens(c), t => hash60(t) % RollP),
      lit(0L),
      (acc, h) => (acc * RollB + h) % RollP)

  /** 60-bit SimHash over the token bag: per bit j, tokens vote +1/-1 with
    * bit j of their hash; the sign of the vote total becomes bit j. Near-dup
    * docs differ in few bits (small hamming distance).
    *
    * Single narrow pass: ONE aggregate with a 60-long vote-vector
    * accumulator (60 separate aggregate expressions make Catalyst re-walk
    * the token array per bit and blow up plan optimization). Per-token bit
    * extraction rides `bin()` → char array, because lambda-variable shift
    * amounts aren't expressible in the column DSL; `pow(2, j)` is exact for
    * j ≤ 59, so the final bit reassembly stays in integer-exact doubles.
    */
  def simHash(c: Column): Column = {
    val hs = transform(tokens(c), t => hash60(t))
    val votes = aggregate(
      hs,
      array_repeat(lit(0L), 60),
      (acc, h) => zip_with(
        acc,
        // split("") leaves a zero-width trailing match → drop empties so the
        // char array is exactly 60 long, then reverse to LSB-first
        reverse(filter(split(lpad(bin(h), 60, "0"), ""), s => s =!= "")),
        (a, bit) => a + when(bit === "1", 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(59)),
        (v, j) => when(v > 0, pow(lit(2.0), j).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

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
