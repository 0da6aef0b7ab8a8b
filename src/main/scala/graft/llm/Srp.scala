package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Signed-random-projection (SimHash-for-vectors) LSH over an embedding
  * column — the bucket-join alternative to the IVF scale path: no training
  * pass at all (the IVF k-means build is replaced by a declared projection
  * table), at the cost of a coarser recall dial (band count instead of
  * probe count). Complements [[Similarity]] the way banded MinHash-LSH
  * complements the exact prefix-filter join in [[Dedup]].
  *
  * Each vector gets a [[Bits]]-bit sketch: bit j is the sign of the dot
  * product with a Rademacher ±1 hyperplane, the classic SRP family where
  * P(bit collision) = 1 - angle/pi. The hyperplane signs are a DECLARED
  * deterministic function of (bit, dimension) (splitmix scramble — the same
  * generator as [[Dedup]]'s MinHash permutations), so sketches are a pure
  * function of the vector: partitioning-invariant, reproducible across
  * runs, and exactly mirrored in the DuckDB oracle.
  *
  * Scale shape: sketches are one narrow pass (explode dims → broadcast
  * 64-row projection join → one wide hash aggregate with [[Bits]] integer
  * sums — all codegen, exact quantized arithmetic). Search joins the
  * corpus's band rows against the (broadcast) query band rows — candidate
  * volume is O(Σ bucket_new × bucket_q), never corpus × queries — then
  * re-ranks candidates with the exact integer cosine. At 100 TB the corpus
  * sketches/bands are computed once at ingest and persisted as the index;
  * a query touches only its colliding buckets.
  */
object Srp {

  /** Sketch width and its banding: 4 bands of 4 bits. A band collides with
    * probability (1 - θ/π)^4; OR-ing 4 bands gives the usual S-curve —
    * near-duplicate vectors (θ ≈ 0) collide almost surely, random
    * directions rarely.
    */
  val Bits = 16
  val Bands = 4
  val RowsPerBand = 4

  /** Scale-adaptive band width: bits per band so that a band's bucket
    * count tracks the corpus (`2^bits ≈ n / targetBucket`), floored at the
    * fixed default. The fixed 4-bit default gives 16 buckets per band
    * FOREVER — bucket occupancy, and therefore spurious-candidate volume,
    * then grows linearly (quadratically in pair terms) with the corpus:
    * the sf1-constrate run measured 56 s of exact-cosine verification on
    * structure-free data, almost all of it refuting random 4-bit
    * collisions. Near-identical vectors (θ → 0, the SemDeDup regime)
    * still collide on a wider band with probability (1 − θ/π)^bits per
    * band, OR'd over [[Bands]] bands — the S-curve keeps its knee at
    * near-duplicate angles while random directions fall off exponentially
    * in the width.
    *
    * UNCAPPED past 15 bits/band (the round-9 backlog ceiling): widths ≤ 15
    * pack all [[Bands]] bands into one sketch long; wider bands get one
    * sketch long each ([[bandedRows]]), so occupancy tracks `targetBucket`
    * up to [[MaxAdaptiveBandBits]] = 62 adaptive bits — the true ceiling,
    * since for any representable corpus (`n ≤ 2⁶³−1` as a `Long`)
    * `(n >> 62) ≤ 1 ≤ targetBucket`, so a 63rd bit can never be justified
    * by occupancy. [[bandedRows]] still accepts an explicit 63-bit width
    * for callers that want the full per-long sketch; the adaptive path
    * simply never needs it (spec-pinned:
    * `rowsPerBandFor(Long.MaxValue, 1) == 62`).
    */
  val MaxAdaptiveBandBits = 62

  def rowsPerBandFor(n: Long, targetBucket: Long, bands: Int = Bands): Int = {
    require(targetBucket >= 1 && bands >= 1)
    var bits = RowsPerBand
    while (bits < MaxAdaptiveBandBits && (n >> bits) > targetBucket) bits += 1
    bits
  }

  /** Rademacher sign of hyperplane bit `j` at dimension `d` (declared,
    * deterministic; 4096 > any real j keeps (j, d) collision-free).
    */
  def sign(j: Int, d: Int): Int =
    if ((Dedup.scramble(j.toLong * 4096L + d.toLong) & 1L) == 1L) 1 else -1

  /** The projection table for a `dim`-dimensional space:
    * `(d, sign_0 … sign_{bits-1})`.
    */
  def signs(dim: Int, bits: Int = Bits): Seq[(Int, Seq[Int])] =
    (0 until dim).map(d => d -> (0 until bits).map(j => sign(j, d)))

  /** `(id, sketch)`: the `bits`-bit SRP sketch of each vector. Bit j is
    * set iff `sum_d q_d · sign(j, d) > 0` (exact integer sums over the
    * 24-bit-quantized components; the zero tie is declared to clear the
    * bit, identically in the oracle). One narrow codegen'd projection
    * ([[graft.functions.SrpSketchQ]] — the former posexplode → broadcast
    * sign join → `bits`-sum aggregate shuffled n·dim rows to compute the
    * same longs).
    */
  def sketches(df: DataFrame, id: String, vec: String, dim: Int,
               bits: Int = Bits): DataFrame = {
    val byBit = (0 until bits).map(j => (0 until dim).map(d => sign(j, d)))
    Similarity.prepare(df, id, vec)
      .select(col(id),
        graft.functions.SrpSketchQ(col("q"), byBit).as("sketch"))
  }

  /** `(id, band)` rows: band b's key packs the band index with its
    * `rowsPerBand` sketch bits; vectors agreeing on any full band share a
    * bucket.
    */
  def bandRows(sk: DataFrame, id: String,
               rowsPerBand: Int = RowsPerBand): DataFrame = {
    val keys = (0 until Bands).map { b =>
      concat_ws(":", lit(b),
        shiftright(col("sketch"), b * rowsPerBand)
          .bitwiseAND(lit((1L << rowsPerBand) - 1L)))
    }
    sk.select(col(id), explode(array(keys: _*)).as("band"))
  }

  /** `(id, band)` rows at ANY band width up to 63 bits/band — the uncapped
    * banding (round-9 backlog item). Widths ≤ 15 pack all [[Bands]] bands
    * into ONE sketch long (the original layout, kept for its single
    * narrow projection); wider bands compute one [[graft.functions
    * .SrpSketchQ]] long PER BAND over the SAME declared hyperplane family
    * `j = b·rowsPerBand + i` the packed layout reads, so the two paths
    * produce IDENTICAL band keys wherever both are defined (spec-pinned)
    * and the wide path is a strict extension, not a second family.
    */
  def bandedRows(df: DataFrame, id: String, vec: String, dim: Int,
                 rowsPerBand: Int): DataFrame = {
    // one sketch long per band at most: 63 usable (non-sign) bits
    require(rowsPerBand >= 1 && rowsPerBand <= 63,
      s"band width must be in 1..63 bits, got $rowsPerBand")
    if (rowsPerBand <= 15)
      bandRows(sketches(df, id, vec, dim, Bands * rowsPerBand), id, rowsPerBand)
    else bandedRowsWide(df, id, vec, dim, rowsPerBand)
  }

  /** The per-band-long path of [[bandedRows]], callable at any width so
    * the spec can pin wide ≡ packed on the shared ≤15-bit domain.
    */
  private[graft] def bandedRowsWide(df: DataFrame, id: String, vec: String,
                                  dim: Int, rowsPerBand: Int): DataFrame = {
    val p = Similarity.prepare(df, id, vec)
    val cols = (0 until Bands).map { b =>
      val byBit = (0 until rowsPerBand).map(i =>
        (0 until dim).map(d => sign(b * rowsPerBand + i, d)))
      graft.functions.SrpSketchQ(col("q"), byBit).as(s"bs_$b")
    }
    val keys = (0 until Bands).map(b => concat_ws(":", lit(b), col(s"bs_$b")))
    p.select(col(id) +: cols: _*)
      .select(col(id), explode(array(keys: _*)).as("band"))
  }

  /** Training-free semantic dedup: SemDeDup verdicts with the pair search
    * blocked on SRP band buckets instead of learned cells — no k-means
    * build, one narrow sketch pass. Candidates = vectors sharing any band
    * bucket, verified by exact integer cosine at τ, collapsed to the
    * min-id keeper exactly like [[Similarity.semanticDedup]]; the recall
    * dial is [[Bands]]. The band width is scale-adaptive
    * ([[rowsPerBandFor]]: bucket occupancy, and so spurious-candidate
    * volume, stays ~constant per vector as the corpus grows). Returns the
    * chosen width with the verdict frame so the gate oracle can replay
    * the identical banding.
    *
    * The verify runs WITHIN the band bucket. The pair problem was never
    * compute (a banded candidate costs one 64-MAC dot) — it was PAYLOAD:
    * materializing the global candidate-pair list and joining a ~0.5 KB
    * quantized vector onto EACH SIDE of every pair ships pairs×1 KB (32+
    * GB at 632k → spill cascade). Here the vectors ride the BAND rows —
    * one n·[[Bands]]-row shuffle of ~corpus volume — and the exact cosine
    * evaluates INSIDE the band self-join's output projection; only PASSING
    * pairs reach the distinct. Verdicts equal the pair-frame verify's
    * (spec-pinned against `SpecForms.srpPairFrameDedup`). Measured
    * (SCALE.md round 10): 4.4/5.5/14.0 s at 200k/632k/2M, vs 23/299/—
    * pair-frame and 15/83/— prefilter two-stage.
    */
  def semanticDedupSrpBucketAuto(df: DataFrame, id: String, vec: String,
                                 dim: Int, threshold: Double,
                                 targetBucket: Long = 64L): (Int, DataFrame) = {
    // ONE count job on the checkpointed prepared frame serves both width
    // selection and the band-join partition sizing (the first cut counted
    // df here and p again inside the pair pipeline — two scans of the
    // corpus for one number).
    val p = Similarity.prepare(df, id, vec)
      .select(col(id), col("q"), col("n2")).localCheckpoint(false)
    val n = p.count()
    val rpb = rowsPerBandFor(n, targetBucket)
    (rpb, bucketDupVerdicts(df, p, id, vec, dim, threshold, rpb, n))
  }

  def semanticDedupSrpBucketWidth(df: DataFrame, id: String, vec: String,
                                  dim: Int, threshold: Double,
                                  rowsPerBand: Int): DataFrame = {
    val p = Similarity.prepare(df, id, vec)
      .select(col(id), col("q"), col("n2")).localCheckpoint(false)
    bucketDupVerdicts(df, p, id, vec, dim, threshold, rowsPerBand, p.count())
  }

  /** Shared tail of the two bucket-dedup entry points: pair pipeline →
    * min-id dup_of → left-join verdict frame. `n` is the prepared frame's
    * row count, already known to both callers.
    */
  private def bucketDupVerdicts(df: DataFrame, p: DataFrame, id: String,
                                vec: String, dim: Int, threshold: Double,
                                rowsPerBand: Int, n: Long): DataFrame = {
    val dupOf = bucketPassingPairs(p, id, vec, dim, threshold, rowsPerBand, n)
      .select("id_a", "id_b").distinct()
      .groupBy(col("id_b").as(id)).agg(min(col("id_a")).as("dup_of"))
    df.select(col(id))
      .join(dupOf, Seq(id), "left")
      .select(col(id), col("dup_of"), col("dup_of").isNull.as("is_kept"))
  }

  /** Training-free near-dup PAIR search — the within-bucket verify
    * emitting the passing pairs themselves (`(id_a, id_b, cosine)`,
    * distinct, id_a < id_b): the SRP-banded, fit-free sibling of
    * [[Similarity.cellNearDupPairs]] over learned cells, completing the
    * pair-tier matrix (hier / tree quantizers both need a
    * k-means build; this needs none). Same declared band + verify
    * semantics and scale shape as [[semanticDedupSrpBucketWidth]]. Returns
    * the captured width for the
    * oracle replay.
    */
  def nearDupPairsSrpAuto(df: DataFrame, id: String, vec: String, dim: Int,
                          threshold: Double,
                          targetBucket: Long = 64L): (Int, DataFrame) = {
    val p = Similarity.prepare(df, id, vec)
      .select(col(id), col("q"), col("n2")).localCheckpoint(false)
    val n = p.count()
    val rpb = rowsPerBandFor(n, targetBucket)
    (rpb, bucketPassingPairs(p, id, vec, dim, threshold, rpb, n).distinct())
  }

  /** The shared within-bucket pair pipeline: band the prepared frame,
    * ride the vectors on the band rows, evaluate the exact quantized
    * cosine inside the band self-join's projection, and emit passing
    * `(id_a, id_b, cosine)` rows. NOT distinct: a pair colliding in k
    * bands appears k times (its cosine is functionally determined, so
    * callers' distinct collapses them exactly).
    *
    * The band-join partition count is sized to the frame it actually
    * moves — n·[[Bands]] rows of ~(dim·8 + 72) B each. A fixed session
    * partition count hits the external-sort spill cliff once
    * per-partition volume outgrows task memory (measured at 6.3M vectors
    * on local[32]: 114 s at 32 partitions → 59 s at 128, same plan
    * otherwise); sizing by bytes is what a real cluster's AQE
    * initialPartitionNum does. The explicit hash repartition on the join
    * key also means the band self-join needs no further exchange, and
    * the identical subplan on both sides collapses to one
    * ReusedExchange.
    */
  private def bucketPassingPairs(p: DataFrame, id: String, vec: String,
                                 dim: Int, threshold: Double,
                                 rowsPerBand: Int, n: Long): DataFrame = {
    val parts = math.max(
      p.sparkSession.sessionState.conf.numShufflePartitions,
      (n * Bands * (dim * 8L + 72L) / (128L << 20) + 1L).toInt)
    val bv = bandedRows(p, id, vec, dim, rowsPerBand).join(p, Seq(id))
      .repartition(parts, col("band"))
    bv.select(col("band"), col(id).as("id_a"), col("q").as("qa"), col("n2").as("na"))
      .join(bv.select(col("band"), col(id).as("id_b"), col("q").as("qb"),
        col("n2").as("nb")), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineQ(Similarity.dotQ(col("qa"), col("qb")),
          col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SRP-bucketed approximate top-k: candidates from the band-bucket join
    * (queries broadcast), exact integer-cosine re-rank, k per query with
    * deterministic ties. Same output shape as [[Similarity.cosineTopK]];
    * queries whose buckets hold fewer than k candidates return fewer rows
    * (the recall dial is [[Bands]]).
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              dim: Int, k: Int): DataFrame = {
    val pc = Similarity.prepare(corpus, id, vec)
    val pq = Similarity.prepare(queries, id, vec)
    val bc = bandRows(sketches(pc, id, vec, dim), id)
      .select(col(id).as("nn_id"), col("band"))
    val bq = bandRows(sketches(pq, id, vec, dim), id)
      .select(col(id).as("query_id"), col("band"))
    val cand = bc.join(broadcast(bq), Seq("band"))
      .filter(col("nn_id") =!= col("query_id"))
      .select("query_id", "nn_id").distinct()
    val scored = cand
      .join(pc.select(col(id).as("nn_id"), col("q").as("cq"), col("n2").as("cn2")),
        Seq("nn_id"))
      .join(broadcast(pq.select(col(id).as("query_id"), col("q").as("qq"),
        col("n2").as("qn2"))), Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        Similarity.cosineQ(Similarity.dotQ(col("qq"), col("cq")),
          col("qn2"), col("cn2")).as("cosine"))
    graft.ops.Relational.topKPerGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("nn_id").asc), k)
  }
}
