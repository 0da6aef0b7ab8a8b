package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over a `documents(doc_id, text)`-shaped table:
  * exact (content-hash), MinHash-LSH banded near-dup, and n-gram Jaccard
  * verification.
  *
  * Scale design (the 100 TB shapes — never all-pairs):
  *  - exact dedup: one hash-partitioned window over the content fingerprint;
  *    identical contents co-locate, everything else is partition-local.
  *  - near-dup: shingle rows → 64 min-hash aggregates → explode 16 band
  *    keys → self-equi-join on the band key → exact Jaccard verification
  *    ONLY for in-bucket candidates, computed relationally (a count of
  *    common shingle rows), so candidate volume is O(Σ bucket²), not O(n²).
  *    Pathological buckets (mass-identical docs) are the AQE skew-join case,
  *    left enabled.
  *
  * Implementation note — RELATIONAL ON PURPOSE: Spark's higher-order array
  * functions (transform/aggregate/zip_with) are CodegenFallback, i.e.
  * interpreted per element with boxing; a signature built as 64 array-fold
  * expressions measured ~27 ms/doc. The explode → wide-HashAggregate shape
  * below keeps every per-shingle operation inside whole-stage codegen
  * (measured ~100x faster) AND is the shape that scales: partial aggregation
  * combines map-side, and the only wide exchanges are hash-partitioned on
  * doc id / band key.
  *
  * Signature hashes are md5-derived ([[TextOps.hash60]]) so the DuckDB
  * oracle can reproduce the *verified* output brute-force; the LSH stage is
  * a candidate generator with miss probability (1-s^4)^16 — under 2e-4 at
  * s = 0.8, vanishing at the 0.95+ similarity of real near-dups.
  */
object Dedup {

  /** Distinct word-n-gram shingle rows `(id, shingle)`: ONE narrow
    * codegen'd pass — [[graft.functions.ShingleQ]] builds every n-gram from
    * the token array per document and dedups in-kernel, so the frame is
    * explode-of-a-projection with NO exchange (docs shorter than n tokens
    * yield no rows — they are the exact-dedup tier's job).
    *
    * This replaces the posexplode → exchange+sort on the doc id → lead
    * window chain → row-level distinct shape (round-12 optimization; plan
    * dumps `plans/r12/shingle_frame_{before,after}.txt`): the window form
    * shuffled one row per corpus TOKEN only to reach each token's n-1
    * successors — adjacency the source row already holds in its array.
    * Gram strings and per-doc gram sets are bit-identical (spec-pinned by
    * ShingleQSpec), so every oracle is unchanged.
    *
    * PRECONDITION (ADVICE r12): each `id` appears on exactly ONE input row.
    * The in-kernel dedup is per input ROW; the old chain's row-level
    * `(id, shingle)` distinct was additionally tolerant of duplicate-id
    * inputs, which here would yield duplicate rows that inflate n_sh /
    * shingle df / n_common downstream. Same precondition applies to
    * [[winnowedFingerprints]]. Every registered caller feeds a
    * one-row-per-document table.
    */
  def shingleRows(df: DataFrame, id: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(id),
      explode(graft.functions.ShingleQ(
        TextOps.tokens(col(textCol)), n, "|", distinct = true)).as("shingle"))

  /** Deterministic salt for skew-splitting a hot join bucket: the salt a
    * doc id lands in when the containment join's hot branch spreads an
    * over-cap shingle across `salts` sub-buckets. Public so tests can pin
    * the spread contract ([[containmentPairs]] hot-shingle guard).
    */
  def saltOf(c: Column, salts: Int): Column =
    pmod(xxhash64(c), lit(salts.toLong)).cast("int")

  /** Word n-gram shingles as a per-row array column (library/test API; the
    * pipeline uses [[shingleRows]] — see the codegen note above).
    */
  def shingles(c: Column, n: Int = 3): Column = {
    val w = TextOps.tokens(c)
    array_distinct(
      when(size(w) >= n,
        transform(sequence(lit(0), size(w) - n),
          i => concat_ws("|", (0 until n).map(o => element_at(w, i + o + 1)): _*)))
        .otherwise(array().cast("array<string>")))
  }

  /** Exact set Jaccard between two shingle arrays (library/test API). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  // MinHash parameters: K permutations in B bands of R rows (K = B*R).
  // h_i(x) = (A_i * x + B_i) mod P over 31-bit shingle hashes; the A/B
  // constants come from a splitmix-style integer scramble of i (declared,
  // deterministic — not load-bearing for correctness, only for recall).
  val P = 2147483647L // 2^31 - 1
  val K = 64
  val Bands = 16
  val Rows = 4

  /** Candidate-recall of (bands b, rows r) banding at similarity s:
    * 1 - (1 - s^r)^b.
    */
  def bandingRecall(bands: Int, rows: Int, s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Pick the banding for a Jaccard threshold: among divisor pairs of K,
    * the LARGEST row count (fewest false-positive candidates) that still
    * recalls ≥ `minRecall` of pairs AT the threshold. Larger r → sharper
    * candidate curve → cheaper verify stage; the recall floor keeps the
    * LSH stage equivalent to brute force on real near-dups. The library
    * default (16, 4) is exactly this choice at τ = 0.8.
    */
  def bandingFor(threshold: Double, k: Int = K, minRecall: Double = 0.999): (Int, Int) = {
    val options = (1 to k).filter(k % _ == 0).map(r => (k / r, r))
    options.filter { case (b, r) => bandingRecall(b, r, threshold) >= minRecall }
      .maxByOption(_._2)
      .getOrElse(options.minBy(_._2)) // nothing meets the floor: max recall
  }
  private[llm] def scramble(i: Long): Long = {
    var z = i * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[llm] def permA(i: Int): Long = Math.floorMod(scramble(2L * i), P - 1) + 1
  private[llm] def permB(i: Int): Long = Math.floorMod(scramble(2L * i + 1), P)

  /** MinHash signatures as one narrow codegen'd pass (round-13;
    * optimization guide §2.4/§4): `(id, __sig array<long>[K])` straight off
    * the document scan — [[graft.functions.MinHashSig]] folds h·A_i+B_i
    * mod P mins over the per-doc distinct gram array, replacing the
    * shingle-row explode → doc-id exchange → 64-min-column aggregate
    * (which paid an aggregate-buffer probe plus 64 buffer updates per
    * shingle ROW). Docs with no gram (shorter than n tokens) are filtered,
    * mirroring the aggregate's absent group. Bit-identical mins —
    * spec-pinned by DocHashQSpec against the aggregate form
    * (`graft.llm.SpecForms.minhashSignatures`, test side).
    */
  private[graft] def kernelSignatures(df: DataFrame, id: String, textCol: String,
                                      n: Int): DataFrame =
    df.select(col(id), graft.functions.MinHashQ(
        graft.functions.ShingleQ(TextOps.tokens(col(textCol)), n, "|", distinct = true),
        (0 until K).map(permA), (0 until K).map(permB), P).as("__sig"))
      .filter(col("__sig").isNotNull)

  /** `(id, band)` rows off the kernel signature array: each signature
    * emits its [[Bands]] keys "band,sig,sig,sig,sig" (the same keys the
    * test-side `SpecForms.bandRows` builds off the aggregate columns —
    * longs render identically through concat_ws on both paths); docs
    * agreeing on any full band share a bucket.
    */
  private def bandRowsArr(sig: DataFrame, id: String): DataFrame = {
    val keys = (0 until Bands).map { b =>
      concat_ws(",", lit(b) +: (0 until Rows).map(r =>
        element_at(col("__sig"), b * Rows + r + 1)): _*)
    }
    sig.select(col(id), explode(array(keys: _*)).as("band"))
  }

  /** Candidate pairs (idA < idB) from the banded LSH self-join, built on
    * the narrow kernel signature pass (one extra scan of the doc frame
    * instead of the shingle-row aggregate chain — the scan is the cheap
    * direction, guide §8).
    */
  private def kernelCandidates(df: DataFrame, id: String, textCol: String,
                               n: Int): DataFrame = {
    val keyed = bandRowsArr(kernelSignatures(df, id, textCol, n), id)
    val a = keyed.select(col(id).as("id_a"), col("band"))
    val b = keyed.select(col(id).as("id_b"), col("band"))
    a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard verification of candidate pairs, computed relationally —
    * |A ∩ B| is a join-count of common shingle rows, |A ∪ B| = |A|+|B|-|A∩B|
    * from per-doc shingle counts — so the verify stage is two hash joins
    * and an aggregate, all codegen, no array materialization.
    */
  private def verifiedJaccard(cand: DataFrame, sh: DataFrame, counts: DataFrame,
                              id: String, threshold: Double): DataFrame = {
    val common = cand
      .join(sh.select(col(id).as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col(id).as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common
      .join(counts.select(col(id).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(counts.select(col(id).as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Verified near-duplicate pairs: LSH candidates whose exact n-gram
    * Jaccard meets the threshold (see [[verifiedJaccard]]).
    */
  def nearDupPairs(df: DataFrame, id: String, textCol: String,
                   threshold: Double, n: Int = 3): DataFrame = {
    // the shingle frame feeds three plan branches (counts, both verify
    // joins); checkpoint it so the tokenize/gram work and the fact scan run
    // once instead of three times (lazy: materializes on first use,
    // lineage-truncated after). Signatures take the separate narrow kernel
    // pass ([[kernelSignatures]]) instead of aggregating these rows.
    val sh = shingleRows(df, id, textCol, n).localCheckpoint(false)
    val counts = sh.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    verifiedJaccard(kernelCandidates(df, id, textCol, n), sh, counts, id, threshold)
  }

  /** Near-dup LOSER ids `(id)`: the higher id of every verified pair —
    * the keep-first drop set shared by [[dropNearDups]] and the curation
    * chain.
    */
  def nearDupLoserIds(df: DataFrame, id: String, textCol: String,
                      threshold: Double, n: Int = 3): DataFrame =
    nearDupPairs(df, id, textCol, threshold, n).select(col("id_b").as(id)).distinct()

  /** EXACT n-gram Jaccard similarity self-join by prefix filtering (the
    * AllPairs/PPJoin family): unlike the banded-LSH path this has 100%
    * recall at ANY threshold — banding at (16, 4) recalls only ~64% of
    * pairs at s = 0.5, while the prefix principle is lossless: order every
    * doc's shingles by ascending global document frequency (rarest first);
    * two docs with Jaccard >= t and compatible sizes must share a shingle
    * within their first |s| - ceil(t|s|) + 1 shingles, so equi-joining on
    * prefix shingles alone generates a complete candidate set. Rare-first
    * ordering keeps the join buckets small — the inverted index is probed
    * only on each doc's most selective shingles.
    *
    * All threshold comparisons in the candidate stage run in exact integer
    * arithmetic at millesimal precision, rounded DOWN (t' = floor(1000t)/1000
    * <= t), so float rounding can only widen the candidate superset; the
    * verify stage applies the caller's exact threshold.
    *
    * Scale shape: shuffles on shingle (df-count + index join) and doc id
    * (window, verify) only — never all-pairs. One hot shingle shared by m
    * prefix entries costs O(m²) candidates; df-ascending ordering makes
    * hot shingles ineligible for prefixes precisely because they are hot.
    */
  def prefixFilterPairs(df: DataFrame, id: String, textCol: String,
                        threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val num = math.floor(threshold * 1000).toLong
    val sh = shingleRows(df, id, textCol, n).localCheckpoint(false)
    val counts = sh.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val ranked = sh.join(dfreq, Seq("shingle"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(id).orderBy(col("df"), col("shingle"))))
      .join(counts, Seq(id))
    // ceil(t'·n_sh) in exact integers: (num·n_sh + 999) div 1000
    val need = floor((col("n_sh") * num + 999L) / 1000L)
    val pre = ranked.filter(col("rk") <= col("n_sh") - need + 1)
      .select(col(id), col("shingle"), col("n_sh"), col("rk"))
    val cand = pre.select(col(id).as("id_a"), col("shingle"),
        col("n_sh").as("n_a"), col("rk").as("ra"))
      .join(pre.select(col(id).as("id_b"), col("shingle"),
        col("n_sh").as("n_b"), col("rk").as("rb")), Seq("shingle"))
      // size-compatibility: J >= t forces t·max(|a|,|b|) <= min(|a|,|b|)
      .filter(col("id_a") < col("id_b") &&
        col("n_a") * num <= col("n_b") * 1000L &&
        col("n_b") * num <= col("n_a") * 1000L)
      // positional filter (the PPJoin refinement): per-doc ranks are
      // order-isomorphic to the one global (df, shingle) order, so a pair's
      // max matched rank on both sides is attained at the SAME shingle t,
      // every common shingle globally before t is itself a prefix match
      // (m counts them all), and at most min(n_a-ra, n_b-rb) common
      // shingles can follow t. J >= t' needs overlap
      // >= ceil(t'(n_a+n_b)/(1+t')); prune pairs whose bound can't reach it.
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("m"), max("ra").as("ra"), max("rb").as("rb"))
      .filter(col("m") + least(col("n_a") - col("ra"), col("n_b") - col("rb")) >=
        floor(((col("n_a") + col("n_b")) * num + (1000L + num) - 1L) / (1000L + num)))
      .select("id_a", "id_b")
    verifiedJaccard(cand, sh, counts, id, threshold)
  }

  /** EXACT directional set-containment self-join: emit `(id_a, id_b,
    * containment)` for every ordered pair with C(a→b) = |Sa ∩ Sb| / |Sa| ≥
    * `threshold`, a ≠ b — id_a is the CONTAINED doc. Symmetric Jaccard
    * misses exactly this case: a short excerpt quoted inside a long
    * document has near-1 containment but tiny Jaccard (the union is
    * dominated by the container), so a τ-Jaccard dedup pass keeps both.
    * Containment is the quote/boilerplate/subset-duplication detector a
    * curation pipeline runs AFTER symmetric dedup.
    *
    * Prefix principle, asymmetric k-extended form: order Sa's shingles by
    * ascending global document frequency (rarest first); C(a→b) ≥ t needs
    * overlap ≥ need = ceil(t·|Sa|), so a's first |Sa| − need + k shingles
    * must contain at least min(k, need) elements of Sb (if fewer, more
    * than |Sa| − need entries of a fall outside Sb and overlap ≤ need − 1)
    * — equi-joining a's k-prefix against the FULL shingle index and
    * keeping pairs with ≥ min(k, need) matches is a complete candidate
    * set. k > 1 is the load-bearing refinement here: unlike the Jaccard
    * join ([[prefixFilterPairs]]) the container side cannot be
    * prefix-pruned (any superset qualifies regardless of where the shared
    * shingles fall in ITS frequency order) and the PPJoin positional
    * filter degenerates (with a full index every common prefix shingle is
    * matched, so at k = 1 the suffix bound collapses to m ≥ 1 — which the
    * join already guarantees), leaving 1-shared-rare-shingle collisions
    * as the dominant candidate mass (measured at sf0.1: 206k candidates
    * for 512 true pairs at k = 1). Requiring a second matched prefix
    * shingle prunes exactly those. The size filter |Sb| ≥ ceil(t·|Sa|)
    * (overlap can't exceed |Sb|) applies as before.
    *
    * Threshold comparisons in the candidate stage use exact integer
    * arithmetic at millesimal precision rounded DOWN (candidate superset
    * only widens); verification applies the caller's exact threshold.
    *
    * Scale shape: shuffles on shingle (df-count + index probe) and doc id
    * (rank window, verify) — never all-pairs. The index side keeps hot
    * shingles, but a bucket's cost is |prefix entries| × |docs containing
    * it|, and df-ascending prefix ordering makes hot shingles ineligible
    * for prefixes precisely because they are hot — the classic inverted-
    * index containment-join shape (PRETTI family), candidate volume
    * linear in total shingle mass for bounded df skew.
    *
    * Hot-shingle guard (ENFORCED, not just documented): a boilerplate
    * shingle with df ≈ corpus can still reach prefixes — docs made almost
    * entirely of the boilerplate rank it inside their prefix — and its
    * probe bucket then costs |prefix entries| × df in ONE join bucket.
    * Shingles with df > `dfCap` leave the cold branch and route through a
    * SALTED join: the prefix side replicates each entry across `salts`
    * salt values, the index side derives its salt from id_b
    * ([[saltOf]]), and the equi-join runs on (shingle, salt) — the same
    * logical pair set (exactness untouched; both branches feed the same
    * match-count filter), but the hot bucket's candidate mass is spread
    * across `salts` independent tasks instead of serializing on one.
    */
  def containmentPairs(df: DataFrame, id: String, textCol: String,
                       threshold: Double, n: Int = 3, kPrefix: Int = 2,
                       dfCap: Long = 4096L, salts: Int = 8): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    require(kPrefix >= 1, s"kPrefix >= 1: $kPrefix")
    require(dfCap >= 1 && salts >= 1, s"dfCap/salts >= 1: $dfCap/$salts")
    val num = math.floor(threshold * 1000).toLong
    val sh = shingleRows(df, id, textCol, n).localCheckpoint(false)
    // counts feeds FOUR branches (rank frame, cold index, hot n_b join,
    // final n_a join) and column pruning specializes each lineage — pin
    // the doc-cardinality frame once instead of paying 4 aggregate passes
    val counts = sh.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
      .localCheckpoint(false)
    // dfreq likewise feeds two branches (rank frame, hot-shingle set); a
    // second full shingle-cardinality aggregate pass costs more than
    // materializing the (shingle, df) frame once
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    val ranked = sh.join(dfreq, Seq("shingle"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(id).orderBy(col("df"), col("shingle"))))
      .join(counts, Seq(id))
    // need = ceil(t'·n_a) in exact integers: (num·n_a + 999) div 1000
    val needA = floor((col("n_sh") * num + 999L) / 1000L)
    val pre = ranked.filter(col("rk") <= col("n_sh") - needA + kPrefix)
      .select(col(id).as("id_a"), col("shingle"), col("n_sh").as("n_a"), col("df"))
    val idx = sh.join(counts, Seq(id))
      .select(col(id).as("id_b"), col("shingle"), col("n_sh").as("n_b"))
    // a matched (prefix entry, index entry) shares ONE shingle, so the
    // PREFIX side's df alone decides the branch — the full index never
    // joins dfreq (that join measured +35% on the whole query); the cold
    // branch is the r5 plan unchanged
    val cold = pre.filter(col("df") <= dfCap).drop("df")
      .join(idx, Seq("shingle"))
    // hot branch: over-cap shingles, salted so one boilerplate bucket
    // becomes `salts` parallel buckets. EVERYTHING here prunes on the
    // (tiny, broadcast) over-cap shingle set FIRST — the index slice is a
    // semi-join on the raw shingle frame, and n_b attaches to the
    // already-small pair set afterwards — so with no over-cap shingles
    // the branch costs one codegen'd pass over the checkpointed shingle
    // blocks, not a second full index shuffle (which measured +50% at sf1)
    val hotShingles = dfreq.filter(col("df") > dfCap).select("shingle")
    val hotIdx = sh.join(broadcast(hotShingles), Seq("shingle"), "left_semi")
      .select(col(id).as("id_b"), col("shingle"))
      .withColumn("__salt", saltOf(col("id_b"), salts))
    val hot = pre.filter(col("df") > dfCap).drop("df")
      .withColumn("__salt", explode(array((0 until salts).map(lit(_)): _*)))
      .join(hotIdx, Seq("shingle", "__salt"))
      .drop("__salt")
      .join(counts.select(col(id).as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
    val needPair = floor((col("n_a") * num + 999L) / 1000L)
    val cand = cold.unionByName(hot)
      .filter(col("id_a") =!= col("id_b") &&
        col("n_b") * 1000L >= col("n_a") * num)
      .groupBy("id_a", "id_b", "n_a").agg(count(lit(1)).as("m"))
      .filter(col("m") >= least(lit(kPrefix.toLong), needPair))
      .select("id_a", "id_b")
    val common = cand
      .join(sh.select(col(id).as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col(id).as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common
      .join(counts.select(col(id).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") / col("n_a")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Incremental ingest dedup: flag every NEW doc against the EXISTING
    * corpus without ever pairing the corpus with itself — the production
    * shape for appending a batch to a 100 TB corpus, where re-running the
    * full self-dedup per batch would dominate the pipeline. Returns one row
    * per new doc: `(id, exact_dup_of, near_dup_of, near_jaccard,
    * is_duplicate)` where `exact_dup_of` is the minimum corpus id with
    * identical normalized content (null if none) and `near_dup_of` /
    * `near_jaccard` identify the corpus doc with the highest verified
    * n-gram Jaccard ≥ `threshold` (ties on the lower corpus id).
    *
    * Scale shape: the exact tier is one hash join on the content
    * fingerprint; the near tier joins the new batch's LSH band rows against
    * the corpus's band index (buckets pair new×corpus only), then verifies
    * candidates relationally like [[nearDupPairs]]. Cost is
    * O(batch + matching buckets), independent of corpus self-pair volume;
    * at scale the corpus-side signatures/bands are computed once at ingest
    * and persisted as the dedup index.
    */
  def incrementalDedupFlags(newDocs: DataFrame, corpus: DataFrame, id: String,
                            textCol: String, threshold: Double,
                            n: Int = 3): DataFrame = {
    val corpusFp = corpus
      .select(TextOps.fingerprintMd5(col(textCol)).as("fingerprint"), col(id).as("cid"))
      .groupBy("fingerprint").agg(min("cid").as("exact_dup_of"))
    val exact = newDocs
      .select(col(id), TextOps.fingerprintMd5(col(textCol)).as("fingerprint"))
      .join(corpusFp, Seq("fingerprint"), "left")
      .select(col(id), col("exact_dup_of"))

    val shNew = shingleRows(newDocs, id, textCol, n).localCheckpoint(false)
    val shCorp = shingleRows(corpus, id, textCol, n).localCheckpoint(false)
    val bandNew = bandRowsArr(kernelSignatures(newDocs, id, textCol, n), id)
      .select(col(id).as("id_a"), col("band"))
    val bandCorp = bandRowsArr(kernelSignatures(corpus, id, textCol, n), id)
      .select(col(id).as("id_b"), col("band"))
    val cand = bandNew.join(bandCorp, Seq("band"))
      .select("id_a", "id_b").distinct()
    val sh = shNew.union(shCorp)
    val counts = sh.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val best = graft.ops.Relational.topKPerGroup(
      verifiedJaccard(cand, sh, counts, id, threshold),
      Seq("id_a"), Seq(col("jaccard").desc, col("id_b").asc), 1)
      .select(col("id_a").as(id), col("id_b").as("near_dup_of"),
        col("jaccard").as("near_jaccard"))

    newDocs.select(col(id))
      .join(exact, Seq(id), "left")
      .join(best, Seq(id), "left")
      .select(col(id), col("exact_dup_of"), col("near_dup_of"), col("near_jaccard"),
        (col("exact_dup_of").isNotNull || col("near_dup_of").isNotNull)
          .as("is_duplicate"))
  }

  /** Near-dup dedup, keep-first: drop every doc that is the higher id of a
    * verified near-duplicate pair (left-anti join — no driver round trip).
    */
  def dropNearDups(df: DataFrame, id: String, textCol: String,
                   threshold: Double, n: Int = 3): DataFrame =
    df.join(nearDupLoserIds(df, id, textCol, threshold, n), Seq(id), "left_anti")

  /** The alternating-rounds core over a pair frame `(id_a, id_b)`:
    * returns (`(node, root)` for every non-singleton node, rounds run).
    * Exposed with the round count so tests can pin the convergence-rate
    * claim, not just the answer.
    */
  private[graft] def ccAlternatingWithRounds(pairs: DataFrame,
                                             maxIter: Int): (DataFrame, Int) = {
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("c"),
        least(col("id_a"), col("id_b")).as("p"))
      .filter(col("c") =!= col("p")).distinct().localCheckpoint(false)
    var converged = false
    var rounds = 0
    // fingerprint the INITIAL frame too (one aggregate job), so an
    // already-converged input can gate against it on round 1 — sentinel
    // init would force one extra round and fail require(converged) at
    // maxIter == 1 on a fixpoint input
    val fp0 = edges.agg(count(lit(1)),
      expr("bit_xor(xxhash64(c, p))")).head()
    var prevCount = fp0.getLong(0)
    var prevChk = if (fp0.isNullAt(1)) 0L else fp0.getLong(1)
    while (!converged && rounds < maxIter) {
      // Both star steps need "every row of the group, plus the group's
      // min" — that is ONE keyed window-min per step, not an aggregate
      // joined back onto its own input: the window form halves the round's
      // exchange count (measured ~2x on fixed-overhead-dominated rounds),
      // and the min is per-key, so per-partition window state is O(1).
      // LARGE-STAR: per node a over the symmetrized graph, m = min
      // neighbor (or a itself); every neighbor b > a re-hangs onto m
      val sym = edges.select(col("c").as("a"), col("p").as("b"))
        .union(edges.select(col("p").as("a"), col("c").as("b")))
      val large = sym
        .withColumn("m", least(col("a"), min(col("b")).over(Window.partitionBy("a"))))
        .filter(col("b") > col("a"))
        .select(col("b").as("c"), col("m").as("p"))
        .filter(col("c") =!= col("p")).distinct()
      // SMALL-STAR: per larger endpoint c, m = min parent; every parent
      // (and c itself) re-hangs onto m
      val joined = large
        .withColumn("m", min(col("p")).over(Window.partitionBy("c")))
      val next = joined.select(col("p").as("c"), col("m").as("p"))
        .union(joined.select(col("c"), col("m").as("p")))
        .filter(col("c") =!= col("p")).distinct().localCheckpoint(false)
      // Convergence gate: the full set-equality proof (two anti-join jobs)
      // runs ONLY when the cheap fingerprint matches — one aggregate job
      // per round computing (count, bit_xor of xxhash64(c,p)) — XOR is
      // order-independent and overflow-free (ANSI-safe), and `next` is
      // distinct so nothing self-cancels. On star-edge frames the COUNT
      // alone is a useless gate (it stabilizes at |V| - roots immediately,
      // measured), so the checksum carries the signal; a collision merely
      // runs the exact check early, never converges falsely. This round's
      // materialization rides the same job.
      val fp = next.agg(count(lit(1)),
        expr("bit_xor(xxhash64(c, p))")).head()
      val (nextCount, nextChk) =
        (fp.getLong(0), if (fp.isNullAt(1)) 0L else fp.getLong(1))
      // the exact proof is ONE symmetric-diff job (both frames are
      // distinct, so a row appearing once in the union is in exactly one
      // side), not a pair of anti-joins
      converged = nextCount == prevCount && nextChk == prevChk &&
        next.union(edges).groupBy("c", "p").agg(count(lit(1)).as("k"))
          .filter(col("k") === 1).isEmpty
      prevCount = nextCount
      prevChk = nextChk
      edges = next
      rounds += 1
    }
    require(converged,
      s"alternating connected components not converged after $maxIter rounds")
    // the loop pins a fixpoint of the COMPOSITE round; these two checks pin
    // that the fixpoint is an actual star forest (one parent per node, no
    // parent that is itself a child), which is what makes the direct
    // child→root labels below valid — cheap edge-frame probes, fail-loud
    require(edges.groupBy("c").agg(count(lit(1)).as("k"))
        .filter(col("k") > 1).isEmpty,
      "alternating CC fixpoint is not a star forest: multi-parent node")
    require(edges.select(col("p")).distinct()
        .join(edges.select(col("c").as("p")), Seq("p"), "left_semi").isEmpty,
      "alternating CC fixpoint is not a star forest: non-root parent")
    (edges.select(col("c").as("node"), col("p").as("root")), rounds)
  }

  /** Near-dup clusters: connected components over the verified pair graph,
    * every doc labelled with the minimum id reachable from it (singletons
    * label themselves). Components come from ALTERNATING large-star /
    * small-star rounds (the Kiveris et al. MapReduce construction,
    * [[ccAlternatingWithRounds]]): min-label propagation converges in
    * O(component DIAMETER) rounds, and a drift chain v₁~v₂~…~v_d (each
    * revision a near-dup of the last — exactly how long-lived boilerplate
    * mutates) costs d shuffle rounds, unbounded at corpus scale; the
    * alternating rounds square away diameter in O(log² n). Each round runs
    * over the EDGE frame only (tiny next to the corpus — the premise of
    * the whole tier); the corpus appears once at the end, in the left
    * join that labels singletons. Fails loudly when not converged within
    * `maxIter` rounds — never a silent approximation.
    */
  def dupClusters(df: DataFrame, id: String, textCol: String,
                  threshold: Double, n: Int = 3, maxIter: Int = 20): DataFrame = {
    val pairs = nearDupPairs(df, id, textCol, threshold, n)
      .select(col("id_a"), col("id_b"))
    val (roots, _) = ccAlternatingWithRounds(pairs, maxIter)
    df.select(col(id))
      .join(roots.withColumnRenamed("node", id), Seq(id), "left")
      .select(col(id), coalesce(col("root"), col(id)).as("cluster_id"))
  }

  /** Cross-document duplicated passages — the chunk-level approximation of
    * exact substring dedup (Lee et al.'s suffix-array pass, re-expressed on
    * the token-window chunks [[TextOps.chunkRows]] already produces): two
    * docs sharing an identical `size`-token window collide on the chunk
    * fingerprint even when the docs as wholes are NOT near-dups (quote
    * farms, boilerplate headers, licence blocks). Returns one row per
    * occurrence of a duplicated chunk with its occurrence/doc counts and a
    * canonical primary occurrence (minimum (doc, chunk) — encoded as one
    * integer key so both engines take the same single min).
    *
    * Shape: narrow chunking → hash aggregate on the fingerprint → join
    * back; duplicate-group volume is bounded by actual duplication, never
    * all-pairs. `PrimaryMul` caps chunks/doc at 10^6 (= 24M tokens/doc at
    * the default stride — declared, loud below).
    */
  val PrimaryMul = 1000000L
  def dupPassages(df: DataFrame, id: String, textCol: String,
                  size: Int, stride: Int): DataFrame = {
    val keyed = TextOps.chunkRows(df, id, textCol, size, stride)
      .select(col(id), col("chunk_id"), md5(col("chunk_text")).as("fp"))
      .withColumn("pkey", col(id) * PrimaryMul + col("chunk_id"))
    val groups = keyed.groupBy("fp")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col(id)).as("n_docs"),
        min("pkey").as("pk"))
      .filter(col("n_occ") > 1)
    keyed.join(groups, Seq("fp"))
      .select(col(id), col("chunk_id"), col("fp"), col("n_occ"), col("n_docs"),
        // integer div, not floor(double /): exact for ids beyond 2^53/MUL
        expr(s"pk div $PrimaryMul").as("primary_doc"),
        pmod(col("pk"), lit(PrimaryMul)).as("primary_chunk"),
        (col("pkey") === col("pk")).as("is_primary"))
  }

  /** Near-dup dedup, keep-BEST: every doc labelled with its near-dup
    * cluster, cluster size, the caller's quality score, and whether it is
    * the cluster's keeper — the highest-scoring member (ties to the lower
    * id). The production alternative to [[dropNearDups]]' keep-first rule:
    * when a boilerplate page and its clean original collide, keep-first
    * keeps whichever has the smaller id; keep-best keeps the better
    * document. Cost over [[dupClusters]] is one extra window on the cluster
    * id — clusters are tiny next to the corpus, so the window partitions
    * are bounded by the largest duplicate cluster.
    */
  def keepBestPerCluster(df: DataFrame, id: String, textCol: String,
                         score: Column => Column, threshold: Double,
                         n: Int = 3): DataFrame = {
    val labeled = dupClusters(df, id, textCol, threshold, n)
      .join(df.select(col(id), score(col(textCol)).as("score")), Seq(id))
    val w = Window.partitionBy("cluster_id")
    val pick = Window.partitionBy("cluster_id")
      .orderBy(col("score").desc, col(id).asc)
    labeled
      .withColumn("n_members", count(lit(1)).over(w))
      .withColumn("is_kept", row_number().over(pick) === 1)
      .select(col(id), col("cluster_id"), col("n_members"), col("score"),
        col("is_kept"))
  }

  /** Exact-content dedup assignment: every doc mapped to the canonical
    * (minimum) id of its content-fingerprint group. One window over the
    * fingerprint — the shuffle key is the hash, so identical contents
    * co-locate and everything else stays partition-local.
    */
  def exactDedupMap(df: DataFrame, id: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("fingerprint")
    df.select(col(id), TextOps.fingerprintMd5(col(textCol)).as("fingerprint"))
      .withColumn("canonical_id", min(col(id)).over(w))
      .withColumn("is_duplicate", col(id) =!= col("canonical_id"))
  }

  /** Every stride-1 `k`-token window occurrence whose exact content repeats
    * anywhere in the corpus (another doc OR another position of the same
    * doc): `(id, start, end, fp, n_occ)`, positions 1-based inclusive.
    *
    * This is the window layer of exact substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * suffix-array pass, re-expressed relationally): a length-≥k repeated
    * substring is exactly a run of repeated k-windows, so stride-1 windows
    * lose nothing that [[dupPassages]]' strided chunks can miss.
    *
    * Shape: posexplode → ONE window chain on the doc id building each
    * k-window's text from k-1 codegen'd `lead`s (the file-head note:
    * higher-order array slicing is CodegenFallback; this stays inside
    * whole-stage codegen) → hash aggregate on the md5 fingerprint → join
    * back on the fingerprint. Both the aggregate and the probe shuffle the
    * SAME window subtree hash-partitioned on `fp`, which Spark's
    * ReuseExchange collapses into one physical exchange. Shuffle rows are
    * (fp, id, start) — window-width-independent.
    */
  private[graft] def dupSpanWindows(df: DataFrame, id: String, textCol: String,
                                    k: Int): DataFrame = {
    require(k >= 2, s"window size k must be >= 2: $k")
    // k-window construction is one narrow codegen'd pass over the token
    // array ([[graft.functions.ShingleQ]], non-distinct: every position
    // keeps its window) — no exchange+sort on the doc id, no lead chain
    // (round-12; plans/r12/dupspanwin_frame_{before,after}.txt). posexplode
    // restores the 1-based start position; strings/fingerprints identical.
    val wins = df
      .select(col(id), posexplode(graft.functions.ShingleQ(
        TextOps.tokens(col(textCol)), k, " ", distinct = false)).as(Seq("p0", "wtext")))
      .select(col(id), (col("p0") + 1).cast("long").as("start"),
        (col("p0") + k).cast("long").as("end"), md5(col("wtext")).as("fp"))
    val dups = wins.groupBy("fp").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    wins.join(dups, Seq("fp"))
  }

  /** Exact repeated-substring SPANS: per doc, the maximal runs of token
    * positions covered by duplicated k-windows —
    * `(id, span_id, span_start, span_end, span_tokens, n_windows)` with
    * spans numbered 1..m in position order. Overlapping or touching
    * duplicated windows merge (gaps-and-islands on the running max end), so
    * a 40-token verbatim quote shows as ONE span, not 40-k+1 rows.
    *
    * Cost past [[dupSpanWindows]] is one exchange on the doc id; duplicated
    * -window volume is bounded by actual duplication, never all-pairs.
    */
  def dupSpans(df: DataFrame, id: String, textCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(id).orderBy("start")
    val prevEnd = max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    dupSpanWindows(df, id, textCol, k)
      .withColumn("brk", when(prevEnd.isNull || col("start") > prevEnd + 1, 1).otherwise(0))
      .withColumn("span_id", sum(col("brk")).over(w))
      .groupBy(col(id), col("span_id"))
      .agg(min("start").as("span_start"), max("end").as("span_end"),
        count(lit(1)).as("n_windows"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .select(col(id), col("span_id"), col("span_start"), col("span_end"),
        col("span_tokens"), col("n_windows"))
  }

  /** Content-defined (winnowed) duplicated-span detection — the
    * alignment-invariant, sampled form of [[dupSpans]] (Schleimer,
    * Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD'03; the span semantics follow Lee et al.'s
    * suffix-array dedup as in [[dupSpanWindows]]).
    *
    * Why it exists: [[dupPassages]] fingerprints FIXED-boundary strided
    * chunks, so a copied passage shifted by one token inside a different
    * document misses every chunk boundary; [[dupSpans]] is
    * alignment-invariant but shuffles one fingerprint per token position —
    * at 100 TB that aggregate keys on every k-gram in the corpus.
    * Winnowing keeps the invariance and drops the volume: every position's
    * k-gram is still hashed (cheap, codegen'd, partition-local), but only
    * the per-window MINIMUM fingerprints leave the partition — an expected
    * 2/(w+1) of positions — with the guarantee that any common
    * substring of length >= w + k - 1 tokens shares at least one selected
    * fingerprint in every occurrence (the paper's correctness property:
    * selection inside a window depends only on window content, with ties
    * broken to the rightmost position — content-relative, so two copies of
    * the same region select the same relative positions).
    *
    * Shape: posexplode → one window chain on the doc id building each
    * k-gram (same sort as [[dupSpanWindows]]) → per-position key
    * `md5(gram) || zeropad(10^12 - pos)` whose lexicographic min is
    * (min fingerprint, rightmost position) → rows-frame `min` over the next
    * w positions (same exchange+sort reused) → `distinct` (map-side partial
    * dedup collapses the ~w consecutive repeats of each winner BEFORE the
    * shuffle, so only sampled rows travel) → duplicate grouping + islands
    * merge exactly as [[dupSpans]]. With `w <= k` (required) consecutive
    * selected positions inside one duplicated region are at most w <= k
    * apart, so the region merges into ONE span; reported span edges are
    * approximate within ~(w + k) tokens (edge windows see off-region
    * context and may select differently per copy — the documented trade
    * for the volume cut; trim passes pad boundaries anyway).
    *
    * Output matches [[dupSpans]]: `(id, span_id, span_start, span_end,
    * span_tokens, n_windows)` with `n_windows` counting selected
    * duplicated fingerprints (not all positions) in the span.
    */
  def winnowedDupSpans(df: DataFrame, id: String, textCol: String,
                       k: Int, w: Int): DataFrame = {
    val selected = winnowedFingerprints(df, id, textCol, k, w)
    val dups = selected.groupBy("fp").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    mergeSpans(selected.join(dups.select("fp"), Seq("fp")), id)
  }

  /** The winnow-selected `(id, fp, start, end)` fingerprint rows — the
    * shared sampling layer of [[winnowedDupSpans]] and [[spanDecontam]]:
    * per-position k-gram md5 plus a 13-digit position complement forms a
    * key whose lexicographic window minimum is (min fingerprint, rightmost
    * position); a rows-frame min over the next w starts rides the SAME
    * doc-id sort as the k-gram lead chain, and the distinct is map-side
    * partial-deduped so only the ~2/(w+1) selected rows shuffle.
    */
  private[graft] def winnowedFingerprints(df: DataFrame, id: String,
                                          textCol: String, k: Int, w: Int): DataFrame = {
    require(k >= 2, s"k-gram size must be >= 2: $k")
    require(w >= 2, s"winnow window must be >= 2: $w")
    require(w <= k, s"span merging needs w <= k (selected positions are <= w apart," +
      s" windows cover k tokens): w=$w k=$k")
    val Big = 1000000000000L // 10^12: 13-digit position complement, so string min = rightmost pos
    // The whole selection — per-position k-gram md5 key with the 13-digit
    // position complement, rows-frame min over the next w starts (trailing
    // truncated frames select too), per-doc distinct — runs as ONE narrow
    // codegen'd pass over the token array ([[graft.functions.WinnowQ]]),
    // replacing posexplode → exchange+sort on the doc id → k-gram lead
    // chain → min window → row-level distinct (round-12 optimization;
    // plans/r12/winnow_frame_{before,after}.txt). The window form shuffled
    // one 45-byte key per corpus TOKEN to sample ~2/(w+1) of them; now only
    // the selected rows ever leave the projection. Selected keys are
    // bit-identical (ShingleQSpec pins kernel ≡ chain), so the dedup/
    // decontam oracles replay unchanged.
    df.select(col(id),
        explode(graft.functions.WinnowQ(TextOps.tokens(col(textCol)), k, w))
          .as("min_key"))
      .select(col(id), substring(col("min_key"), 1, 32).as("fp"),
        (lit(Big) - substring(col("min_key"), 33, 13).cast("long")).as("start"))
      .withColumn("end", col("start") + (k - 1))
  }

  /** Gaps-and-islands merge of flagged `(id, start, end)` windows into
    * maximal spans — the span-reporting tail shared by the winnowed tiers.
    */
  private def mergeSpans(flagged: DataFrame, id: String): DataFrame = {
    val w2 = Window.partitionBy(id).orderBy("start")
    val prevEnd = max(col("end")).over(w2.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("brk", when(prevEnd.isNull || col("start") > prevEnd + 1, 1).otherwise(0))
      .withColumn("span_id", sum(col("brk")).over(w2))
      .groupBy(col(id), col("span_id"))
      .agg(min("start").as("span_start"), max("end").as("span_end"),
        count(lit(1)).as("n_windows"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .select(col(id), col("span_id"), col("span_start"), col("span_end"),
        col("span_tokens"), col("n_windows"))
  }

  /** Span-level benchmark decontamination: the leaked SPANS of each corpus
    * doc against a held-out benchmark set, via winnowed fingerprints —
    * the POSITION-level complement of shingle-containment scoring
    * ([[Corpus.contaminationScores]] says how contaminated a doc is; this
    * says WHAT to trim, so remediation can cut the quoted eval item
    * instead of dropping the document). Alignment-invariant with the same
    * ≥ w+k−1-token guarantee as [[winnowedDupSpans]] (winnowing selection
    * is content-relative, so a passage shared between a corpus doc and a
    * benchmark doc selects the same interior fingerprints on both sides).
    *
    * Scale shape: the benchmark side is distinct-reduced to its selected
    * fingerprints and BROADCAST (eval benchmarks are fixed-size next to a
    * 100 TB corpus); the corpus side is the sampled winnow stream — one
    * broadcast hash join, no corpus-side shuffle beyond the winnow's own
    * sampled distinct, never doc×doc.
    */
  def spanDecontam(corpus: DataFrame, bench: DataFrame, id: String,
                   textCol: String, k: Int, w: Int): DataFrame = {
    val corpFp = winnowedFingerprints(corpus, id, textCol, k, w)
    val benchFp = winnowedFingerprints(bench, id, textCol, k, w)
      .select("fp").distinct()
    mergeSpans(corpFp.join(broadcast(benchFp), Seq("fp")), id)
  }

  /** Per-doc duplicated-substring coverage — the curation signal built on
    * [[dupSpans]]: `(id, n_tokens, n_spans, dup_tokens, dup_frac)` where
    * `dup_frac` is the fraction of the doc's tokens inside some repeated
    * span (Lee et al.'s dedup-fraction, the threshold column a
    * remove-or-trim pass filters on). Docs with no repeated window report
    * 0 / 0.0 via the left join.
    */
  def dupSpanCoverage(df: DataFrame, id: String, textCol: String, k: Int): DataFrame = {
    val perDoc = dupSpans(df, id, textCol, k)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_tokens")).as("dup_tokens"))
    df.select(col(id), size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(perDoc, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        // zero-token guard: x/0 is NaN in Spark but NULL in DuckDB — an
        // empty doc would be a latent oracle hash mismatch without it
        when(col("n_tokens") > 0,
          coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }
}
