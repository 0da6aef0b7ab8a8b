package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * normalization, token stats, quality scoring, language ID, and document
  * fingerprints (MD5 + polynomial rolling hash + SimHash).
  *
  * All builders are per-row column expressions over built-in (codegen'd)
  * functions — no UDFs, no shuffle, no state. At 100 TB this tier is a pure
  * narrow map stage that scales with input splits; the only wide operations
  * in the LLM pipeline live in [[Dedup]] (hash-partitioned) and
  * [[Similarity]] (bucketed).
  *
  * Determinism: every derivation is mirrored in [[TextCatalog]]'s DuckDB
  * oracle; hashes derive from md5 (identical hex in both engines) and all
  * ratios are double expressions with identical operation order.
  */
object TextOps {

  /** Canonical text form: trimmed, lower-cased, whitespace collapsed. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** BPE-ish subword count: alternating letter-runs / digit-runs /
    * single punctuation marks, the usual pre-tokenizer approximation.
    */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(normText(c), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Exact-content fingerprint: md5 of the normalized text. */
  def fingerprintMd5(c: Column): Column = md5(normText(c))

  /** 60-bit integer hash of a single token/shingle, derived from md5 so
    * Spark and the SQL oracle agree bit-for-bit (15 hex chars = 60 bits,
    * always positive in a signed 64-bit long).
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // Polynomial rolling-hash fingerprint constants (mirrored in TextCatalog):
  // acc' = (acc * RollB + hash60(token) mod RollP) mod RollP.
  val RollP = 2147483647L // 2^31 - 1: keeps acc*B + h inside 2^63
  val RollB = 131L

  /** Relational rolling hash: the polynomial fold (= sum(h_i *
    * B^(n-1-i)) mod P) as ONE narrow codegen'd pass over the token array
    * ([[graft.functions.RollingHashDoc]], round-13) — the former posexplode
    * → doc-id window (count) → polyPow-term projection → DECIMAL(38) hash
    * aggregate paid an `Exchange hashpartitioning(id)` + sort of one row
    * per corpus TOKEN to fold an order the source array already has
    * (optimization guide §2.4/§4); the kernel is bit-identical
    * (spec-pinned by DocHashQSpec against the verbatim old chain and the
    * column-level fold, `SpecForms.rollingHash`). Null-text parity and the
    * unique-id precondition as in [[simHashAgg]].
    */
  def rollingHashAgg(df: org.apache.spark.sql.DataFrame, id: String, textCol: String): org.apache.spark.sql.DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(id), graft.functions.RollingHashQ(tokens(col(textCol))).as("fp_rolling"))

  /** RollB^k mod RollP as a column (two table lookups: k = 128q + r covers
    * k < 16384 — callers must bound their sequence length accordingly).
    * Out-of-range exponents FAIL LOUDLY: element_at past the table would
    * return NULL and silently corrupt a fingerprint/checksum otherwise.
    */
  private[llm] def polyPow(k: Column): Column = {
    val powLo = typedlit((0 until 128).map(i => modpow(RollB, i)))
    val powHi = typedlit((0 until 128).map(q => modpow(RollB, 128L * q)))
    val checked = when(k >= 16384L || k < 0L,
      raise_error(concat(lit("polyPow exponent out of [0, 16384): "),
        k.cast("string")))).otherwise(k)
    element_at(powHi, (checked / 128).cast("int") + 1) *
      element_at(powLo, pmod(checked, lit(128)).cast("int") + 1) % RollP
  }

  private def modpow(b: Long, e: Long): Long = {
    var r = 1L; var bb = b % RollP; var ee = e
    while (ee > 0) {
      if ((ee & 1) == 1) r = r * bb % RollP
      bb = bb * bb % RollP
      ee >>= 1
    }
    r
  }

  /** Relational SimHash: `(id, fp_simhash)` as ONE narrow codegen'd pass
    * over the token array ([[graft.functions.SimHashDoc]], round-13) — the
    * former explode → `Exchange hashpartitioning(id)` → 60-vote-sum
    * aggregate paid a hash-map probe plus 60 aggregate-buffer updates per
    * corpus TOKEN to fold adjacency-free math the source row already holds
    * (optimization guide §2.4/§4); the kernel is bit-identical (spec-pinned
    * by DocHashQSpec against the verbatim old chain and by LlmSpec against
    * the column-level fold, `SpecForms.simHash`). The aggregate form DROPPED
    * null-text docs (explode of a null token array yields no group) — the
    * filter keeps that contract. Requires unique `id` per input row (the
    * aggregate merged duplicate-id rows into one bag; callers here are
    * one-row-per-document tables).
    */
  def simHashAgg(df: org.apache.spark.sql.DataFrame, id: String, textCol: String): org.apache.spark.sql.DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(id), graft.functions.SimHashQ(tokens(col(textCol))).as("fp_simhash"))

  /** Hamming distance between two SimHash values (xor + popcount). */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Declared fluency bigram table (quality v2): common-English adjacent
    * token pairs with small integer weights. Integer weights — not log
    * probabilities — keep the score bit-deterministic across engines
    * (floating log() is the classic cross-engine drift source); the scale
    * is a declared constant of the operator, mirrored in the oracle.
    */
  val FluencyBigrams: Seq[(String, String, Int)] = Seq(
    ("of", "the", 3), ("in", "the", 3), ("to", "the", 2), ("on", "the", 2),
    ("and", "the", 1), ("at", "the", 2), ("by", "the", 2), ("for", "the", 2),
    ("from", "the", 2), ("with", "the", 2), ("into", "the", 1),
    ("it", "is", 2), ("is", "a", 2), ("is", "the", 2), ("this", "is", 2),
    ("there", "is", 1), ("to", "be", 2), ("will", "be", 1), ("can", "be", 1),
    ("has", "been", 1), ("have", "been", 1), ("as", "well", 1),
    ("such", "as", 1), ("more", "than", 1), ("rather", "than", 1),
    ("one", "of", 2), ("some", "of", 1), ("all", "of", 1), ("part", "of", 1),
    ("number", "of", 1))

  /** Perplexity-style fluency scoring against [[FluencyBigrams]]:
    * `(doc_id, n_bigrams, n_hits, w_sum, fluency)` where fluency is the
    * mean bigram weight over the doc's n-1 adjacent pairs (0 for docs with
    * fewer than 2 tokens). Shape: posexplode → one window (lead over
    * position, shuffled by doc id like the rolling hash) → broadcast join
    * against the tiny literal table → hash aggregate — all codegen'd, all
    * integer sums, linear in token count.
    */
  def fluencyAgg(df: org.apache.spark.sql.DataFrame, id: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy(id).orderBy("pos")
    val pairs = df
      .select(col(id), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
    val bi = broadcast(FluencyBigrams.toDF("tok", "nxt", "wt"))
    val agg = pairs.join(bi, Seq("tok", "nxt"), "left")
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(col("wt")).as("n_hits"),
        sum(coalesce(col("wt"), lit(0))).cast("long").as("w_sum"))
    df.select(col(id)).join(agg, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("w_sum"), lit(0L)).as("w_sum"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
            coalesce(col("w_sum"), lit(0L)).cast("double") / coalesce(col("n_bigrams"), lit(0L)))
          .otherwise(lit(0.0)).as("fluency"))
  }

  // -- quality / language features ------------------------------------------

  /** Stopword list for the quality ratio (declared constant, mirrored in the
    * oracle SQL).
    */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")

  def tokenCount(c: Column): Column = size(tokens(c))

  def distinctTokenCount(c: Column): Column = size(array_distinct(tokens(c)))

  /** Mean token length, computed from the normalized text without a second
    * pass: total chars minus the (n-1) single separators, over n.
    */
  def avgTokenLen(c: Column): Column = {
    val n = tokenCount(c)
    (length(normText(c)) - (n - 1)).cast("double") / n
  }

  def stopwordRatio(c: Column): Column =
    size(filter(tokens(c), t => t.isInCollection(Stopwords))).cast("double") /
      tokenCount(c)

  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "\\p{Punct}", ""))).cast("double") /
      length(c)

  /** Composite quality score in [0,1]: length credit (saturating at 200
    * tokens), vocabulary diversity, and a punctuation-noise penalty. The
    * exact formula is a declared heuristic, mirrored in the oracle.
    */
  def qualityScore(c: Column): Column =
    least(tokenCount(c).cast("double") / 200.0, lit(1.0)) * 0.4 +
      (distinctTokenCount(c).cast("double") / tokenCount(c)) * 0.4 +
      (lit(1.0) - punctRatio(c)) * 0.2

  /** Per-document top-k TF-IDF terms: `(id, term, tf, df, tfidf)`.
    *
    * idf is the exact rational N/df, NOT log(N/df): a transcendental idf
    * would hash-differently across engines (libm vs DuckDB's ln disagree in
    * the last bits), while `(tf·N as exact long) cast double ÷ df` is one
    * IEEE division with identical operands on both sides. Declared variant:
    * ranking within a doc orders by tf/df exactly as log-idf would whenever
    * tf is constant, and favors high-tf terms slightly more when not.
    *
    * Scale shape: explode → hash agg on (id, term) → term-keyed df agg →
    * term-keyed join → broadcast 1-row corpus count (stays in the plan, no
    * driver action) → WindowGroupLimit top-k per doc. No collect, no
    * all-pairs; vocabulary skew lands on the term-keyed exchange where AQE
    * skew handling applies.
    */
  def tfIdfTopTerms(df: org.apache.spark.sql.DataFrame, id: String, textCol: String,
                    k: Int): org.apache.spark.sql.DataFrame = {
    val tf = df.select(col(id), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", (col("tf") * col("n_docs")).cast("double") / col("df"))
    graft.ops.Relational.topKPerGroup(scored, Seq(id),
        Seq(col("tfidf").desc, col("term").asc), k)
      .select(col(id), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Per-document top-k BM25 terms: `(id, term, tf, df, dl, bm25)` with
    * k1 = 1.2, b = 0.75 — the search-ranking upgrade of [[tfIdfTopTerms]]:
    * term-frequency saturation (tf·(k1+1)/(tf+…) caps a spammed term) and
    * document-length normalization (dl/avgdl discounts long docs). The idf
    * is the same exact rational N/df as the TF-IDF tier (no
    * transcendentals); every double operation is written in one declared
    * order and mirrored verbatim in the oracle, so scores are
    * bit-reproducible (single IEEE expressions per row — no float
    * accumulation anywhere).
    *
    * Scale shape: identical to TF-IDF — explode → (id, term) hash agg →
    * term-keyed df agg/join → broadcast 1-row corpus stats →
    * WindowGroupLimit top-k.
    */
  def bm25TopTerms(df: org.apache.spark.sql.DataFrame, id: String, textCol: String,
                   k: Int): org.apache.spark.sql.DataFrame = {
    val scored = bm25Scored(df, id, textCol)
    graft.ops.Relational.topKPerGroup(scored, Seq(id),
        Seq(col("bm25").desc, col("term").asc), k)
      .select(col(id), col("term"), col("tf"), col("df"),
        col("dl").cast("long").as("dl"), col("bm25"))
  }

  /** The shared BM25 term-scoring pipeline: `(id, term, tf, df, dl, bm25)`.
    *
    * Tokenize ONCE: dl rides the token rows into the aggregate key (it is
    * functionally dependent on the id, so group cardinality is unchanged)
    * and total_dl is recovered as sum(tf) — no second normalization pass.
    * The tf frame feeds three branches (df-counts, totals, scoring), so it
    * is checkpointed like the dedup tier's shingle frame.
    */
  private def bm25Scored(df: org.apache.spark.sql.DataFrame, id: String,
                         textCol: String): org.apache.spark.sql.DataFrame = {
    val tf = df.select(col(id), tokens(col(textCol)).as("w"))
      .select(col(id), size(col("w")).as("dl"), explode(col("w")).as("term"))
      .groupBy(col(id), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    val totalDl = tf.agg(sum(col("tf")).as("total_dl"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(totalDl))
      // declared evaluation order, mirrored in SQL: idf * (tf*(k1+1)) / norm
      .withColumn("bm25",
        (col("n_docs").cast("double") / col("df")) *
          (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") /
                (col("total_dl").cast("double") / col("n_docs"))))))
  }

  /** BM25 retrieval: rank documents for a (small, driver-side) query set.
    * Each query is tokenized with the corpus tokenizer, deduplicated, and
    * its terms broadcast into the per-doc term-score frame — only docs
    * sharing a term survive the join, so the aggregate is
    * matching-postings-sized, never corpus-sized. Per-term scores are
    * quantized to nano-units and summed as DECIMAL, making the ranking
    * sum order-independent (bit-exact in any partitioning); query terms
    * absent from the corpus simply contribute nothing. Returns
    * `(qid, id, score_nano, n_terms)`, top `k` docs per query by
    * (score desc, id) — WindowGroupLimit, no global sort.
    */
  def bm25Retrieve(df: org.apache.spark.sql.DataFrame, id: String, textCol: String,
                   queries: Seq[(String, String)], k: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qterms = queries.toDF("qid", "qtext")
      .select(col("qid"), explode(array_distinct(tokens(col("qtext")))).as("term"))
    val hits = bm25Scored(df, id, textCol)
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("qid"), col(id))
      .agg(
        sum(round(col("bm25") * lit(1e9)).cast("decimal(38,0)"))
          .cast("long").as("score_nano"),
        count(lit(1)).as("n_terms"))
    graft.ops.Relational.topKPerGroup(hits, Seq("qid"),
        Seq(col("score_nano").desc, col(id).asc), k)
      .select(col("qid"), col(id), col("score_nano"), col("n_terms"))
  }

  /** Corpus vocabulary heavy-hitters: the top-k terms by total occurrence
    * count, with document frequency — the tokenizer-training / stopword-
    * discovery profile of a corpus. Shape: explode → per-(doc, term) count
    * (partial-aggregated map-side) → per-term rollup of tf and df from the
    * SAME aggregate (df = count of (doc, term) rows, so no second distinct
    * shuffle) → TakeOrderedAndProject top-k. Ordering is total (tf desc,
    * term asc), so the result is partitioning-invariant.
    */
  def vocabulary(df: org.apache.spark.sql.DataFrame, id: String, textCol: String,
                 k: Int): org.apache.spark.sql.DataFrame = {
    val perDoc = df.select(col(id), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    perDoc.groupBy("term")
      .agg(sum("tf").as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("term").asc)
      .limit(k)
  }

  /** Count-Min frequency-sketch audit for the corpus term distribution:
    * build a `depth × width` Count-Min sketch, then report, for the top-`k`
    * exact terms, the sketch estimate next to the truth —
    * `(term, n_exact, n_est, overcount, within_bound, n_total)` where
    * `within_bound` checks the estimate against the ⌈3·N/width⌉ overcount
    * budget (the ε·N guarantee with ε = 3/width — telemetry, not an
    * assertion: a cell that collides with a heavy hitter can exceed it, and
    * the row says so).
    *
    * Scale shape (the part that matters at 100 TB): the sketch is built
    * from the VOCABULARY frame, not the corpus — `groupBy(term)` combines
    * map-side first, so the d hash rows explode vocab-sized rows, never
    * corpus-sized ones, and the finished sketch is `depth × width` cells —
    * broadcastable, mergeable across shards by cell-wise addition (the
    * whole point of the sketch: per-shard sketches sum into the global
    * one). Hashes are disjoint 7-hex-char md5 substrings (28 bits, < 2³¹)
    * so the DuckDB oracle replays them bit-for-bit; everything is integer
    * arithmetic.
    */
  def countMinBounds(df: org.apache.spark.sql.DataFrame, id: String, textCol: String,
                     depth: Int, width: Int, k: Int): org.apache.spark.sql.DataFrame = {
    require(depth >= 1 && depth <= 4, s"depth in [1,4] (md5 yields 4 disjoint 28-bit rows): $depth")
    require(width >= 2, s"width >= 2: $width")
    def bucket(i: Int, c: Column): Column =
      pmod(conv(substring(md5(c), 1 + 7 * i, 7), 16, 10).cast("long"), lit(width.toLong))
    def hashRows(src: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      src.select(col("term"), col("n"), explode(array((0 until depth).map(i =>
        struct(lit(i).as("row_i"), bucket(i, col("term")).as("bucket"))): _*)).as("rb"))
        .select(col("term"), col("n"), col("rb.row_i").as("row_i"), col("rb.bucket").as("bucket"))
    // vocab frame, pinned: reused by the sketch build, the total, and the probe set
    val terms = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val sketch = hashRows(terms).groupBy("row_i", "bucket").agg(sum("n").as("cell"))
    val total = terms.agg(sum("n").as("n_total"))
    val top = terms.orderBy(col("n").desc, col("term")).limit(k)
    hashRows(top).join(broadcast(sketch), Seq("row_i", "bucket"))
      .groupBy("term", "n").agg(min("cell").as("n_est"))
      .crossJoin(broadcast(total))
      .select(col("term"), col("n").as("n_exact"), col("n_est"),
        (col("n_est") - col("n")).as("overcount"),
        (col("n_est") - col("n") <=
          expr(s"(3 * n_total + ${width - 1}) div $width")).as("within_bound"),
        col("n_total"))
  }

  /** Misra-Gries heavy-hitter audit — the MERGEABLE-summary counterpart
    * of [[countMinBounds]], run through the engine's first custom
    * TYPED IMPERATIVE AGGREGATE ([[graft.functions.MgTopK]]: map-side
    * partial summaries, shuffle-side PODS'12 merge, k-1 counters per
    * partial — the no-vocabulary-shuffle shape for frequent terms at
    * 100 TB). MG estimates depend on input partitioning, so the emitted
    * columns are the summary's PROVABLE derivatives against the exact
    * side, each a theorem the sketch must satisfy on every run:
    *
    *  - `qualifies`   — n_exact > N div k (the must-survive threshold)
    *  - `survived_ok` — every qualifying term is present in the summary
    *  - `bound_ok`    — a present term's estimate e satisfies
    *                    n_exact − (N div k) ≤ e ≤ n_exact
    *
    * over the exact top-`topM` terms. The oracle states the theorems as
    * TRUE — a guarantee violation on the Spark side hash-mismatches.
    */
  def heavyHitterBounds(df: org.apache.spark.sql.DataFrame, textCol: String,
                        k: Int, topM: Int): org.apache.spark.sql.DataFrame = {
    val sketch = df.select(explode(tokens(col(textCol))).as("term"))
      .agg(graft.functions.MgTopK(col("term"), k).as("sketch"))
    heavyHitterFlags(df, textCol, sketch, k, topM)
  }

  /** The provable-derivative flags of [[heavyHitterBounds]] for an
    * externally-built 1-row `sketch` frame (e.g. the STREAM-maintained
    * summary, `StreamingCatalog.replayHeavyHitters`) — exact side always
    * recomputed from the batch table, so the flags test the provided
    * summary against ground truth however it was assembled.
    */
  def heavyHitterFlags(df: org.apache.spark.sql.DataFrame, textCol: String,
                       sketch: org.apache.spark.sql.DataFrame,
                       k: Int, topM: Int): org.apache.spark.sql.DataFrame = {
    // vocab frame, pinned: reused by the exact top list and the total
    val terms = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_exact"))
      .localCheckpoint(false)
    val total = terms.agg(sum("n_exact").as("n_total"))
    val top = terms.orderBy(col("n_exact").desc, col("term")).limit(topM)
    top.crossJoin(broadcast(total)).crossJoin(broadcast(sketch))
      .withColumn("est", expr("filter(sketch, e -> e.term = term)[0].n_est"))
      .withColumn("qualifies", col("n_exact") > expr(s"n_total div $k"))
      .select(col("term"), col("n_exact"), col("n_total"), col("qualifies"),
        (!col("qualifies") || col("est").isNotNull).as("survived_ok"),
        (col("est").isNull ||
          (col("est") <= col("n_exact") &&
           col("est") >= col("n_exact") - expr(s"n_total div $k"))).as("bound_ok"))
      .orderBy(col("n_exact").desc, col("term"))
  }

  /** Corpus-wide adjacent-token pair frequencies — the merge-candidate
    * table of one BPE vocabulary-induction round (the argmax pair is the
    * next merge). `(a, b, n_pairs, n_docs)`, top-k by pair count with a
    * total-order tie-break.
    *
    * Shape: posexplode → lead window per doc (one exchange on the doc id,
    * same chain as [[repetitionAgg]]) → global hash aggregate with map-side
    * partials → TakeOrderedAndProject for the top-k. Pair volume is
    * Σ(n_tokens−1) — linear in the corpus, never quadratic.
    */
  def pairCounts(df: org.apache.spark.sql.DataFrame, id: String,
                 textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(id).orderBy("pos")
    df.select(col(id), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("tok").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col(id)).as("n_docs"))
      .orderBy(col("n_pairs").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Top skip-gram co-occurrence pairs by LIFT — the PMI ranking made
    * transcendental-free: lift = p(a,b)/(p(a)·p(b)) = n_ab·N/(n_a·n_b) is
    * a monotone transform of PMI (log of it), so ranking by the exact
    * ratio IS ranking by PMI with no log anywhere. Pairs are unordered
    * token pairs within a forward window of `window` positions (each
    * co-occurrence counted once, via leads — never a self-join on
    * positions); `minCount` floors n_ab so one-off juxtapositions of two
    * rare words don't dominate the ranking.
    *
    * Shape: posexplode → ONE window chain on the doc id emitting the
    * `window` forward partners per position (codegen'd leads, same chain
    * as [[pairCounts]]) → hash aggregate on the pair → two shuffle joins
    * against the vocab counts (vocab-sized, map-side combined). Pair
    * volume is `window`·Σ n_tokens — linear in the corpus. The one double
    * division happens last, in declared operand order, mirrored in the
    * oracle.
    */
  def liftTopPairs(df: org.apache.spark.sql.DataFrame, id: String, textCol: String,
                   window: Int, minCount: Long, k: Int): org.apache.spark.sql.DataFrame = {
    require(window >= 1, s"window >= 1: $window")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(id).orderBy("pos")
    val tok = df.select(col(id), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val nab = tok
      // windows must resolve in a Project before the Generate can explode them
      .select(col("tok") +: (1 to window).map(j =>
        lead(col("tok"), j).over(w).as(s"l_$j")): _*)
      .select(col("tok"),
        explode(array((1 to window).map(j => col(s"l_$j")): _*)).as("other"))
      .filter(col("other").isNotNull)
      .groupBy(least(col("tok"), col("other")).as("a"),
        greatest(col("tok"), col("other")).as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val tc = tok.groupBy(col("tok").as("term")).agg(count(lit(1)).as("n_term"))
    val total = tok.agg(count(lit(1)).as("n_total"))
    nab
      .join(tc.select(col("term").as("a"), col("n_term").as("n_a")), Seq("a"))
      .join(tc.select(col("term").as("b"), col("n_term").as("n_b")), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") * col("n_total")) /
          (col("n_a").cast("double") * col("n_b"))).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Exact greedy BPE TRAINING over the corpus: `rounds` iterations of
    * (argmax adjacent pair → apply the merge corpus-wide), returning the
    * learned merge table `(round, a, b, n_pairs)` — the actual tokenizer-
    * training loop.
    *
    * Everything is relational; the merge APPLICATION never re-scans
    * strings: candidates are `(tok = a ∧ next = b)` rows, greedy
    * left-to-right non-overlap is the run-parity rule (for `a = b`, only
    * odd positions within a run of `a`s start a merge — ⌊L/2⌋ disjoint
    * pairs from the left; for `a ≠ b` candidates can never overlap), a
    * merged pair's second token is dropped via `lag(selected)`, the first
    * rewrites to the concatenation, and positions rebuild with one
    * row_number. Each round is window chains on the doc id plus one hash
    * aggregate; the driver sees exactly ONE row per round (the argmax
    * pair — count desc, then (a, b) lexicographic, binary collation in
    * both engines). The per-round token frame is pinned
    * (localCheckpoint) so round r+1 scans a materialized frame instead of
    * replaying r rounds of windows — at 100 TB each round is one bounded
    * shuffle-and-scan, the same shape per round regardless of r.
    */
  def bpeTrain(df: org.apache.spark.sql.DataFrame, id: String, textCol: String,
               rounds: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeLoop(df, id, textCol, rounds)._1.toDF("round", "a", "b", "n_pairs")
  }

  /** [[bpeTrain]]'s merge table as driver values — the capturable fit the
    * catalog memoizes so the encode query consumes the SAME training
    * (fit-once/consume-many).
    */
  def bpeTrainTable(df: org.apache.spark.sql.DataFrame, id: String, textCol: String,
                    rounds: Int): Seq[(Int, String, String, Long)] =
    bpeLoop(df, id, textCol, rounds)._1

  /** Per-doc tokenization stats under the `rounds`-merge BPE vocabulary:
    * `(id, n_tokens_raw, n_tokens_bpe, n_merges_applied, compression)` —
    * the ENCODE side of the tokenizer, defined as the corpus token state
    * at the end of [[bpeTrain]]'s training transcript (each learned merge
    * applied corpus-wide in rank order, greedy left-to-right), which is the
    * exact state training itself leaves behind. `compression` = raw/bpe
    * tokens, the chars-per-token proxy curation pipelines threshold on.
    *
    * Same per-round shape as training (the rounds re-run, each a window
    * chain over the doc id plus one argmax); the final aggregate is one
    * hash aggregate on the doc id. At 100 TB the encode is `rounds`
    * bounded shuffle-and-scans — no per-word sequential loop anywhere.
    */
  def bpeEncodeStats(df: org.apache.spark.sql.DataFrame, id: String,
                     textCol: String, rounds: Int): org.apache.spark.sql.DataFrame = {
    val toks = bpeLoop(df, id, textCol, rounds)._2
    encodeStatsFrom(df, id, textCol, toks)
  }

  /** [[bpeEncodeStats]] from an ALREADY-TRAINED merge table, through the
    * native per-row kernel ([[graft.functions.BpeCountQ]]): encode under a
    * FIXED merge table is per-document-local (the loop path's windows
    * partition by the doc id),
    * so all merges apply inside ONE codegen'd scan — zero shuffles, no
    * per-round materialization, cost independent of the merge count's job
    * structure. Output-identical to the loop path (FunctionsSpec pins the
    * kernel against the test-side `SpecForms.bpeEncodeStatsFromMerges`) —
    * this is the production encode, the loop form is the relational value
    * oracle.
    */
  def bpeEncodeStatsKernel(df: org.apache.spark.sql.DataFrame, id: String,
                           textCol: String,
                           merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
    df.select(col(id), tokens(col(textCol)).as("__toks"))
      // null text has no tokens and so no stats row, as in the loop path
      .filter(col("__toks").isNotNull)
      .select(col(id),
        size(col("__toks")).cast("long").as("n_tokens_raw"),
        graft.functions.BpeCountQ(col("__toks"), merges).as("n_tokens_bpe"))
      .select(col(id), col("n_tokens_raw"), col("n_tokens_bpe"),
        (col("n_tokens_raw") - col("n_tokens_bpe")).as("n_merges_applied"),
        (col("n_tokens_raw").cast("double") / col("n_tokens_bpe")).as("compression"))

  private[llm] def encodeStatsFrom(df: org.apache.spark.sql.DataFrame, id: String,
                                   textCol: String,
                                   toks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val raw = df.select(col(id), size(tokens(col(textCol))).cast("long").as("n_tokens_raw"))
    val enc = toks.groupBy(col(id)).agg(count(lit(1)).as("n_tokens_bpe"))
    raw.join(enc, Seq(id))
      .select(col(id), col("n_tokens_raw"), col("n_tokens_bpe"),
        (col("n_tokens_raw") - col("n_tokens_bpe")).as("n_merges_applied"),
        (col("n_tokens_raw").cast("double") / col("n_tokens_bpe")).as("compression"))
  }

  /** One corpus-wide application of merge `(a, b)` — greedy left-to-right
    * via the run-parity rule (see [[bpeTrain]]). Positions are NOT
    * renumbered: `pos` is order-only downstream (lead/lag/row_number need
    * relative order, never contiguity — dropping a row keeps the rest
    * strictly increasing), so skipping the rebuild removes one full sort
    * pass per round (measured ~15% of the round).
    */
  private[llm] def applyMerge(toks: org.apache.spark.sql.DataFrame, id: String,
                              a: String, b: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(id).orderBy("pos")
    val wr = org.apache.spark.sql.expressions.Window.partitionBy(id, "run_id").orderBy("pos")
    val prv = lag(col("tok"), 1).over(w)
    toks
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .withColumn("chg", when(prv.isNull || prv =!= col("tok"), 1).otherwise(0))
      .withColumn("run_id", sum(col("chg")).over(w))
      .withColumn("run_pos", row_number().over(wr))
      .withColumn("sel", col("tok") === lit(a) &&
        coalesce(col("nxt") === lit(b), lit(false)) &&
        (lit(a != b) || col("run_pos") % 2 === 1))
      .withColumn("del", coalesce(lag(col("sel"), 1).over(w), lit(false)))
      .filter(!col("del"))
      .select(col(id), col("pos"),
        when(col("sel"), lit(a + b)).otherwise(col("tok")).as("tok"))
      .localCheckpoint(false)
  }

  /** Shared BPE training/encode loop: the learned merge table plus the
    * final `(id, pos, tok)` corpus token state after all applied rounds.
    */
  private def bpeLoop(df: org.apache.spark.sql.DataFrame, id: String, textCol: String,
                      rounds: Int): (Seq[(Int, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(id).orderBy("pos")
    var toks = df.select(col(id), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = toks
        .withColumn("nxt", lead(col("tok"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("tok"), col("nxt"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"), col("nxt"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every doc is a single token
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, n))
        toks = applyMerge(toks, id, a, b)
        r += 1
      }
    }
    (merges.toSeq, toks)
  }

  /** Repetition quality signals (the Gopher-style "repetitive content"
    * tier): `(id, n_tokens, n_bigrams, top_bigram_frac, dup_bigram_frac,
    * max_run)` where
    *  - `top_bigram_frac` = occurrences of the most frequent adjacent-token
    *    bigram over all n-1 bigram occurrences,
    *  - `dup_bigram_frac` = fraction of bigram occurrences whose bigram
    *    appears more than once,
    *  - `max_run` = longest run of consecutive identical tokens.
    * Docs with fewer than 2 tokens report 0 bigrams and 0.0 fractions.
    *
    * Shape: posexplode → one window chain per doc id (lead for bigrams,
    * lag + running sum for runs — same partition key, one exchange) →
    * hash aggregates. All counts are exact integers; the two fractions are
    * single double divisions, mirrored in the oracle.
    */
  def repetitionAgg(df: org.apache.spark.sql.DataFrame, id: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(id).orderBy("pos")
    val toks = df.select(col(id), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val bigAgg = toks
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col(id), col("tok"), col("nxt")).agg(count(lit(1)).as("c"))
      .groupBy(col(id))
      .agg(
        sum("c").as("n_bigrams"),
        max("c").as("top_c"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_c"))
    val prev = lag(col("tok"), 1).over(w)
    val runAgg = toks
      .withColumn("chg", when(prev.isNull || prev =!= col("tok"), 1).otherwise(0))
      .withColumn("run_id", sum(col("chg")).over(w))
      .groupBy(col(id), col("run_id")).agg(count(lit(1)).as("run_len"))
      .groupBy(col(id))
      .agg(max("run_len").as("max_run"), sum("run_len").as("n_tokens"))
    runAgg.join(bigAgg, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNotNull,
            col("top_c").cast("double") / col("n_bigrams"))
          .otherwise(lit(0.0)).as("top_bigram_frac"),
        when(col("n_bigrams").isNotNull,
            col("dup_c").cast("double") / col("n_bigrams"))
          .otherwise(lit(0.0)).as("dup_bigram_frac"),
        col("max_run"))
  }

  /** Fixed-size token-window chunking with overlap (the training-example
    * splitter): each doc yields chunks of `chunkSize` tokens starting every
    * `stride` tokens (overlap = chunkSize - stride); the final chunk keeps
    * whatever remains. `(id, chunk_id, n_tokens, chunk_text)`.
    *
    * Chunk count = 1 + ceil(max(n - chunkSize, 0) / stride), so every token
    * is covered and a doc shorter than one chunk yields exactly one chunk.
    * Shape: narrow — explode a per-doc chunk-index sequence, then
    * `slice` + `array_join` build each window from the token array. No
    * shuffle at all; chunking 100 TB is a flat map over input splits.
    */
  def chunkRows(df: org.apache.spark.sql.DataFrame, id: String, textCol: String,
                chunkSize: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(stride > 0 && stride <= chunkSize,
      s"stride in [1, chunkSize=$chunkSize]: $stride")
    val n = col("n")
    val extra = greatest(n - chunkSize, lit(0))
    val nchunks = (lit(1) + floor((extra + (stride - 1)) / stride)).cast("int")
    df.select(col(id), tokens(col(textCol)).as("w"))
      .withColumn("n", size(col("w")))
      .select(col(id), col("w"), n,
        explode(sequence(lit(0), nchunks - 1)).as("k"))
      .select(col(id),
        col("k").cast("long").as("chunk_id"),
        least(lit(chunkSize), n - col("k") * stride).cast("long").as("n_tokens"),
        array_join(slice(col("w"), col("k") * stride + 1, lit(chunkSize)), " ").as("chunk_text"))
  }

  /** Function-word marker profiles for the n-gram/stopword language-ID
    * heuristic (declared constants; priority order breaks ties).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "it"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des"),
    "es" -> Seq("el", "los", "las", "y", "es", "uno", "una", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"),
  )

  /** Marker-hit count for one language profile. */
  def langScore(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(c), t => t.isInCollection(markers)))

  /** Predicted language: argmax of the marker scores, ties broken by the
    * declared profile order, no hits at all → "und".
    */
  def langId(c: Column): Column = {
    val scores = LangMarkers.map { case (lang, m) => lang -> langScore(c, m) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Character-trigram language-ID profiles: (lang, trigram, weight) with
    * integer weights (~relative frequency per 10k), declared constants so
    * both engines score identically. Underscores stand for spaces.
    */
  val TrigramProfiles: Seq[(String, String, Long)] = {
    def p(lang: String, tris: (String, Long)*) =
      tris.map { case (t, w) => (lang, t.replace('_', ' '), w) }
    p("en", "_th" -> 35, "the" -> 33, "he_" -> 30, "ing" -> 18, "nd_" -> 16,
      "_an" -> 15, "er_" -> 14, "_of" -> 12, "of_" -> 11, "ed_" -> 10) ++
    p("fr", "_de" -> 30, "es_" -> 28, "de_" -> 26, "ent" -> 20, "_le" -> 18,
      "le_" -> 16, "que" -> 14, "on_" -> 12, "ais" -> 10, "eur" -> 9) ++
    p("es", "_de" -> 30, "de_" -> 28, "os_" -> 24, "_la" -> 20, "la_" -> 18,
      "as_" -> 16, "el_" -> 14, "ión" -> 12, "nte" -> 11, "ar_" -> 10) ++
    p("de", "en_" -> 30, "er_" -> 28, "ch_" -> 22, "der" -> 20, "ein" -> 18,
      "sch" -> 16, "_di" -> 14, "die" -> 13, "und" -> 12, "ung" -> 11) ++
    p("zh", "de_" -> 10, "shi" -> 8, "_zh" -> 6, "ang" -> 6, "eng" -> 5,
      "ian" -> 5, "ing" -> 4, "hao" -> 3, "wo_" -> 3, "men" -> 3)
  }

  /** Character n-gram language ID as ONE narrow codegen'd pass
    * ([[graft.functions.LangTriScores]], round-13): the per-language weight
    * sums compute by sliding a 3-code-point window over the normalized text
    * and probing the embedded profile table — the former shape exploded one
    * row per character trigram of the corpus, broadcast-joined the profile,
    * and hash-aggregated back to docs (at sf0.1 that is ~10M interpreted
    * substr rows through a join, serial on the few scan splits tiny inputs
    * give; at 100 TB it is a per-character row stream feeding an aggregate
    * — optimization guide §2.4/§4). Scores and the argmax/tie-break/"und"
    * fold are bit-identical (spec-pinned by DocHashQSpec against the
    * verbatim old chain). Docs with no trigram — or null text, which the
    * old left join + fill(0) also kept — score zero everywhere.
    * Returns `(id, s_<lang>..., lang_pred)`.
    */
  def langIdNgram(df: org.apache.spark.sql.DataFrame, id: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val langs = LangMarkers.map(_._1)
    val scored = df.select(col(id),
      graft.functions.LangScoresQ(normText(col(textCol)), TrigramProfiles, langs)
        .as("__sc"))
    val withScores = scored.select(col(id) +: langs.zipWithIndex.map {
      case (l, i) => element_at(col("__sc"), i + 1).as(s"s_$l")
    }: _*)
    val best = langs.map(l => col(s"s_$l")).reduce((a, b) => greatest(a, b))
    val pred = langs.foldRight(lit("und"): Column) { case (l, acc) =>
      when(col(s"s_$l") === best && col(s"s_$l") > 0, lit(l)).otherwise(acc)
    }
    withScores.select(col(id) +: langs.map(l => col(s"s_$l")) :+ pred.as("lang_pred"): _*)
  }

  /** Integer bigram-LM surprisal — the corpus-language-model quality
    * signal (the CCNet/Gopher perplexity-filter shape) with NO
    * transcendentals: a bigram occurring c times among the corpus's N
    * bigram slots carries ⌊log₂(N/c)⌋ = bitlength(N div c) − 1 bits, an
    * EXACT integer on both engines (binary-string length of the integer
    * quotient), so per-doc totals are exact longs and the one avg division
    * is IEEE-declared. Low avg_bits ⇒ corpus-typical (predictable) text;
    * high ⇒ rare constructions (novel or noisy) — the cheap LM filter that
    * needs no trained model, only the corpus itself. Cost: per-doc bigram
    * window (narrow), ONE (doc, bigram) occurrence aggregate
    * (checkpoint-pinned against its counts/join diamond), the global
    * bigram counts joined back at DISTINCT-pair volume, and a broadcast
    * 1-row total. Docs with < 2 tokens have no bigrams and drop out (the
    * stats tier's job). Output: `(id, n_bigrams, surprisal_bits,
    * avg_bits)`.
    */
  def bigramSurprisal(docs: org.apache.spark.sql.DataFrame, id: String,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(id),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy("pos")
    val db = toks
      .select(col(id), col("tok"), lead("tok", 1).over(w).as("t1"))
      .filter(col("t1").isNotNull)
      .select(col(id), concat_ws("|", col("tok"), col("t1")).as("bigram"))
      .groupBy(col(id), col("bigram")).agg(count(lit(1)).as("k"))
      .localCheckpoint()
    val c = db.groupBy(col("bigram")).agg(sum(col("k")).as("c"))
    val n = db.agg(sum(col("k")).as("n_total"))
    val bits = (length(conv(expr("n_total div c"), 10, 2)) - 1).cast("long")
    db.join(c, Seq("bigram"))
      .crossJoin(broadcast(n))
      .groupBy(col(id))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * bits).as("surprisal_bits"))
      .withColumn("avg_bits", col("surprisal_bits").cast("double") /
        col("n_bigrams").cast("double"))
  }
}
