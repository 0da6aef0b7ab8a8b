package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, Tables}

/** Driver-contract registrations for the text-analysis tier over the
  * `documents` table: stats/quality, language ID, fingerprints (md5 /
  * rolling / SimHash), exact dedup.
  *
  * The oracle SQL mirrors every formula with explicit DOUBLE casts and the
  * same operation order; token hashes are md5-derived on both sides
  * (TextOps.hash60 ↔ CAST('0x' || substring(md5(t),1,15) AS BIGINT)).
  */
object TextCatalog extends Catalog {

  val TfIdfK = 5

  /** Retrieval gate inputs: lowercase single-space queries so the oracle's
    * hand-tokenization is trivially identical to TextOps.tokens.
    */
  val RetrievalK = 10
  val RetrievalQueries: Seq[(String, String)] = Seq(
    "q_stream" -> "stream window batch",
    "q_join"   -> "join hash key merge",
    "q_scan"   -> "scan filter column table",
    "q_vector" -> "vector quantize")
  val ChunkSize = 32
  val ChunkStride = 24 // overlap 8
  val VocabK = 50
  /** BPE training rounds for the bpe_train_merges gate query. */
  val BpeRounds = 4

  /** Once-per-(JVM, sfDir) memo of the BPE training run — bpe_train_merges
    * and bpe_encode_stats consume ONE fit (the merge table is rounds-many
    * driver rows, control-plane sized).
    */
  private val bpeFits =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, String, String, Long)]]
  private def bpeFit(s: SparkSession, d: String): Seq[(Int, String, String, Long)] =
    bpeFits.getOrElseUpdate(d,
      TextOps.bpeTrainTable(Tables(s, d).documents, "doc_id", "text", BpeRounds))
  /** Stride-1 window width for the exact repeated-substring span tier. */
  val DupSpanK = 8
  /** Winnowing window (k-gram positions per selection window) for the
    * content-defined span tier; must stay <= DupSpanK so selected windows
    * inside one duplicated region merge into a single span. Detection
    * guarantee: common substrings >= WinnowW + DupSpanK - 1 = 15 tokens.
    */
  val WinnowW = 8
  /** Count-Min sketch geometry + probe set for the frequency-sketch audit. */
  val CmDepth = 4
  val CmWidth = 512
  val CmTopK = 20

  /** Misra-Gries summary size (k-1 counters) and audited top-term count. */
  val MgK = 64
  val MgTopM = 20
  /** Skip-gram lift ranking: forward window, pair-count floor, result size. */
  val LiftWindow = 3
  val LiftMinCount = 5L
  val LiftTopK = 30
  /** Nearest-rank percentiles for the per-language length profile. */
  val Percentiles = Seq(0.25, 0.5, 0.75, 0.9)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tfidf_top_terms" -> ((s, d) =>
      TextOps.tfIdfTopTerms(Tables(s, d).documents, "doc_id", "text", TfIdfK)
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))),

    "bm25_top_terms" -> ((s, d) =>
      TextOps.bm25TopTerms(Tables(s, d).documents, "doc_id", "text", TfIdfK)
        .orderBy(col("doc_id"), col("bm25").desc, col("term"))),

    // full-text retrieval: top-10 docs per query by integer-exact BM25
    // (one query term — 'quantize' — is deliberately out-of-vocabulary)
    "bm25_retrieval" -> ((s, d) =>
      TextOps.bm25Retrieve(Tables(s, d).documents, "doc_id", "text",
          RetrievalQueries, RetrievalK)
        .orderBy(col("qid"), col("score_nano").desc, col("doc_id"))),

    "text_stats" -> ((s, d) =>
      Tables(s, d).documents.select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.distinctTokenCount(col("text")).as("n_distinct_tokens"),
        TextOps.subwordCount(col("text")).as("n_subwords"),
        TextOps.avgTokenLen(col("text")).as("avg_token_len"),
        TextOps.stopwordRatio(col("text")).as("stopword_ratio"),
        TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.qualityScore(col("text")).as("quality_score"))
      .orderBy("doc_id")),

    "lang_id" -> ((s, d) => {
      val scoreCols = TextOps.LangMarkers.map { case (lang, m) =>
        TextOps.langScore(col("text"), m).as(s"s_$lang")
      }
      Tables(s, d).documents
        .select(col("doc_id") +: scoreCols :+ TextOps.langId(col("text")).as("lang_pred"): _*)
        .orderBy("doc_id")
    }),

    "lang_id_ngram" -> ((s, d) =>
      TextOps.langIdNgram(Tables(s, d).documents, "doc_id", "text")
        .orderBy("doc_id")),

    // model-eval tier: confusion matrix of the marker-based language ID
    // against the declared language, with exact per-declared-language
    // recall (the window runs over the bounded language domain)
    "lang_confusion" -> ((s, d) => {
      val pred = Tables(s, d).documents
        .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
      pred.groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .withColumn("recall", col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("lang")).cast("double"))
        .orderBy("lang", "lang_pred")
    }),

    // all three fingerprints in ONE narrow codegen'd projection (round-13):
    // they derive from the same normalized token array, and the former
    // join-of-three-derivations paid two doc-id exchanges (simhash +
    // rolling aggregates) plus two joins for values a single pass over the
    // scan computes. The null-text filter keeps the old inner-join
    // semantics (the aggregate forms dropped such docs).
    "doc_fingerprints" -> ((s, d) =>
      Tables(s, d).documents
        .filter(col("text").isNotNull)
        .select(
          col("doc_id"),
          TextOps.fingerprintMd5(col("text")).as("fp_md5"),
          graft.functions.RollingHashQ(TextOps.tokens(col("text"))).as("fp_rolling"),
          graft.functions.SimHashQ(TextOps.tokens(col("text"))).as("fp_simhash"))
        .orderBy("doc_id")),

    "text_fluency" -> ((s, d) =>
      TextOps.fluencyAgg(Tables(s, d).documents, "doc_id", "text")
        .orderBy("doc_id")),

    // quality-weighted sampling: keep probability = quality score, decided
    // by the salted id hash — deterministic, zero-shuffle
    "quality_weighted_sample" -> ((s, d) =>
      Corpus.weightedSample(Tables(s, d).documents, "doc_id",
          TextOps.qualityScore(col("text")))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // per-language score calibration: micro-quantized quality → exact
    // decimal moments → bit-reproducible z + percentile rank
    "quality_normalized" -> ((s, d) => {
      val q = Tables(s, d).documents.select(col("doc_id"), col("lang"),
        round(TextOps.qualityScore(col("text")) * 1000000).cast("long")
          .as("q_micro"))
      graft.ops.Relational.zscoreByGroup(q, "lang", "q_micro", "doc_id")
        .select(col("doc_id"), col("lang"), col("q_micro"), col("z"), col("pr"))
        .orderBy("doc_id")
    }),

    // stats ∘ text composition: per-language correlation / least-squares
    // fit of quality (micro-quantized — the proven q_micro contract)
    // against document length: one narrow quality projection, then ONE
    // hash aggregate via the exact DECIMAL regression moments
    "quality_length_regression" -> ((s, d) => {
      val q = Tables(s, d).documents.select(col("lang"),
        col("n_chars").as("x"),
        round(TextOps.qualityScore(col("text")) * 1000000).cast("long")
          .as("y"))
      graft.ops.Relational.regressionByGroup(q, Seq("lang"), "x", "y")
        .orderBy("lang")
    }),

    // corpus-level vocabulary profile (already deterministically ordered:
    // TakeOrderedAndProject on tf desc, term asc)
    "vocab_top_terms" -> ((s, d) =>
      TextOps.vocabulary(Tables(s, d).documents, "doc_id", "text", VocabK)),

    // one BPE merge round's candidate table: corpus-wide adjacent-pair
    // frequencies (argmax = the next merge)
    "bpe_pair_counts" -> ((s, d) =>
      TextOps.pairCounts(Tables(s, d).documents, "doc_id", "text", VocabK)),

    // ...and the actual TRAINING loop: argmax → apply → re-count, four
    // rounds, returning the learned merge table. The oracle re-derives
    // every round from scratch (four unrolled window-chain blocks) — the
    // merge sequence is proven, not captured. The fit is memoized per
    // (JVM, dir) — bpe_encode_stats consumes the SAME trained table
    // (fit-once/consume-many, pcaFit's idiom).
    "bpe_train_merges" -> ((s, d) => {
      val spark2 = s; import spark2.implicits._
      bpeFit(s, d).toDF("round", "a", "b", "n_pairs").orderBy("round")
    }),

    // tokenizer sizing metric: what share of all token OCCURRENCES the
    // top-k vocabulary covers (and the OOV remainder) — the vocab frame
    // (k rows) broadcasts into one narrow pass over the exploded corpus
    "vocab_coverage" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val vocab = TextOps.vocabulary(docs, "doc_id", "text", VocabK)
        .select(col("term"), lit(true).as("in_vocab"))
      docs.select(explode(TextOps.tokens(col("text"))).as("term"))
        .join(broadcast(vocab), Seq("term"), "left")
        .agg(count(lit(1)).as("n_tokens"),
          graft.ops.Relational.countIf(col("in_vocab").isNotNull).as("n_covered"))
        .select(col("n_tokens"), col("n_covered"),
          (col("n_covered").cast("double") / col("n_tokens")).as("coverage"),
          (lit(1.0) - col("n_covered").cast("double") / col("n_tokens"))
            .as("oov_rate"))
    }),

    "length_percentiles" -> ((s, d) =>
      graft.ops.Relational.exactPercentiles(Tables(s, d).documents,
          Seq("lang"), "n_chars", "doc_id", Percentiles)
        .orderBy("lang")),

    "doc_repetition" -> ((s, d) =>
      TextOps.repetitionAgg(Tables(s, d).documents, "doc_id", "text")
        .orderBy("doc_id")),

    "doc_surprisal" -> ((s, d) =>
      TextOps.bigramSurprisal(Tables(s, d).documents, "doc_id", "text")
        .orderBy("doc_id")),

    "doc_chunks" -> ((s, d) =>
      TextOps.chunkRows(Tables(s, d).documents, "doc_id", "text",
          ChunkSize, ChunkStride)
        .orderBy("doc_id", "chunk_id")),

    // chunk-level substring dedup: occurrences of token windows repeated
    // across (or within) docs, with canonical primary attribution
    "dup_chunks" -> ((s, d) =>
      Dedup.dupPassages(Tables(s, d).documents, "doc_id", "text",
          ChunkSize, ChunkStride)
        .orderBy("doc_id", "chunk_id")),

    // exact repeated-substring spans (Lee et al. suffix-array dedup,
    // re-expressed on stride-1 windows): maximal duplicated runs per doc,
    // and the per-doc duplicated-token fraction curation thresholds on
    "dup_spans" -> ((s, d) =>
      Dedup.dupSpans(Tables(s, d).documents, "doc_id", "text", DupSpanK)
        .orderBy("doc_id", "span_id")),

    "dup_span_coverage" -> ((s, d) =>
      Dedup.dupSpanCoverage(Tables(s, d).documents, "doc_id", "text", DupSpanK)
        .orderBy("doc_id")),

    // content-defined (winnowed) spans: alignment-invariant like dup_spans
    // but only window-minimum fingerprints are shuffled (~2/(w+1) of
    // positions) — the 100 TB form of the span tier
    "dup_spans_winnow" -> ((s, d) =>
      Dedup.winnowedDupSpans(Tables(s, d).documents, "doc_id", "text",
          DupSpanK, WinnowW)
        .orderBy("doc_id", "span_id")),

    // the ENCODE side of the BPE tokenizer: per-doc token counts and
    // compression under the bpe_train_merges vocabulary — the memoized
    // trained-merge table applied by the native per-row kernel
    // (BpeCountQ), one codegen'd scan with zero shuffles; the loop form
    // (SpecForms.bpeEncodeStatsFromMerges, test side) is the value oracle
    "bpe_encode_stats" -> ((s, d) =>
      TextOps.bpeEncodeStatsKernel(Tables(s, d).documents, "doc_id", "text",
          bpeFit(s, d).map { case (_, a, b, _) => (a, b) })
        .orderBy("doc_id")),

    // Count-Min frequency sketch vs exact truth for the head terms — the
    // mergeable-sketch audit (estimate always >= exact; bound telemetry)
    "countmin_term_bounds" -> ((s, d) =>
      TextOps.countMinBounds(Tables(s, d).documents, "doc_id", "text",
          CmDepth, CmWidth, CmTopK)
        .orderBy(col("n_exact").desc, col("term"))),

    // Misra-Gries heavy hitters through the custom typed imperative
    // aggregate — provable-derivative columns only (MG estimates are
    // partitioning-dependent); the oracle states the guarantees as TRUE
    "heavy_hitter_bounds" -> ((s, d) =>
      TextOps.heavyHitterBounds(Tables(s, d).documents, "text", MgK, MgTopM)),

    // PMI ranking without the log: top skip-gram pairs by exact-ratio lift
    "cooccurrence_lift" -> ((s, d) =>
      TextOps.liftTopPairs(Tables(s, d).documents, "doc_id", "text",
          LiftWindow, LiftMinCount, LiftTopK)),

    "quality_percentiles" -> ((s, d) =>
      graft.ops.Relational.exactPercentiles(
          Tables(s, d).documents.select(col("doc_id"), col("lang"),
            TextOps.qualityScore(col("text")).as("q")),
          Seq("lang"), "q", "doc_id", Percentiles)
        .orderBy("lang")),

    "exact_dedup" -> ((s, d) =>
      Dedup.exactDedupMap(Tables(s, d).documents, "doc_id", "text")
        .orderBy("doc_id")),

    "curated_corpus" -> ((s, d) =>
      Curation.curate(Tables(s, d).documents, "doc_id", "text")
        .orderBy("doc_id")),

    "curation_funnel" -> ((s, d) =>
      Curation.funnel(Tables(s, d).documents, "doc_id", "text")),

    // the single-pass labeling the funnel derives from, oracled per doc
    "curation_exit_stages" -> ((s, d) =>
      Curation.exitStages(Tables(s, d).documents, "doc_id", "text")
        .orderBy("doc_id")),

    // resumable variant: the per-stage outputs materialize ONCE per (JVM,
    // source dir) as the fixture — stage writes are eager inside
    // curateResumable — so the registered query measures a RESUMED run
    // (short-circuit reads of the persisted stages); same rows, same
    // oracle as curated_corpus
    "curated_corpus_resumed" -> ((s, d) => {
      val dir = graft.engine.FixtureDirs("curation-stages", d)(tmp =>
        Curation.curateResumable(Tables(s, d).documents, "doc_id", "text", tmp))
      Curation.curateResumable(Tables(s, d).documents, "doc_id", "text", dir)
        .orderBy("doc_id")
    }),
  )

  // -- oracle SQL (shared formula fragments in OracleSql) -------------------

  private val norm = OracleSql.norm
  private val docTokens = OracleSql.docTokens
  private def inList(words: Seq[String]) =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Quality-score formula in DuckDB SQL (mirror of TextOps.qualityScore)
    * over a frame exposing `w` (token list) and `text` — one source of
    * truth for text_stats and both curation oracles.
    */
  private[graft] val qualitySql: String =
    """least(CAST(len(w) AS DOUBLE) / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
      |    + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * CAST(0.4 AS DOUBLE)
      |    + (CAST(1.0 AS DOUBLE) - CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text)) * CAST(0.2 AS DOUBLE)""".stripMargin

  /** The curation quality gate in DuckDB SQL (mirror of
    * [[Curation.qualityGate]]) over the same frame — one source of truth
    * for every curation oracle and the streaming gate's.
    */
  private[graft] val qualityGateSql: String =
    s"""(len(w) >= ${Curation.MinTokens}
       |  AND $qualitySql
       |    >= ${Curation.MinQuality})""".stripMargin

  /** CTE chain `t → c → ch` ending in `ch(doc_id, chunk_id, n_tokens,
    * chunk_text)` (mirror of TextOps.chunkRows) — shared by doc_chunks and
    * dup_chunks.
    */
  private lazy val chunksCtes: String =
    s"""t AS ($docTokens),
       |c AS (SELECT doc_id, w, len(w) AS n,
       |    unnest(range(0, 1 + CAST(floor(
       |      (greatest(len(w) - $ChunkSize, 0) + ${ChunkStride - 1}) / ${ChunkStride}.0)
       |      AS BIGINT))) AS k
       |  FROM t),
       |ch AS (SELECT doc_id, k AS chunk_id,
       |  CAST(least($ChunkSize, n - k * $ChunkStride) AS BIGINT) AS n_tokens,
       |  array_to_string(w[(k * $ChunkStride + 1):(k * $ChunkStride + $ChunkSize)], ' ')
       |    AS chunk_text
       |  FROM c)""".stripMargin

  /** CTE chain `ex → pairs → kept → k` (exact dedup, near-dup drop,
    * tokenized survivors) shared by both curation oracles.
    */
  private lazy val curationKeptCtes: String = curationKeptCtesFrom("documents")

  /** The exact dedup → near-dup → token-split CTE chain over an arbitrary
    * source relation — shared with the composed end-to-end pipeline oracle
    * (CorpusCatalog), which runs the same curation over the
    * benchmark-carved corpus instead of raw `documents`.
    */
  private[llm] def curationKeptCtesFrom(src: String): String =
    s"""ex AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      min(doc_id) OVER (PARTITION BY md5($norm)) AS canon
       |    FROM $src)
       |  WHERE doc_id = canon),
       |${OracleSql.jaccardPairsCtesFrom("ex")},
       |kept AS (
       |  SELECT doc_id, text FROM ex
       |  WHERE doc_id NOT IN (SELECT id_b FROM pairs
       |    WHERE jaccard >= ${Curation.NearDupJaccard})),
       |k AS (SELECT doc_id, string_split($norm, ' ') AS w, text FROM kept)""".stripMargin

  /** Shared by curated_corpus and its resumable variant (same rows). */
  private lazy val curatedCorpusSql: String =
    s"""WITH $curationKeptCtes
       |SELECT doc_id, len(w) AS n_tokens,
       |  $qualitySql
       |    AS quality_score
       |FROM k
       |WHERE $qualityGateSql
       |ORDER BY doc_id""".stripMargin

  /** bpe_train_merges oracle: the whole training loop re-derived from
    * scratch — [[BpeRounds]] unrolled blocks, each one (pair argmax with
    * the count-desc/(a,b)-lexicographic tie-break) → (run-parity greedy
    * merge application) → (position rebuild), exactly mirroring
    * [[TextOps.bpeTrain]]'s relational rule: a merged pair's second token
    * is dropped via lag(selected), for a = b only odd run positions start
    * a merge.
    */
  private def bpeTrainSql: String = {
    val blocks = bpeRoundBlocks
    val union = (1 to BpeRounds)
      .map(r => s"SELECT $r AS round, a, b, n AS n_pairs FROM top_$r")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeTokCtes,
       |$blocks
       |$union
       |ORDER BY round""".stripMargin
  }

  /** bpe_encode_stats oracle: the same [[bpeRoundBlocks]] training replay,
    * then per-doc counts of the initial (`t_0`) vs final (`t_BpeRounds`)
    * token state — encode ≡ the token state training leaves behind.
    */
  private def bpeEncodeSql: String =
    s"""WITH $bpeTokCtes,
       |$bpeRoundBlocks,
       |raw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_raw
       |  FROM t_0 GROUP BY doc_id),
       |enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_bpe
       |  FROM t_$BpeRounds GROUP BY doc_id)
       |SELECT doc_id, n_tokens_raw, n_tokens_bpe,
       |  n_tokens_raw - n_tokens_bpe AS n_merges_applied,
       |  CAST(n_tokens_raw AS DOUBLE) / n_tokens_bpe AS compression
       |FROM raw JOIN enc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** `t → t_0` CTE prefix shared by the two BPE oracles. */
  private def bpeTokCtes: String =
    s"""t AS ($docTokens),
       |t_0 AS (SELECT doc_id, pos, w[pos] AS tok
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos FROM t))""".stripMargin

  private def bpeRoundBlocks: String = {
    (1 to BpeRounds).map { r =>
      s"""pr_$r AS (SELECT doc_id, pos, tok,
         |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM t_${r - 1}),
         |top_$r AS (SELECT a, b, n FROM (
         |    SELECT tok AS a, nxt AS b, CAST(count(*) AS BIGINT) AS n
         |    FROM pr_$r WHERE nxt IS NOT NULL GROUP BY tok, nxt)
         |  ORDER BY n DESC, a, b LIMIT 1),
         |st_$r AS (SELECT p.doc_id, p.pos, p.tok, p.nxt, tp.a, tp.b,
         |    lag(p.tok) OVER (PARTITION BY p.doc_id ORDER BY p.pos) AS prv
         |  FROM pr_$r p CROSS JOIN top_$r tp),
         |rn_$r AS (SELECT *, CASE WHEN prv IS NULL OR prv <> tok THEN 1 ELSE 0 END AS chg
         |  FROM st_$r),
         |ri_$r AS (SELECT *, sum(chg) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
         |  FROM rn_$r),
         |rp_$r AS (SELECT *, row_number() OVER (PARTITION BY doc_id, run_id ORDER BY pos) AS run_pos
         |  FROM ri_$r),
         |se_$r AS (SELECT *, (tok = a AND coalesce(nxt = b, false)
         |    AND (a <> b OR run_pos % 2 = 1)) AS sel FROM rp_$r),
         |de_$r AS (SELECT *, coalesce(lag(sel) OVER (PARTITION BY doc_id ORDER BY pos), false) AS del
         |  FROM se_$r),
         |t_$r AS (SELECT doc_id,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
         |    CASE WHEN sel THEN a || b ELSE tok END AS tok
         |  FROM de_$r WHERE NOT del)""".stripMargin
    }.mkString(",\n")
  }

  /** CTE chain `t → ws → wn → dpw → fl` ending in the duplicated k-window
    * occurrences `(doc_id, start, end, fp, n_occ)` — mirror of
    * [[Dedup.dupSpanWindows]], shared by the two span oracles.
    */
  private lazy val dupSpanCtes: String =
    s"""t AS ($docTokens),
       |ws AS (SELECT doc_id, w, unnest(range(1, len(w) - $DupSpanK + 2)) AS start
       |  FROM t WHERE len(w) >= $DupSpanK),
       |wn AS (SELECT doc_id, CAST(start AS BIGINT) AS start,
       |    CAST(start + $DupSpanK - 1 AS BIGINT) AS "end",
       |    md5(array_to_string(w[start:(start + $DupSpanK - 1)], ' ')) AS fp
       |  FROM ws),
       |dpw AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_occ
       |  FROM wn GROUP BY fp HAVING count(*) > 1),
       |fl AS (SELECT wn.* , dpw.n_occ FROM wn JOIN dpw USING (fp)),
       |pe AS (SELECT *, max("end") OVER (PARTITION BY doc_id ORDER BY start
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM fl),
       |il AS (SELECT *, CAST(sum(CASE WHEN prev_end IS NULL OR start > prev_end + 1
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY start) AS BIGINT)
       |    AS span_id
       |  FROM pe),
       |sp AS (SELECT doc_id, span_id,
       |    min(start) AS span_start, max("end") AS span_end,
       |    max("end") - min(start) + 1 AS span_tokens,
       |    CAST(count(*) AS BIGINT) AS n_windows
       |  FROM il GROUP BY doc_id, span_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "bpe_train_merges" -> bpeTrainSql,
    "bpe_encode_stats" -> bpeEncodeSql,

    "dup_spans" ->
      s"""WITH $dupSpanCtes
         |SELECT doc_id, span_id, span_start, span_end, span_tokens, n_windows
         |FROM sp ORDER BY doc_id, span_id""".stripMargin,

    // mirror of Dedup.winnowedDupSpans: per-position k-gram md5 || padded
    // position complement, rows-frame min over the next WinnowW starts
    // (truncated trailing frames select too, both engines), distinct
    // winners, then the dup_spans grouping + islands merge verbatim
    "dup_spans_winnow" ->
      s"""WITH t AS ($docTokens),
         |ws AS (SELECT doc_id, w, unnest(range(1, len(w) - $DupSpanK + 2)) AS pos
         |  FROM t WHERE len(w) >= $DupSpanK),
         |ky AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    md5(array_to_string(w[pos:(pos + $DupSpanK - 1)], ' '))
         |      || lpad(CAST(1000000000000 - pos AS VARCHAR), 13, '0') AS key
         |  FROM ws),
         |mk AS (SELECT doc_id, min(key) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS min_key
         |  FROM ky),
         |sel AS (SELECT DISTINCT doc_id, min_key FROM mk),
         |sw AS (SELECT doc_id, substring(min_key, 1, 32) AS fp,
         |    1000000000000 - CAST(substring(min_key, 33, 13) AS BIGINT) AS start
         |  FROM sel),
         |s2 AS (SELECT *, start + ${DupSpanK - 1} AS "end" FROM sw),
         |dpw AS (SELECT fp FROM s2 GROUP BY fp HAVING count(*) > 1),
         |fl AS (SELECT s2.* FROM s2 JOIN dpw USING (fp)),
         |pe AS (SELECT *, max("end") OVER (PARTITION BY doc_id ORDER BY start
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM fl),
         |il AS (SELECT *, CAST(sum(CASE WHEN prev_end IS NULL OR start > prev_end + 1
         |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY start) AS BIGINT)
         |    AS span_id
         |  FROM pe),
         |sp AS (SELECT doc_id, span_id,
         |    min(start) AS span_start, max("end") AS span_end,
         |    max("end") - min(start) + 1 AS span_tokens,
         |    CAST(count(*) AS BIGINT) AS n_windows
         |  FROM il GROUP BY doc_id, span_id)
         |SELECT doc_id, span_id, span_start, span_end, span_tokens, n_windows
         |FROM sp ORDER BY doc_id, span_id""".stripMargin,

    "countmin_term_bounds" ->
      s"""WITH t AS ($docTokens),
         |terms AS (SELECT term, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(w) AS term FROM t) GROUP BY term),
         |total AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM terms),
         |ri AS (SELECT unnest(range(0, $CmDepth)) AS row_i),
         |hr AS (SELECT term, n, row_i,
         |    CAST(('0x' || substring(md5(term), 1 + 7 * row_i, 7)) AS BIGINT)
         |      % $CmWidth AS bucket
         |  FROM terms CROSS JOIN ri),
         |sk AS (SELECT row_i, bucket, CAST(sum(n) AS BIGINT) AS cell
         |  FROM hr GROUP BY row_i, bucket),
         |top AS (SELECT term, n FROM terms ORDER BY n DESC, term LIMIT $CmTopK),
         |pr AS (SELECT t2.term, t2.n, ri.row_i,
         |    CAST(('0x' || substring(md5(t2.term), 1 + 7 * ri.row_i, 7)) AS BIGINT)
         |      % $CmWidth AS bucket
         |  FROM top t2 CROSS JOIN ri),
         |est AS (SELECT term, n, min(cell) AS n_est
         |  FROM pr JOIN sk USING (row_i, bucket) GROUP BY term, n)
         |SELECT term, n AS n_exact, n_est, n_est - n AS overcount,
         |  (n_est - n) <= ((3 * n_total + ${CmWidth - 1}) // $CmWidth) AS within_bound,
         |  n_total
         |FROM est CROSS JOIN total
         |ORDER BY n_exact DESC, term""".stripMargin,

    "heavy_hitter_bounds" ->
      s"""WITH t AS ($docTokens),
         |terms AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM (SELECT unnest(w) AS term FROM t) GROUP BY term),
         |total AS (SELECT CAST(sum(n_exact) AS BIGINT) AS n_total FROM terms),
         |top AS (SELECT term, n_exact FROM terms
         |  ORDER BY n_exact DESC, term LIMIT $MgTopM)
         |SELECT term, n_exact, n_total,
         |  n_exact > (n_total // $MgK) AS qualifies,
         |  TRUE AS survived_ok,
         |  TRUE AS bound_ok
         |FROM top CROSS JOIN total
         |ORDER BY n_exact DESC, term""".stripMargin,

    "cooccurrence_lift" ->
      s"""WITH t AS ($docTokens),
         |tok AS (SELECT doc_id, pos, w[pos] AS tok
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos FROM t)),
         |pr AS (SELECT least(x.tok, y.tok) AS a, greatest(x.tok, y.tok) AS b
         |  FROM tok x JOIN tok y ON x.doc_id = y.doc_id
         |    AND y.pos > x.pos AND y.pos <= x.pos + $LiftWindow),
         |nab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
         |  FROM pr GROUP BY a, b HAVING count(*) >= $LiftMinCount),
         |tc AS (SELECT tok AS term, CAST(count(*) AS BIGINT) AS n_term
         |  FROM tok GROUP BY tok),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok)
         |SELECT a, b, n_ab, ta.n_term AS n_a, tb.n_term AS n_b,
         |  (CAST(n_ab AS DOUBLE) * n_total) / (CAST(ta.n_term AS DOUBLE) * tb.n_term)
         |    AS lift
         |FROM nab JOIN tc ta ON nab.a = ta.term JOIN tc tb ON nab.b = tb.term
         |CROSS JOIN tot
         |ORDER BY lift DESC, a, b LIMIT $LiftTopK""".stripMargin,

    "dup_span_coverage" ->
      s"""WITH $dupSpanCtes,
         |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
         |  FROM sp GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
         |  coalesce(cov.n_spans, 0) AS n_spans,
         |  coalesce(cov.dup_tokens, 0) AS dup_tokens,
         |  CASE WHEN len(t.w) > 0
         |    THEN CAST(coalesce(cov.dup_tokens, 0) AS DOUBLE) / len(t.w)
         |    ELSE 0.0 END AS dup_frac
         |FROM t LEFT JOIN cov USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,
    "tfidf_top_terms" ->
      s"""WITH t AS ($docTokens),
         |tok AS (SELECT doc_id, unnest(w) AS term FROM t),
         |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, term, tf, df,
         |         CAST(tf * n_docs AS DOUBLE) / df AS tfidf
         |       FROM tfc JOIN dfc USING (term) CROSS JOIN n)
         |SELECT doc_id, term, tf, df, tfidf FROM sc
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) <= $TfIdfK
         |ORDER BY doc_id, tfidf DESC, term""".stripMargin,

    "text_stats" ->
      s"""WITH t AS ($docTokens)
         |SELECT doc_id,
         |  length(text) AS n_chars,
         |  len(w) AS n_tokens,
         |  len(list_distinct(w)) AS n_distinct_tokens,
         |  len(regexp_extract_all(nt, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subwords,
         |  CAST(length(nt) - (len(w) - 1) AS DOUBLE) / len(w) AS avg_token_len,
         |  CAST(len(list_filter(w, t -> t IN ${inList(TextOps.Stopwords)})) AS DOUBLE) / len(w) AS stopword_ratio,
         |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
         |  $qualitySql
         |    AS quality_score
         |FROM t ORDER BY doc_id""".stripMargin,

    "lang_id" -> {
      val scores = TextOps.LangMarkers.map { case (lang, m) =>
        s"len(list_filter(w, t -> t IN ${inList(m)})) AS s_$lang"
      }.mkString(",\n  ")
      val names = TextOps.LangMarkers.map { case (lang, _) => s"s_$lang" }
      val best = s"greatest(${names.mkString(", ")})"
      val cases = TextOps.LangMarkers.map { case (lang, _) =>
        s"WHEN s_$lang = $best AND s_$lang > 0 THEN '$lang'"
      }.mkString("\n    ")
      s"""WITH t AS ($docTokens),
         |s AS (SELECT doc_id,
         |  $scores
         |FROM t)
         |SELECT doc_id, ${names.mkString(", ")},
         |  CASE $cases
         |    ELSE 'und' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "lang_confusion" -> {
      val scores = TextOps.LangMarkers.map { case (lang, m) =>
        s"len(list_filter(w, t -> t IN ${inList(m)})) AS s_$lang"
      }.mkString(",\n  ")
      val names = TextOps.LangMarkers.map { case (lang, _) => s"s_$lang" }
      val best = s"greatest(${names.mkString(", ")})"
      val cases = TextOps.LangMarkers.map { case (lang, _) =>
        s"WHEN s_$lang = $best AND s_$lang > 0 THEN '$lang'"
      }.mkString("\n    ")
      s"""WITH t AS ($docTokens),
         |s AS (SELECT doc_id,
         |  $scores
         |FROM t),
         |p AS (SELECT doc_id,
         |  CASE $cases
         |    ELSE 'und' END AS lang_pred
         |FROM s),
         |j AS (SELECT d.lang, p.lang_pred
         |  FROM documents d JOIN p USING (doc_id)),
         |c AS (SELECT lang, lang_pred, count(*) AS n FROM j GROUP BY 1, 2)
         |SELECT lang, lang_pred, n,
         |  CAST(n AS DOUBLE)
         |    / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS recall
         |FROM c ORDER BY lang, lang_pred""".stripMargin
    },

    "lang_id_ngram" -> {
      val langs = TextOps.LangMarkers.map(_._1)
      val values = TextOps.TrigramProfiles
        .map { case (l, t, w) => s"('$l', '${t.replace("'", "''")}', $w)" }
        .mkString(",\n    ")
      // CAST to BIGINT: DuckDB sums INTEGER into HUGEINT (int128), which the
      // driver's comparison materializes as float64 while Spark emits int64 —
      // identical values, different hash, without the cast.
      val scores = langs.map(l =>
        s"CAST(sum(CASE WHEN p.lang = '$l' THEN p.w ELSE 0 END) AS BIGINT) AS s_$l").mkString(",\n    ")
      val fills = langs.map(l => s"CAST(coalesce(s.s_$l, 0) AS BIGINT) AS s_$l").mkString(", ")
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = $best AND s_$l > 0 THEN '$l'")
        .mkString("\n    ")
      s"""WITH t AS (SELECT doc_id, $norm AS nt FROM documents),
         |tri AS (SELECT doc_id, substring(nt, i, 3) AS tri
         |        FROM (SELECT doc_id, nt, unnest(range(1, length(nt) - 1)) AS i FROM t)),
         |profile(lang, tri, w) AS (VALUES
         |    $values),
         |sc AS (SELECT doc_id,
         |    $scores
         |  FROM tri JOIN profile p USING (tri) GROUP BY doc_id),
         |f AS (SELECT d.doc_id, $fills
         |      FROM documents d LEFT JOIN sc s USING (doc_id))
         |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
         |  CASE $cases
         |    ELSE 'und' END AS lang_pred
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "text_fluency" -> {
      val values = TextOps.FluencyBigrams
        .map { case (a, b, w) => s"('$a', '$b', $w)" }.mkString(",\n    ")
      s"""WITH t AS ($docTokens),
         |tok AS (SELECT doc_id, unnest(w) AS tok,
         |               unnest(range(1, len(w) + 1)) AS pos FROM t),
         |pr AS (SELECT a.doc_id, a.tok AS tok, b.tok AS nxt
         |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |bi(tok, nxt, wt) AS (VALUES
         |    $values),
         |agg AS (SELECT pr.doc_id,
         |    count(*) AS n_bigrams,
         |    count(bi.wt) AS n_hits,
         |    CAST(sum(coalesce(bi.wt, 0)) AS BIGINT) AS w_sum
         |  FROM pr LEFT JOIN bi ON pr.tok = bi.tok AND pr.nxt = bi.nxt
         |  GROUP BY pr.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(a.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(a.w_sum, 0) AS BIGINT) AS w_sum,
         |  CASE WHEN coalesce(a.n_bigrams, 0) > 0
         |       THEN CAST(coalesce(a.w_sum, 0) AS DOUBLE) / coalesce(a.n_bigrams, 0)
         |       ELSE CAST(0.0 AS DOUBLE) END AS fluency
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    "quality_weighted_sample" ->
      s"""WITH t AS ($docTokens)
         |SELECT doc_id, d.lang, d.source
         |FROM t JOIN (SELECT doc_id, lang, source FROM documents) d
         |  USING (doc_id)
         |WHERE ${OracleSql.h60("'wsample:' || CAST(doc_id AS VARCHAR)")} % 1000
         |  < CAST(round(($qualitySql) * 1000) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,

    // mirror of Relational.zscoreByGroup: DECIMAL(38,0) moment sums →
    // final scalars in IEEE doubles with the EXACT same operation order
    "quality_normalized" ->
      s"""WITH t AS ($docTokens),
         |q0 AS (SELECT doc_id,
         |    CAST(round(($qualitySql) * 1000000) AS BIGINT) AS q_micro
         |  FROM t),
         |q AS (SELECT q0.doc_id, d.lang, q0.q_micro
         |  FROM q0 JOIN documents d USING (doc_id)),
         |st AS (SELECT lang, count(*) AS n,
         |    CAST(sum(CAST(q_micro AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(q_micro * q_micro AS DECIMAL(38,0))) AS DOUBLE) AS sxx
         |  FROM q GROUP BY lang)
         |SELECT q.doc_id, q.lang, q.q_micro,
         |  CASE WHEN sxx / n - (sx / n) * (sx / n) <= 0 THEN 0.0
         |       ELSE (q_micro - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n))
         |  END AS z,
         |  percent_rank() OVER
         |    (PARTITION BY q.lang ORDER BY q.q_micro, q.doc_id) AS pr
         |FROM q JOIN st USING (lang)
         |ORDER BY q.doc_id""".stripMargin,

    "quality_length_regression" ->
      s"""WITH t AS ($docTokens),
         |q0 AS (SELECT doc_id,
         |    CAST(round(($qualitySql) * 1000000) AS BIGINT) AS y
         |  FROM t),
         |q AS (SELECT d.lang, CAST(d.n_chars AS BIGINT) AS x, q0.y
         |  FROM q0 JOIN documents d USING (doc_id)),
         |m AS (SELECT lang, count(*) AS n,
         |    CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
         |    CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy,
         |    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy
         |  FROM q GROUP BY lang)
         |SELECT lang, n,
         |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) <= 0 THEN 0.0
         |       ELSE (n * sxy - sx * sy) /
         |            sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r,
         |  CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
         |       ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
         |  (sy - (CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
         |              ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * sx)
         |    / n AS intercept
         |FROM m ORDER BY lang""".stripMargin,

    // corpus-bigram-LM surprisal: floor(log2(N/c)) spelled as the binary
    // string length of the integer quotient — exact on both engines
    "doc_surprisal" ->
      s"""WITH t AS ($docTokens),
         |bg AS (SELECT doc_id,
         |    unnest([w[i] || '|' || w[i+1] FOR i IN range(1, len(w))]) AS bigram
         |  FROM t WHERE len(w) >= 2),
         |db AS (SELECT doc_id, bigram, count(*) AS k FROM bg GROUP BY 1, 2),
         |c AS (SELECT bigram, CAST(sum(k) AS BIGINT) AS c FROM db GROUP BY 1),
         |n AS (SELECT CAST(sum(k) AS BIGINT) AS n_total FROM db)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         |  CAST(sum(k * (length(format('{:b}', n_total // c)) - 1)) AS BIGINT)
         |    AS surprisal_bits,
         |  CAST(sum(k * (length(format('{:b}', n_total // c)) - 1)) AS DOUBLE)
         |    / sum(k) AS avg_bits
         |FROM db JOIN c USING (bigram) CROSS JOIN n
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_repetition" ->
      s"""WITH t AS ($docTokens),
         |tok AS (SELECT doc_id, unnest(w) AS tok,
         |               unnest(range(1, len(w) + 1)) AS pos FROM t),
         |big AS (SELECT a.doc_id, a.tok AS tok, b.tok AS nxt
         |        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |bc AS (SELECT doc_id, tok, nxt, count(*) AS c FROM big GROUP BY doc_id, tok, nxt),
         |ba AS (SELECT doc_id,
         |    CAST(sum(c) AS BIGINT) AS n_bigrams,
         |    CAST(max(c) AS BIGINT) AS top_c,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_c
         |  FROM bc GROUP BY doc_id),
         |rn AS (SELECT doc_id, pos, tok,
         |    CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
         |              IS DISTINCT FROM tok THEN 1 ELSE 0 END AS chg
         |  FROM tok),
         |ri AS (SELECT doc_id,
         |    sum(chg) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
         |  FROM rn),
         |rl AS (SELECT doc_id, run_id, count(*) AS run_len FROM ri GROUP BY doc_id, run_id),
         |ra AS (SELECT doc_id,
         |    CAST(max(run_len) AS BIGINT) AS max_run,
         |    CAST(sum(run_len) AS BIGINT) AS n_tokens
         |  FROM rl GROUP BY doc_id)
         |SELECT ra.doc_id, ra.n_tokens,
         |  CAST(coalesce(ba.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CASE WHEN ba.n_bigrams IS NOT NULL
         |       THEN CAST(ba.top_c AS DOUBLE) / ba.n_bigrams
         |       ELSE CAST(0.0 AS DOUBLE) END AS top_bigram_frac,
         |  CASE WHEN ba.n_bigrams IS NOT NULL
         |       THEN CAST(ba.dup_c AS DOUBLE) / ba.n_bigrams
         |       ELSE CAST(0.0 AS DOUBLE) END AS dup_bigram_frac,
         |  ra.max_run
         |FROM ra LEFT JOIN ba USING (doc_id)
         |ORDER BY ra.doc_id""".stripMargin,

    "doc_chunks" ->
      s"""WITH $chunksCtes
         |SELECT doc_id, chunk_id, n_tokens, chunk_text
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "dup_chunks" ->
      s"""WITH $chunksCtes,
         |kd AS (SELECT doc_id, chunk_id, md5(chunk_text) AS fp,
         |    doc_id * ${Dedup.PrimaryMul} + chunk_id AS pkey
         |  FROM ch),
         |a AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_occ,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    min(pkey) AS pk
         |  FROM kd GROUP BY fp HAVING count(*) > 1)
         |SELECT kd.doc_id, kd.chunk_id, kd.fp, a.n_occ, a.n_docs,
         |  a.pk // ${Dedup.PrimaryMul} AS primary_doc,
         |  a.pk % ${Dedup.PrimaryMul} AS primary_chunk,
         |  kd.pkey = a.pk AS is_primary
         |FROM kd JOIN a USING (fp)
         |ORDER BY kd.doc_id, kd.chunk_id""".stripMargin,

    "quality_percentiles" -> {
      val cols = Percentiles.map { p =>
        val pm = (p * 1000).round
        s"""max(CASE WHEN rn = CAST(floor(($pm * n + 999) / 1000.0) AS BIGINT)
           |      THEN q END) AS p$pm""".stripMargin
      }.mkString(",\n  ")
      s"""WITH tq AS (SELECT doc_id, lang,
         |    $qualitySql
         |      AS q
         |  FROM (SELECT doc_id, lang, text, string_split($norm, ' ') AS w
         |        FROM documents)),
         |r AS (SELECT lang, q,
         |    row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM tq)
         |SELECT lang,
         |  $cols
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin
    },

    "bm25_top_terms" ->
      s"""WITH t AS ($docTokens),
         |base AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM t),
         |tfc AS (SELECT doc_id, dl, term, count(*) AS tf
         |        FROM base GROUP BY doc_id, dl, term),
         |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
         |st AS (SELECT count(*) AS n_docs,
         |       CAST(sum(len(w)) AS BIGINT) AS total_dl FROM t),
         |sc AS (SELECT doc_id, term, tf, df, dl,
         |    (CAST(n_docs AS DOUBLE) / df) *
         |      (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
         |      (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
         |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
         |          (CAST(dl AS DOUBLE) /
         |            (CAST(total_dl AS DOUBLE) / n_docs)))) AS bm25
         |  FROM tfc JOIN dfc USING (term) CROSS JOIN st)
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, CAST(dl AS BIGINT) AS dl, bm25
         |FROM sc
         |QUALIFY row_number() OVER (PARTITION BY doc_id
         |  ORDER BY bm25 DESC, term) <= $TfIdfK
         |ORDER BY doc_id, bm25 DESC, term""".stripMargin,

    // same sc CTE as bm25_top_terms; per-term nano-quantized scores sum
    // exactly, mirroring TextOps.bm25Retrieve
    "bm25_retrieval" -> {
      val values = TextCatalog.RetrievalQueries.flatMap { case (qid, q) =>
        q.split(" ").distinct.map(t => s"('$qid', '$t')")
      }.mkString(",\n    ")
      s"""WITH t AS ($docTokens),
         |base AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM t),
         |tfc AS (SELECT doc_id, dl, term, count(*) AS tf
         |        FROM base GROUP BY doc_id, dl, term),
         |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
         |st AS (SELECT count(*) AS n_docs,
         |       CAST(sum(len(w)) AS BIGINT) AS total_dl FROM t),
         |sc AS (SELECT doc_id, term, tf, df, dl,
         |    (CAST(n_docs AS DOUBLE) / df) *
         |      (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
         |      (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
         |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
         |          (CAST(dl AS DOUBLE) /
         |            (CAST(total_dl AS DOUBLE) / n_docs)))) AS bm25
         |  FROM tfc JOIN dfc USING (term) CROSS JOIN st),
         |qt(qid, term) AS (VALUES
         |    $values),
         |hits AS (SELECT qid, doc_id,
         |    CAST(sum(CAST(round(bm25 * 1000000000) AS DECIMAL(38,0))) AS BIGINT)
         |      AS score_nano,
         |    count(*) AS n_terms
         |  FROM sc JOIN qt USING (term) GROUP BY qid, doc_id)
         |SELECT qid, doc_id, score_nano, CAST(n_terms AS BIGINT) AS n_terms
         |FROM hits
         |QUALIFY row_number() OVER (PARTITION BY qid
         |  ORDER BY score_nano DESC, doc_id) <= $RetrievalK
         |ORDER BY qid, score_nano DESC, doc_id""".stripMargin
    },

    // adjacent pairs via 1-based list indexing over the token array —
    // same pair set as the engine's posexplode + lead chain
    "bpe_pair_counts" ->
      s"""WITH t AS ($docTokens),
         |i AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t),
         |p AS (SELECT doc_id, w[i] AS a, w[i + 1] AS b FROM i)
         |SELECT a, b, count(*) AS n_pairs,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM p GROUP BY a, b
         |ORDER BY n_pairs DESC, a, b LIMIT $VocabK""".stripMargin,

    "vocab_coverage" ->
      s"""WITH t AS ($docTokens),
         |tok AS (SELECT doc_id, unnest(w) AS term FROM t),
         |pd AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |v AS (SELECT term, CAST(sum(tf) AS BIGINT) AS tf,
         |        CAST(count(*) AS BIGINT) AS df
         |      FROM pd GROUP BY term
         |      ORDER BY CAST(sum(tf) AS BIGINT) DESC, term LIMIT $VocabK)
         |SELECT count(*) AS n_tokens,
         |  count(*) FILTER (WHERE term IN (SELECT term FROM v)) AS n_covered,
         |  CAST(count(*) FILTER (WHERE term IN (SELECT term FROM v)) AS DOUBLE)
         |    / count(*) AS coverage,
         |  1.0 - CAST(count(*) FILTER (WHERE term IN (SELECT term FROM v)) AS DOUBLE)
         |    / count(*) AS oov_rate
         |FROM tok""".stripMargin,

    "vocab_top_terms" ->
      s"""WITH t AS ($docTokens),
         |tok AS (SELECT doc_id, unnest(w) AS term FROM t),
         |pd AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |v AS (SELECT term, CAST(sum(tf) AS BIGINT) AS tf,
         |        CAST(count(*) AS BIGINT) AS df
         |      FROM pd GROUP BY term)
         |SELECT term, tf, df FROM v
         |ORDER BY tf DESC, term LIMIT $VocabK""".stripMargin,

    "length_percentiles" -> {
      val cols = Percentiles.map { p =>
        val pm = (p * 1000).round
        s"""max(CASE WHEN rn = CAST(floor(($pm * n + 999) / 1000.0) AS BIGINT)
           |      THEN n_chars END) AS p$pm""".stripMargin
      }.mkString(",\n  ")
      s"""WITH r AS (SELECT lang, n_chars,
         |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM documents)
         |SELECT lang,
         |  $cols
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin
    },

    "doc_fingerprints" ->
      s"""WITH ${OracleSql.simhashCtes},
         |perdoc AS (
         |  SELECT doc_id, md5(nt) AS fp_md5,
         |    list_reduce(
         |      list_prepend(CAST(0 AS BIGINT),
         |        list_transform(w, tok -> ${OracleSql.h60("tok")} % ${TextOps.RollP})),
         |      (a, b) -> (a * ${TextOps.RollB} + b) % ${TextOps.RollP}) AS fp_rolling
         |  FROM t)
         |SELECT p.doc_id, p.fp_md5, p.fp_rolling, s.fp_simhash
         |FROM perdoc p JOIN simhash s USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,

    "exact_dedup" ->
      s"""SELECT doc_id,
         |  md5($norm) AS fingerprint,
         |  min(doc_id) OVER (PARTITION BY md5($norm)) AS canonical_id,
         |  doc_id <> min(doc_id) OVER (PARTITION BY md5($norm)) AS is_duplicate
         |FROM documents ORDER BY doc_id""".stripMargin,

    "curated_corpus" -> curatedCorpusSql,
    // identical rows by construction — resuming must not change the output
    "curated_corpus_resumed" -> curatedCorpusSql,

    // same stage chain as curated_corpus, counted per stage
    "curation_funnel" ->
      s"""WITH $curationKeptCtes,
         |q AS (SELECT doc_id FROM k WHERE $qualityGateSql)
         |SELECT 'input' AS stage, count(*) AS n_docs FROM documents
         |UNION ALL SELECT 'exact_dedup', count(*) FROM ex
         |UNION ALL SELECT 'near_dedup', count(*) FROM kept
         |UNION ALL SELECT 'quality_gate', count(*) FROM q
         |ORDER BY stage""".stripMargin,

    // per-doc first-drop labels: membership in each successive stage CTE
    "curation_exit_stages" ->
      s"""WITH $curationKeptCtes,
         |q AS (SELECT doc_id FROM k WHERE $qualityGateSql)
         |SELECT d.doc_id,
         |  CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM ex) THEN 'exact_dup_loser'
         |       WHEN d.doc_id NOT IN (SELECT doc_id FROM kept) THEN 'near_dup_loser'
         |       WHEN d.doc_id NOT IN (SELECT doc_id FROM q) THEN 'quality_fail'
         |       ELSE 'survivor' END AS exit_stage
         |FROM documents d ORDER BY d.doc_id""".stripMargin,
  )
}
