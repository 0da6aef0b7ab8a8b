package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, Tables}

/** Driver-contract registrations for the corpus-management tier over
  * `documents`: stratified sampling, shard packing, decontamination.
  *
  * All three are hash/window-deterministic, so the DuckDB oracles are exact
  * mirrors (same md5-derived sample hash, same running-sum window frame,
  * same shingle containment).
  */
object CorpusCatalog extends Catalog {

  /** Mixture dial: up-keep scarce zh, halve dominant en, quarter the rest. */
  val SampleRates = Map("en" -> 0.5, "zh" -> 1.0)
  val DefaultRate = 0.25
  val TokensPerShard = 2000L
  /** Declared target token shares for the mixture plan (sums to 1). */
  val TargetShares = Map("en" -> 0.3, "fr" -> 0.2, "es" -> 0.2, "zh" -> 0.2)
  val DefaultTargetShare = 0.1
  val BenchmarkSource = "src0" // the held-out eval slice in the fixture data
  val BenchmarkMod = 10L       // embeddings benchmark: vec_id % 10 = 0
  val FixedBenchmarkCap = 2000L // the fixed benchmark set's id ceiling
  val EmbContamCos = 0.35      // near-orthogonal fixture vectors; >0.35 is close
  /** Per-source quota: below the fixture's 25 docs/source so the cap binds. */
  val SourceCap = 12
  /** Train/val/test cut points (hash-bucket boundaries at 800/900). */
  val SplitFractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  /** End-to-end pipeline decontamination cut: drop docs with more than
    * half their 3-gram shingles found in the benchmark set (verbatim and
    * near-verbatim leaks; the fixture's partial template overlaps sit at
    * containment ≤ 0.25 and survive).
    */
  val PipelineContamMax = 0.5
  /** pipeline_end_to_end's captured scale-adaptive SRP width (the same
    * capture mechanism as SimilarityCatalog's srp queries: the oracle for
    * a width-adaptive query appears once the query has run and recorded
    * the width it chose).
    */
  private var pipelineSrpWidth: Option[Int] = None

  /** The split CASE as SQL over an arbitrary id expression — the oracle
    * mirror of Corpus.splitExpr.
    */
  private def splitCaseSql(idExpr: String): String = {
    val bounds = SplitFractions.scanLeft(0L) { case (acc, (_, f)) =>
      acc + (f * 1000).round
    }.tail
    val b = s"(${OracleSql.h60(s"'split:' || CAST($idExpr AS VARCHAR)")} % 1000)"
    val cases = SplitFractions.init.zip(bounds.init)
      .map { case ((name, _), hi) => s"WHEN $b < $hi THEN '$name'" }
      .mkString(" ")
    s"(CASE $cases ELSE '${SplitFractions.last._1}' END)"
  }
  val NumShards = 8

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stratified_sample" -> ((s, d) =>
      Corpus.stratifiedSample(Tables(s, d).documents, "doc_id", "lang",
          SampleRates, DefaultRate)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    "token_shard_packing" -> ((s, d) =>
      Corpus.packShards(Tables(s, d).documents, "doc_id", "lang", "text",
          TokensPerShard)
        .orderBy("doc_id")),

    // shard assembly: each shard becomes ONE training row (ordered concat
    // with separator) — content proven exactly, not just counts
    "packed_sequences" -> ((s, d) =>
      Corpus.packSequences(Tables(s, d).documents, "doc_id", "lang", "text",
          TokensPerShard)
        .orderBy("lang", "shard_id")),

    "corpus_mixture" -> ((s, d) =>
      Corpus.mixtureWeights(Tables(s, d).documents, "lang", "text",
          TargetShares, DefaultTargetShare)
        .orderBy("lang")),

    // the weights APPLIED: deterministic hash down-sampling at the
    // computed per-stratum keep rates — the pass that actually moves the
    // corpus toward the target mixture
    "mixture_resample" -> ((s, d) =>
      Corpus.mixtureResample(Tables(s, d).documents, "doc_id", "lang", "text",
          TargetShares, DefaultTargetShare)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    "benchmark_contamination" -> ((s, d) => {
      val docs = Tables(s, d).documents
      Corpus.contaminationScores(
          docs.filter(col("source") =!= BenchmarkSource),
          docs.filter(col("source") === BenchmarkSource),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    "source_similarity" -> ((s, d) =>
      Corpus.sourceSimilarity(Tables(s, d).documents,
        "doc_id", "source", "text")),

    // span-LEVEL decontamination: WHICH positions of each corpus doc leak
    // from the benchmark set (winnowed fingerprints, broadcast bench side)
    // — the trim-remediation complement of benchmark_contamination's
    // per-doc score
    "span_decontam" -> ((s, d) => {
      val docs = Tables(s, d).documents
      Dedup.spanDecontam(
          docs.filter(col("source") =!= BenchmarkSource),
          docs.filter(col("source") === BenchmarkSource),
          "doc_id", "text", TextCatalog.DupSpanK, TextCatalog.WinnowW)
        .orderBy("doc_id", "span_id")
    }),

    // the production contamination shape: the benchmark is a FIXED id set
    // (real eval benchmarks don't grow with the training corpus). A
    // benchmark derived from the corpus by modulus alone makes BOTH join
    // sides scale with sf, so the cost is quadratic BY FIXTURE (measured
    // 21× on 10× data even at constant duplication rate); with the
    // benchmark pinned below FixedBenchmarkCap the same operator is one
    // broadcast pass, linear in the corpus.
    "embedding_contamination_fixed" -> ((s, d) => {
      val emb = Tables(s, d).embeddings
      val isBench = pmod(col("vec_id"), lit(BenchmarkMod)) === 0 &&
        col("vec_id") < FixedBenchmarkCap
      Corpus.embeddingContamination(
          emb.filter(!isBench), emb.filter(isBench),
          "vec_id", "embedding", EmbContamCos)
        .orderBy("vec_id")
    }),

    "source_caps" -> ((s, d) =>
      Corpus.capPerSource(Tables(s, d).documents, "doc_id", "source", SourceCap)
        .select("doc_id", "lang", "source", "keep_rank")
        .orderBy("doc_id")),

    "dataset_split" -> ((s, d) =>
      Corpus.assignSplits(Tables(s, d).documents, "doc_id", SplitFractions)
        .select("doc_id", "lang", "bucket", "split")
        .orderBy("doc_id")),

    // eval-contamination audit INSIDE the corpus: near-dup pairs whose
    // members fall in different splits (splits computed directly on the
    // pair rows — no join back to the corpus)
    "split_leakage" -> ((s, d) =>
      Corpus.splitLeakage(Tables(s, d).documents, "doc_id", "text",
          graft.llm.DedupCatalog.JaccardThreshold, SplitFractions)
        .orderBy("id_a", "id_b")),

    "shuffle_shards" -> ((s, d) =>
      Corpus.shuffleShards(Tables(s, d).documents, "doc_id", NumShards)
        .select("doc_id", "shard", "position")
        .orderBy("doc_id")),

    "doc_novelty" -> ((s, d) =>
      Corpus.noveltyScores(Tables(s, d).documents, "doc_id", "text")
        .orderBy("doc_id")),

    "shard_manifest" -> ((s, d) =>
      Corpus.shardManifest(Tables(s, d).documents, "doc_id", "lang", "text",
          TokensPerShard)
        .orderBy("lang", "shard_id")),

    // the INTEGRATION gate row: benchmark carve-out -> curation (exact +
    // near dedup + quality) -> semantic dedup (srp_bucket, the production
    // form) -> n-gram decontamination -> split assignment -> sequence
    // packing, composed over ONE corpus and hashed end-to-end. Piecewise
    // green stages can still mis-compose (wrong survivor frame handed
    // downstream); this row pins the composition itself. The SRP band
    // width is scale-adaptive on the curated-survivor count, captured for
    // the oracle like every srp query.
    "pipeline_end_to_end" -> ((s, d) => {
      val t = Tables(s, d)
      val (rpb, out) = Pipeline.endToEnd(t.documents, t.embeddings,
        BenchmarkSource, SimilarityCatalog.Dim, SimilarityCatalog.NearDupCos,
        PipelineContamMax, SplitFractions, TokensPerShard)
      pipelineSrpWidth = Some(rpb)
      out
    }),
  )

  /** Stage attribution for the composition gate (perfbench's `pipeline.*_s`
    * layer): the same parameters as the `pipeline_end_to_end` catalog entry,
    * replayed through [[Pipeline.stageTimings]] (forced stage boundaries).
    * Not a registered query — it measures, it doesn't verify.
    */
  def pipelineStageTimings(s: SparkSession, d: String): Seq[(String, Double)] = {
    val t = Tables(s, d)
    Pipeline.stageTimings(t.documents, t.embeddings,
      BenchmarkSource, SimilarityCatalog.Dim, SimilarityCatalog.NearDupCos,
      PipelineContamMax, SplitFractions, TokensPerShard)
  }

  /** The end-to-end pipeline oracle: the SAME stage composition re-derived
    * in DuckDB — curation CTE chain (TextCatalog's, over the carved
    * corpus), the srp band+verify replay at the captured width
    * (SimilarityCatalog's, over the survivors' vectors), the containment
    * replay (side-tagged union, so the shared shingle spelling needs no
    * renamed CTEs), the split CASE, and the running-token packing window.
    * Each stage sits in its own nested WITH scope, so fragment CTE names
    * (`ex`, `tt`, `sh`) never collide across stages.
    */
  private def pipelineOracle: Option[(String, String)] = pipelineSrpWidth.map { rpb =>
    val norm = OracleSql.norm
    "pipeline_end_to_end" ->
      s"""WITH cd AS (SELECT doc_id, text, lang FROM documents
         |  WHERE source <> '$BenchmarkSource'),
         |cur AS (
         |  WITH ${TextCatalog.curationKeptCtesFrom("cd")}
         |  SELECT doc_id, text, len(w) AS n_tokens FROM k
         |  WHERE ${TextCatalog.qualityGateSql}),
         |sdup AS (
         |  WITH p AS (SELECT vec_id,
         |      list_transform(embedding, x ->
         |        CAST(floor(CAST(x AS DOUBLE) * ${Similarity.QScale}.0) AS BIGINT)) AS q
         |    FROM embeddings WHERE vec_id IN (SELECT doc_id FROM cur)),
         |  nrm AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS n2
         |    FROM (SELECT vec_id, unnest(q) AS x FROM p) GROUP BY vec_id),
         |  pn AS (SELECT p.vec_id, p.q, nrm.n2 FROM p JOIN nrm USING (vec_id)),
         |  ${SimilarityCatalog.srpSketchCtesWidth(rpb)},
         |  scand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |    FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
         |      AND a.vec_id < b.vec_id),
         |  ssc AS (
         |    SELECT scand.id_a, scand.id_b, x.n2 AS na, y.n2 AS nb,
         |      (SELECT CAST(sum(xx * yy) AS BIGINT)
         |       FROM (SELECT unnest(x.q) AS xx, unnest(y.q) AS yy)) AS dot
         |    FROM scand
         |    JOIN pn x ON x.vec_id = scand.id_a
         |    JOIN pn y ON y.vec_id = scand.id_b)
         |  SELECT id_b AS vec_id FROM ssc
         |  WHERE CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
         |      >= ${SimilarityCatalog.NearDupCos}
         |  GROUP BY id_b),
         |sem AS (SELECT doc_id, text, n_tokens FROM cur
         |  WHERE doc_id NOT IN (SELECT vec_id FROM sdup)),
         |contam AS (
         |  WITH cb AS (SELECT doc_id, 'c' AS side, text FROM sem
         |    UNION ALL
         |    SELECT doc_id, 'b' AS side, text FROM documents
         |    WHERE source = '$BenchmarkSource'),
         |  tw AS (SELECT doc_id, side, string_split($norm, ' ') AS w FROM cb),
         |  shs AS (SELECT doc_id, side,
         |      list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2]
         |                     FOR i IN range(1, len(w) - 1)]) AS s
         |    FROM tw WHERE len(w) >= 3),
         |  bench AS (SELECT DISTINCT unnest(s) AS shingle FROM shs WHERE side = 'b'),
         |  corp AS (SELECT doc_id, unnest(s) AS shingle FROM shs WHERE side = 'c'),
         |  per AS (SELECT c.doc_id, count(*) AS n_shingles,
         |      count(b.shingle) AS n_overlap
         |    FROM corp c LEFT JOIN bench b USING (shingle) GROUP BY c.doc_id)
         |  SELECT doc_id FROM per
         |  WHERE CAST(n_overlap AS DOUBLE) / n_shingles > $PipelineContamMax),
         |clean AS (SELECT doc_id, n_tokens FROM sem
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |sp AS (SELECT c.doc_id, d.lang, ${splitCaseSql("c.doc_id")} AS split,
         |    c.n_tokens
         |  FROM clean c JOIN cd d USING (doc_id)),
         |r AS (SELECT *, coalesce(SUM(n_tokens) OVER (
         |    PARTITION BY split, lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run
         |  FROM sp)
         |SELECT split, lang, CAST(floor(run / $TokensPerShard.0) AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM r GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin
  }

  def oracleSql: Map[String, String] = pipelineOracle.toMap ++ Map(
    "stratified_sample" -> {
      val cases = SampleRates.toSeq.sortBy(_._1).reverse
        .foldLeft((DefaultRate * 1000).toLong.toString) { case (acc, (s, r)) =>
          s"CASE WHEN lang = '$s' THEN ${(r * 1000).toLong} ELSE $acc END"
        }
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${OracleSql.h60("'sample:' || CAST(doc_id AS VARCHAR)")} % 1000
         |  < $cases
         |ORDER BY doc_id""".stripMargin
    },

    "token_shard_packing" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |    len(string_split(${OracleSql.norm}, ' ')) AS n_tokens
         |  FROM documents),
         |r AS (SELECT doc_id, lang, n_tokens,
         |    coalesce(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run
         |  FROM t)
         |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(floor(run / ${TokensPerShard}.0) AS BIGINT) AS shard_id
         |FROM r ORDER BY doc_id""".stripMargin,

    "packed_sequences" ->
      s"""WITH t AS (SELECT doc_id, lang, text,
         |    len(string_split(${OracleSql.norm}, ' ')) AS n_tokens
         |  FROM documents),
         |r AS (SELECT doc_id, lang, text, n_tokens,
         |    coalesce(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run
         |  FROM t)
         |SELECT lang, CAST(floor(run / ${TokensPerShard}.0) AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS packed_text
         |FROM r
         |GROUP BY lang, CAST(floor(run / ${TokensPerShard}.0) AS BIGINT)
         |ORDER BY lang, shard_id""".stripMargin,

    "corpus_mixture" -> {
      val targetCase = TargetShares.toSeq.sortBy(_._1).reverse
        .foldLeft(s"CAST($DefaultTargetShare AS DOUBLE)") { case (acc, (s, t)) =>
          s"CASE WHEN lang = '$s' THEN CAST($t AS DOUBLE) ELSE $acc END"
        }
      s"""WITH per AS (SELECT lang, count(*) AS n_docs,
         |    CAST(sum(len(string_split(${OracleSql.norm}, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per),
         |m AS (SELECT lang, n_docs, n_tokens,
         |    CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
         |    $targetCase AS target_share
         |  FROM per CROSS JOIN tot)
         |SELECT lang, n_docs, n_tokens, token_share, target_share,
         |  target_share / token_share AS upsample_factor,
         |  least(CAST(1.0 AS DOUBLE), target_share / token_share) AS keep_prob
         |FROM m ORDER BY lang""".stripMargin
    },

    "mixture_resample" -> {
      val targetCase = TargetShares.toSeq.sortBy(_._1).reverse
        .foldLeft(s"CAST($DefaultTargetShare AS DOUBLE)") { case (acc, (s, t)) =>
          s"CASE WHEN lang = '$s' THEN CAST($t AS DOUBLE) ELSE $acc END"
        }
      s"""WITH per AS (SELECT lang, count(*) AS n_docs,
         |    CAST(sum(len(string_split(${OracleSql.norm}, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per),
         |rates AS (SELECT lang,
         |    CAST(floor(least(CAST(1.0 AS DOUBLE),
         |      ($targetCase) / (CAST(n_tokens AS DOUBLE) / total_tokens)) * 1000)
         |      AS BIGINT) AS keep_mil
         |  FROM per CROSS JOIN tot)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN rates USING (lang)
         |WHERE ${OracleSql.h60("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000 < keep_mil
         |ORDER BY doc_id""".stripMargin
    },

    "embedding_contamination_fixed" ->
      s"""WITH ${SimilarityCatalog.prepSql},
         |scored AS (
         |  SELECT c.vec_id, c.n2 AS cn2, b.n2 AS bn2,
         |    (SELECT CAST(sum(x * y) AS BIGINT)
         |     FROM (SELECT unnest(c.q) AS x, unnest(b.q) AS y)) AS dot
         |  FROM pn c JOIN pn b
         |    ON (b.vec_id % $BenchmarkMod = 0 AND b.vec_id < $FixedBenchmarkCap)
         |    AND NOT (c.vec_id % $BenchmarkMod = 0 AND c.vec_id < $FixedBenchmarkCap)),
         |per AS (SELECT vec_id,
         |    max(CAST(dot AS DOUBLE) /
         |        (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE)))) AS max_cosine
         |  FROM scored GROUP BY vec_id)
         |SELECT vec_id, max_cosine, max_cosine >= $EmbContamCos AS is_contaminated
         |FROM per ORDER BY vec_id""".stripMargin,

    "source_caps" ->
      s"""SELECT doc_id, lang, source, keep_rank FROM (
         |  SELECT doc_id, lang, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${OracleSql.h60("'cap:' || CAST(doc_id AS VARCHAR)")},
         |               doc_id) AS keep_rank
         |  FROM documents)
         |WHERE keep_rank <= $SourceCap
         |ORDER BY doc_id""".stripMargin,

    "split_leakage" -> {
      val t = graft.llm.DedupCatalog.JaccardThreshold
      s"""WITH ${OracleSql.jaccardPairsCtes}
         |SELECT id_a, ${splitCaseSql("id_a")} AS split_a,
         |  id_b, ${splitCaseSql("id_b")} AS split_b, jaccard
         |FROM pairs
         |WHERE jaccard >= $t
         |  AND ${splitCaseSql("id_a")} <> ${splitCaseSql("id_b")}
         |ORDER BY id_a, id_b""".stripMargin
    },

    "dataset_split" -> {
      // same cumulative cut points as Corpus.assignSplits
      val bounds = SplitFractions.scanLeft(0L) { case (acc, (_, f)) =>
        acc + (f * 1000).round
      }.tail
      val cases = SplitFractions.init.zip(bounds.init)
        .map { case ((name, _), hi) => s"WHEN b < $hi THEN '$name'" }
        .mkString(" ")
      s"""SELECT doc_id, lang, b AS bucket,
         |  CASE $cases ELSE '${SplitFractions.last._1}' END AS split
         |FROM (SELECT doc_id, lang,
         |    ${OracleSql.h60("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 AS b
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "shuffle_shards" ->
      s"""WITH h AS (SELECT doc_id,
         |    ${OracleSql.h60("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents)
         |SELECT doc_id, h % $NumShards AS shard,
         |  row_number() OVER (PARTITION BY h % $NumShards ORDER BY h, doc_id)
         |    AS position
         |FROM h ORDER BY doc_id""".stripMargin,

    "doc_novelty" ->
      s"""WITH tt AS (SELECT doc_id,
         |    string_split(${OracleSql.norm}, ' ') AS w FROM documents),
         |shl AS (SELECT doc_id,
         |    list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2]
         |                   FOR i IN range(1, len(w) - 1)]) AS s
         |  FROM tt WHERE len(w) >= 3),
         |sh AS (SELECT doc_id, unnest(s) AS shingle FROM shl),
         |freq AS (SELECT shingle, count(*) AS sdf FROM sh GROUP BY shingle),
         |per AS (SELECT doc_id, count(*) AS n_shingles,
         |    count(CASE WHEN sdf = 1 THEN 1 END) AS n_unique
         |  FROM sh JOIN freq USING (shingle) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(per.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(per.n_unique, 0) AS BIGINT) AS n_unique,
         |  CASE WHEN per.n_shingles > 0
         |       THEN CAST(per.n_unique AS DOUBLE) / per.n_shingles END AS novelty
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "shard_manifest" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |    len(string_split(${OracleSql.norm}, ' ')) AS n_tokens,
         |    ${OracleSql.h60(s"md5(${OracleSql.norm})")} % ${TextOps.RollP} AS h
         |  FROM documents),
         |r AS (SELECT doc_id, lang, n_tokens, h,
         |    coalesce(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run
         |  FROM t),
         |s AS (SELECT lang,
         |    CAST(floor(run / ${TokensPerShard}.0) AS BIGINT) AS shard_id,
         |    doc_id, n_tokens, h
         |  FROM r)
         |SELECT lang, shard_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT), list(h ORDER BY doc_id)),
         |    (a, b) -> (a * ${TextOps.RollB} + b) % ${TextOps.RollP}) AS checksum
         |FROM s GROUP BY lang, shard_id
         |ORDER BY lang, shard_id""".stripMargin,

    "benchmark_contamination" ->
      s"""WITH tt AS (SELECT doc_id, source,
         |    string_split(${OracleSql.norm}, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, source,
         |    list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2]
         |                   FOR i IN range(1, len(w) - 1)]) AS s
         |  FROM tt WHERE len(w) >= 3),
         |bench AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
         |          WHERE source = '$BenchmarkSource'),
         |corp AS (SELECT doc_id, unnest(s) AS shingle FROM sh
         |         WHERE source <> '$BenchmarkSource'),
         |per AS (SELECT c.doc_id, count(*) AS n_shingles,
         |          count(b.shingle) AS n_overlap
         |        FROM corp c LEFT JOIN bench b USING (shingle)
         |        GROUP BY c.doc_id)
         |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
         |  CAST(n_overlap AS BIGINT) AS n_overlap,
         |  CAST(n_overlap AS DOUBLE) / n_shingles AS containment
         |FROM per ORDER BY doc_id""".stripMargin,

    // mirror of Dedup.spanDecontam: the dup_spans_winnow CTE chain with a
    // source column carried through, bench-selected fingerprints distinct,
    // corpus-selected rows joined and islands-merged
    "span_decontam" -> {
      val K = TextCatalog.DupSpanK
      val W = TextCatalog.WinnowW
      s"""WITH tt AS (SELECT doc_id, source,
         |    string_split(${OracleSql.norm}, ' ') AS w FROM documents),
         |ws AS (SELECT doc_id, source, w, unnest(range(1, len(w) - $K + 2)) AS pos
         |  FROM tt WHERE len(w) >= $K),
         |ky AS (SELECT doc_id, source, CAST(pos AS BIGINT) AS pos,
         |    md5(array_to_string(w[pos:(pos + $K - 1)], ' '))
         |      || lpad(CAST(1000000000000 - pos AS VARCHAR), 13, '0') AS key
         |  FROM ws),
         |mk AS (SELECT doc_id, source, min(key) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS min_key
         |  FROM ky),
         |sel AS (SELECT DISTINCT doc_id, source, min_key FROM mk),
         |sw AS (SELECT doc_id, source, substring(min_key, 1, 32) AS fp,
         |    1000000000000 - CAST(substring(min_key, 33, 13) AS BIGINT) AS start
         |  FROM sel),
         |s2 AS (SELECT *, start + ${K - 1} AS "end" FROM sw),
         |bf AS (SELECT DISTINCT fp FROM s2 WHERE source = '$BenchmarkSource'),
         |fl AS (SELECT s2.doc_id, s2.start, s2."end" FROM s2 JOIN bf USING (fp)
         |  WHERE s2.source <> '$BenchmarkSource'),
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
         |FROM sp ORDER BY doc_id, span_id""".stripMargin
    },

    // pairwise source Jaccard: same normalize/shingle pipeline, distinct
    // (source, shingle) sets, exact long counts, one IEEE division
    "source_similarity" ->
      s"""WITH ${OracleSql.shingleCtesFrom("documents", Seq("source"))},
         |sx AS (SELECT source AS src, unnest(s) AS shingle FROM sh),
         |ss AS (SELECT DISTINCT src, shingle FROM sx),
         |sizes AS (SELECT src, count(*) AS n_sh FROM ss GROUP BY 1),
         |inter AS (SELECT a.src AS src_a, b.src AS src_b,
         |    count(*) AS n_common
         |  FROM ss a JOIN ss b USING (shingle)
         |  WHERE a.src < b.src GROUP BY 1, 2)
         |SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
         |  CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
         |  CAST(n_common AS DOUBLE)
         |    / (sa.n_sh + sb.n_sh - n_common) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.src = src_a
         |JOIN sizes sb ON sb.src = src_b
         |ORDER BY src_a, src_b""".stripMargin,
  )
}
