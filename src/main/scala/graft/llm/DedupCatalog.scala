package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, Tables}

/** Driver-contract registrations for near-duplicate detection over
  * `documents`.
  *
  * The Spark side is the scale-safe banded MinHash-LSH pipeline (candidates
  * from band buckets, exact n-gram-Jaccard verification inside buckets); the
  * oracle recomputes the *verified* output brute-force over all pairs in
  * DuckDB — feasible at the sf0.01 gate, and an exact match as long as LSH
  * misses nothing at the threshold (miss probability (1-s^4)^16 < 2e-4 at
  * s = 0.8; the seeded near-dups sit at s ≈ 0.97 where it vanishes).
  */
object DedupCatalog extends Catalog {

  val JaccardThreshold = 0.8

  /** Below the (16,4) banding's useful range (candidate recall at 0.6 is
    * ~89%) — the prefix-filter path is exact there, which is the point of
    * registering it separately from `near_dup_pairs`.
    */
  val PrefixThreshold = 0.6

  /** Directional containment τ: an excerpt with ≥80% of its shingles
    * inside another doc is flagged even when the Jaccard union is diluted
    * by the container's length.
    */
  val ContainmentThreshold = 0.8

  /** The "new batch" slice for the incremental ingest-dedup gate query
    * (the rest of `documents` plays the existing corpus).
    */
  val NewBatchSources = Seq("src18", "src19")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "near_dup_pairs" -> ((s, d) =>
      Dedup.nearDupPairs(Tables(s, d).documents, "doc_id", "text", JaccardThreshold)
        .orderBy("id_a", "id_b")),

    "jaccard_prefix_pairs" -> ((s, d) =>
      Dedup.prefixFilterPairs(Tables(s, d).documents, "doc_id", "text", PrefixThreshold)
        .orderBy("id_a", "id_b")),

    "containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(Tables(s, d).documents, "doc_id", "text", ContainmentThreshold)
        .orderBy("id_a", "id_b")),

    "near_dup_dedup" -> ((s, d) =>
      Dedup.dropNearDups(Tables(s, d).documents, "doc_id", "text", JaccardThreshold)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    "near_dup_clusters" -> ((s, d) =>
      Dedup.dupClusters(Tables(s, d).documents, "doc_id", "text", JaccardThreshold)
        .orderBy("doc_id")),

    // keep-BEST dedup: the cluster keeper is the highest-quality member,
    // not the lowest id — the production rule when near-dups differ in
    // quality (boilerplate copy vs clean original)
    "near_dup_keep_best" -> ((s, d) =>
      Dedup.keepBestPerCluster(Tables(s, d).documents, "doc_id", "text",
          TextOps.qualityScore, JaccardThreshold)
        .orderBy("doc_id")),

    "incremental_dedup" -> ((s, d) => {
      val docs = Tables(s, d).documents
      Dedup.incrementalDedupFlags(
          docs.filter(col("source").isin(NewBatchSources: _*)),
          docs.filter(!col("source").isin(NewBatchSources: _*)),
          "doc_id", "text", JaccardThreshold)
        .orderBy("doc_id")
    }),

    // SimHash as the dedup signal: verified near-dup pairs annotated with
    // the hamming distance of their 60-bit simhashes (near-dups differ in
    // few bits; the distance is the cheap streaming-side dedup signal)
    "simhash_near_dup" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", JaccardThreshold)
        .localCheckpoint(false) // reused by the id semi-join and both fp joins
      val ids = pairs.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
      // fingerprint only the docs that appear in a pair (semi-join pushes the
      // tokenize/aggregate work down to the candidate set, not the corpus)
      val fp = TextOps.simHashAgg(docs.join(ids, Seq("doc_id"), "left_semi"), "doc_id", "text")
      pairs
        .join(fp.select(col("doc_id").as("id_a"), col("fp_simhash").as("fa")), Seq("id_a"))
        .join(fp.select(col("doc_id").as("id_b"), col("fp_simhash").as("fb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          TextOps.hammingDist(col("fa"), col("fb")).cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "near_dup_pairs" ->
      s"""WITH ${OracleSql.jaccardPairsCtes}
         |SELECT id_a, id_b, jaccard FROM pairs
         |WHERE jaccard >= $JaccardThreshold
         |ORDER BY id_a, id_b""".stripMargin,

    "jaccard_prefix_pairs" ->
      s"""WITH ${OracleSql.jaccardPairsCtes}
         |SELECT id_a, id_b, jaccard FROM pairs
         |WHERE jaccard >= $PrefixThreshold
         |ORDER BY id_a, id_b""".stripMargin,

    "containment_pairs" ->
      s"""WITH ${OracleSql.containmentPairsCtes}
         |SELECT id_a, id_b, containment FROM cpairs
         |WHERE containment >= $ContainmentThreshold
         |ORDER BY id_a, id_b""".stripMargin,

    "near_dup_dedup" ->
      s"""WITH ${OracleSql.jaccardPairsCtes}
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id_b FROM pairs WHERE jaccard >= $JaccardThreshold)
         |ORDER BY doc_id""".stripMargin,

    // recursive-closure truth: the transitive closure doesn't care how
    // the engine computed its components
    "near_dup_clusters" ->
      s"""WITH RECURSIVE ${OracleSql.jaccardPairsCtes},
         |e AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs WHERE jaccard >= $JaccardThreshold
         |  UNION
         |  SELECT id_b, id_a FROM pairs WHERE jaccard >= $JaccardThreshold),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
         |SELECT d.doc_id,
         |  least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
         |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "near_dup_keep_best" ->
      s"""WITH RECURSIVE ${OracleSql.jaccardPairsCtes},
         |e AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs WHERE jaccard >= $JaccardThreshold
         |  UNION
         |  SELECT id_b, id_a FROM pairs WHERE jaccard >= $JaccardThreshold),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |cl AS (
         |  SELECT d.doc_id,
         |    least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
         |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
         |  GROUP BY d.doc_id),
         |sc AS (
         |  SELECT doc_id,
         |    ${TextCatalog.qualitySql}
         |      AS score
         |  FROM (SELECT doc_id, text, string_split(${OracleSql.norm}, ' ') AS w
         |        FROM documents)),
         |j AS (SELECT cl.doc_id, cl.cluster_id, sc.score
         |      FROM cl JOIN sc USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
         |  score,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY score DESC, doc_id) = 1 AS is_kept
         |FROM j ORDER BY doc_id""".stripMargin,

    "incremental_dedup" -> {
      val newSrc = NewBatchSources.map(s => s"'$s'").mkString("(", ", ", ")")
      s"""WITH nd AS (SELECT doc_id, text FROM documents WHERE source IN $newSrc),
         |cd AS (SELECT doc_id, text FROM documents WHERE source NOT IN $newSrc),
         |cfp AS (SELECT md5(${OracleSql.norm}) AS fingerprint,
         |    min(doc_id) AS exact_dup_of
         |  FROM cd GROUP BY 1),
         |ex AS (SELECT nd.doc_id, cfp.exact_dup_of
         |  FROM nd LEFT JOIN cfp ON md5(${OracleSql.norm}) = cfp.fingerprint),
         |shn AS (SELECT doc_id,
         |    list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2]
         |                   FOR i IN range(1, len(w) - 1)]) AS s
         |  FROM (SELECT doc_id, string_split(${OracleSql.norm}, ' ') AS w FROM nd)
         |  WHERE len(w) >= 3),
         |shc AS (SELECT doc_id,
         |    list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2]
         |                   FOR i IN range(1, len(w) - 1)]) AS s
         |  FROM (SELECT doc_id, string_split(${OracleSql.norm}, ' ') AS w FROM cd)
         |  WHERE len(w) >= 3),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / len(list_distinct(a.s || b.s)) AS jaccard
         |  FROM shn a CROSS JOIN shc b),
         |best AS (
         |  SELECT id_a, id_b, jaccard FROM pairs
         |  WHERE jaccard >= $JaccardThreshold
         |  QUALIFY row_number() OVER (PARTITION BY id_a
         |    ORDER BY jaccard DESC, id_b ASC) = 1)
         |SELECT nd.doc_id, ex.exact_dup_of,
         |  best.id_b AS near_dup_of, best.jaccard AS near_jaccard,
         |  (ex.exact_dup_of IS NOT NULL OR best.id_b IS NOT NULL) AS is_duplicate
         |FROM nd
         |LEFT JOIN ex ON ex.doc_id = nd.doc_id
         |LEFT JOIN best ON best.id_a = nd.doc_id
         |ORDER BY nd.doc_id""".stripMargin
    },

    "simhash_near_dup" ->
      s"""WITH ${OracleSql.simhashCtes},
         |${OracleSql.jaccardPairsCtes}
         |SELECT p.id_a, p.id_b,
         |  CAST(bit_count(xor(a.fp_simhash, b.fp_simhash)) AS BIGINT) AS hamming
         |FROM pairs p
         |JOIN simhash a ON a.doc_id = p.id_a
         |JOIN simhash b ON b.doc_id = p.id_b
         |WHERE p.jaccard >= $JaccardThreshold
         |ORDER BY p.id_a, p.id_b""".stripMargin,
  )
}
