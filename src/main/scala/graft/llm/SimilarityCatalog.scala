package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, Tables}

/** Driver-contract registrations for similarity search over `embeddings`
  * (`vec_id, embedding array<float>, label`).
  *
  * `cosine_topk` is the brute-force baseline (broadcast query set); `label`
  * plays the IVF coarse-cell id for the pruned variant and the blocked
  * near-dup pair search. All cosines are 24-bit fixed-point quantized
  * ([[Similarity.QScale]]) so both engines do exact integer arithmetic.
  */
object SimilarityCatalog extends Catalog {

  val K = 10
  val NumQueries = 5       // query set: vec_id < 5
  val Dim = 64             // embedding dimensionality of the fixture table
  val NearDupCos = 0.35    // embeddings are near-orthogonal; pairs over 0.35
                           // within a cell are the "suspiciously close" tier
  val PqM = 8              // PQ subspaces (64-dim → 8×8-dim slices)
  val PqKs = 16            // codes per subspace (4-bit codebooks)
  val IvfPqProbes = 2      // probed coarse cells per IVF-PQ query

  private def corpus(t: Tables) = t.embeddings

  private def queriesDf(t: Tables) = t.embeddings.filter(col("vec_id") < NumQueries)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cosine_topk" -> ((s, d) => {
      val t = Tables(s, d)
      Similarity.cosineTopK(corpus(t), queriesDf(t), "vec_id", "embedding", K)
        .orderBy("query_id", "nn_id")
    }),

    "ivf_topk" -> ((s, d) => {
      val t = Tables(s, d)
      Similarity.ivfTopK(corpus(t), queriesDf(t), "vec_id", "embedding", "label", K)
        .orderBy("query_id", "nn_id")
    }),

    "embedding_near_dup" -> ((s, d) =>
      Similarity.cellNearDupPairs(Tables(s, d).embeddings, "vec_id", "embedding",
          "label", NearDupCos)
        .orderBy("id_a", "id_b")),

    // SemDeDup: per-vector keep/drop verdicts from the cell-blocked pair
    // search — every vector either keeps or names its min-id near neighbor
    "semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(Tables(s, d).embeddings, "vec_id", "embedding",
          "label", NearDupCos)
        .orderBy("vec_id")),

    // the scale-adaptive SemDeDup: cells come from a k ∝ n fit (constant
    // target cell size, so candidate volume stays linear on scale-up),
    // and a flat k ∝ n fit's nearest-cell pass would be n·k dots =
    // n²/target flops — measured 12.2× on 10× data at the sf1cr→sf10cr
    // decade (SCALE.md). The depth-2 tree (coarse √k cells, then √k
    // sub-cells fitted per coarse cell in one grouped-Lloyd pass) reaches
    // the SAME leaf count and occupancy at n·2√k dots — the faiss-style
    // coarse-quantizer shape a 100 TB SemDeDup build actually runs. Both
    // argmin levels are native codegen'd kernels; the oracle replays the
    // captured centroid tables (hierOracle below).
    "semantic_dedup_hier" -> ((s, d) => {
      val model = treeFit(s, d)
      hierCapture = Some((model.root, model.subLevels))
      val df = Tables(s, d).embeddings
      Similarity.semanticDedup(df.join(model.assign(df), Seq("vec_id")),
          "vec_id", "embedding", "cluster", NearDupCos)
        .orderBy("vec_id")
    }),

    // the near-dup PAIR search on the depth-2 tree's leaves: the
    // pinned-label `embedding_near_dup` above is a fixture-only shape
    // (10× vectors in the same 10 cells → ~100× within-cell candidates —
    // measured 20.7× at sf1); blocking on the tree fit's k ∝ n leaves
    // holds per-cell pair volume linear at n·2√k assignment dots, the
    // shape the 100 TB run uses. Oracle replays both captured argmin
    // levels + the within-leaf pair scoring (nearDupOracle).
    "embedding_near_dup_hier" -> ((s, d) => {
      val model = treeFit(s, d)
      nearDupHierCapture = Some((model.root, model.subLevels))
      val df = Tables(s, d).embeddings
      Similarity.cellNearDupPairs(df.join(model.assign(df), Seq("vec_id")),
          "vec_id", "embedding", "cluster", NearDupCos)
        .orderBy("id_a", "id_b")
    }),

    "cell_stats" -> ((s, d) =>
      Similarity.cellStats(Tables(s, d).embeddings, "embedding", "label")
        .orderBy("label", "dim")),

    // distributed power iteration: the ITERATIVE fit itself is oracled —
    // every iteration is exact integer/decimal arithmetic, so the DuckDB
    // side replays all 3 matvec+rescale rounds from scratch (pcaCtes) and
    // must land on the identical component, bit for bit
    "embedding_pca" -> ((s, d) =>
      Similarity.componentFrame(s, pcaFit(s, d)).orderBy("dim")),

    // the fit's distributed consumer: centered per-vector projection over
    // the SAME memoized fit — fit once, consume many (running the 3-scan
    // iteration again here would double the corpus passes per gate run)
    "pca_projection" -> ((s, d) =>
      Similarity.projectionFrame(Tables(s, d).embeddings, "vec_id",
          "embedding", pcaFit(s, d))
        .orderBy("vec_id")),

    // IVF build: deterministic integer k-means. The FIT is iterative (no
    // single-statement oracle), but it is deterministic by construction —
    // so the fitted centroids are captured here and the ASSIGNMENT is
    // oracled as nearest-centroid SQL over a VALUES table of the k×dim
    // centroid longs (kmeansOracle below). Verify dumps oracle_sql.json
    // AFTER running every query, so the capture is always populated.
    "ivf_kmeans_assign" -> ((s, d) => {
      val model = Similarity.kmeansFit(Tables(s, d).embeddings, "vec_id",
        "embedding", k = 8, iters = 3)
      fittedCentroids = Some(model.centroids)
      model.assign(Tables(s, d).embeddings).orderBy("vec_id")
    }),

    // the same brute-force top-k through the pure SQL surface: the native
    // expressions registered by GraftExtensions (dot_q / quantize_q) over
    // registered table names — proving a SQL-only user gets the identical
    // exact-integer similarity semantics
    "sql_cosine_topk" -> ((s, d) => {
      graft.engine.ViewRegistry.registerTables(Tables(s, d))
      s.sql(
        s"""WITH pn AS (
           |  SELECT vec_id, q, dot_q(q, q) AS n2
           |  FROM (SELECT vec_id, quantize_q(embedding) AS q FROM embeddings)),
           |scored AS (
           |  SELECT qv.vec_id AS query_id, cv.vec_id AS nn_id,
           |    CAST(dot_q(qv.q, cv.q) AS DOUBLE) /
           |      (sqrt(CAST(qv.n2 AS DOUBLE)) * sqrt(CAST(cv.n2 AS DOUBLE))) AS cosine
           |  FROM pn qv JOIN pn cv ON cv.vec_id <> qv.vec_id
           |  WHERE qv.vec_id < $NumQueries),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cosine DESC, nn_id ASC) AS rn
           |  FROM scored)
           |SELECT query_id, nn_id, cosine FROM ranked WHERE rn <= $K
           |ORDER BY query_id, nn_id""".stripMargin)
    }),

    // cluster evaluation: the deterministic fit's cells scored against the
    // known label column (size / diversity / plurality purity per cell).
    // Same capture mechanism as ivf_kmeans_assign: the fitted centroids
    // republish to the oracle, which re-derives the assignment in SQL and
    // aggregates the same purity report
    "kmeans_label_purity" -> ((s, d) => {
      val t = Tables(s, d)
      val model = Similarity.kmeansFit(t.embeddings, "vec_id", "embedding",
        k = 8, iters = 3)
      purityCentroids = Some(model.centroids)
      Similarity.labelPurity(model.assign(t.embeddings),
          t.embeddings.select(col("vec_id"), col("label")), "vec_id", "label")
        .orderBy("cluster")
    }),

    // whitening/PCA prep: exact one-pass covariance moments of the
    // embedding matrix (upper triangle, d(d+1)/2 rows out)
    "embedding_covariance" -> ((s, d) =>
      Similarity.covariance(Tables(s, d).embeddings, "vec_id", "embedding")
        .orderBy("i", "j")),

    // the training-free LSH alternative to the IVF scale path: SRP sketch →
    // band-bucket join → exact re-rank; the oracle replicates the whole
    // pipeline (declared projection table included), so this is hash-exact,
    // not rows-only
    "srp_ann_topk" -> ((s, d) => {
      val t = Tables(s, d)
      Srp.annTopK(corpus(t), queriesDf(t), "vec_id", "embedding", Dim, K)
        .orderBy("query_id", "nn_id")
    }),

    // training-FREE semantic dedup: SRP band buckets replace the learned
    // cells — no k-means build at all, the scale path past the point where
    // even k ∝ n assignment (n·k dots) is too expensive. The verify runs
    // WITHIN the band bucket — the round-10 production form. The candidate
    // problem was payload, not compute: instead of materializing the
    // global pair list and joining ~0.5 KB of vector onto each side of
    // every pair (pairs x 1 KB -> spill), the vectors ride the band rows
    // (ONE shuffle of ~corpus volume) and the exact cosine evaluates
    // inside the band self-join's projection; only passing pairs reach the
    // distinct. The oracle is the band + verify replay at the captured
    // width (srpBucketOracle). Measured
    // 4.4/5.5/14.0 s at 200k/632k/2M -- sub-linear, the cheapest
    // TRAINING-FREE dedup at every measured point (SCALE.md round 10).
    "semantic_dedup_srp_bucket" -> ((s, d) => {
      val (rpb, out) = Srp.semanticDedupSrpBucketAuto(Tables(s, d).embeddings,
        "vec_id", "embedding", Dim, NearDupCos)
      srpBucketWidth = Some(rpb)
      out.orderBy("vec_id")
    }),

    // the training-free near-dup PAIR search: the within-bucket verify
    // emitting the passing pairs themselves -- the fit-free sibling of
    // embedding_near_dup_hier (which needs a k-means build; this needs
    // one sketch pass). Same declared band + verify
    // semantics as the srp dedups; oracle replays band -> exact cosine
    // at the captured width and emits the scored pairs.
    "embedding_near_dup_srp" -> ((s, d) => {
      val (rpb, out) = Srp.nearDupPairsSrpAuto(Tables(s, d).embeddings,
        "vec_id", "embedding", Dim, NearDupCos)
      nearDupSrpWidth = Some(rpb)
      out.orderBy("id_a", "id_b")
    }),

    // product quantization (Jégou et al., TPAMI 2011): M per-subspace
    // codebooks fitted by grouped Lloyd, each vector stored as an M-int
    // code word. The codes table IS the 100 TB artifact — a 64-dim float
    // embedding collapses to 8 ints, so every downstream ADC sweep reads
    // ~32× less data. Oracle replays the captured codebooks' per-subspace
    // argmin (list_slice + dense codebook VALUES) exactly.
    // Gate-boundary convention (same as v_location_preferences): the code
    // word leaves the engine as a canonical comma-joined string — the
    // driver's pandas hash harness cannot sort raw array cells. The
    // array-typed API stays spec-tested (PipelineOpsSpec).
    "pq_codes" -> ((s, d) => {
      val model = pqFit(s, d)
      pqCapture = Some(model.codebooks)
      model.encode(Tables(s, d).embeddings)
        .select(col("vec_id"),
          array_join(col("codes").cast("array<string>"), ",").as("codes"))
        .orderBy("vec_id")
    }),

    // ADC top-k over the code words: the corpus scan reads ONLY the codes
    // column (never the embedding), queries stay full-precision — exact
    // integer distances to each neighbor's RECONSTRUCTION, so the ranking
    // is deterministic and the oracle replays it bit-exactly. Recall vs
    // the exact scan is LlmSpec-style spec territory (PipelineOpsSpec).
    "pq_topk" -> ((s, d) => {
      val model = pqFit(s, d)
      pqCapture = Some(model.codebooks)
      val t = Tables(s, d)
      Similarity.pqTopK(model.encode(t.embeddings), queriesDf(t), "vec_id",
          "embedding", model, K)
        .orderBy("query_id", "nn_id")
    }),

    // exact squared-L2 top-k: the ANN ground truth the compressed-domain
    // rankings are judged against (integer-exact, statically oracled)
    "l2_topk" -> ((s, d) => {
      val t = Tables(s, d)
      Similarity.l2TopK(corpus(t), queriesDf(t), "vec_id", "embedding", K)
        .orderBy("query_id", "nn_id")
    }),

    // the index-eval operator: recall@K of the compressed-domain rankings
    // (flat PQ, depth-2 and depth-3 IVF-PQ) against the exact-L2 ground
    // truth, zero-hit queries preserved — the accept/reject gate a
    // production ANN build runs before swapping an index in. The oracle
    // replays all four pipelines side by side in one statement.
    "ann_recall" -> ((s, d) => {
      val t = Tables(s, d)
      val pqModel = pqFit(s, d)
      pqCapture = Some(pqModel.codebooks)
      val ivf = treeIvfPqFit(s, d, depth = 2)
      ivfPqCapture = Some(levelsOf(ivf))
      val tree = treeIvfPqFit(s, d, depth = 3)
      treeIvfPqCapture = Some(levelsOf(tree))
      // the exact ranking feeds all three recall arms, each of which reads
      // it twice (hit join + query-list distinct) — unpinned, the
      // broadcast-query × corpus L2 sweep re-executed SIX times per run
      // (round-13; guide §5 reuse). The frame is NumQueries·K rows — tiny.
      val exact = Similarity.l2TopK(corpus(t), queriesDf(t), "vec_id", "embedding", K)
        .localCheckpoint(false)
      val pqR = Similarity.recallAtK(
        Similarity.pqTopK(pqModel.encode(corpus(t)), queriesDf(t), "vec_id",
          "embedding", pqModel, K), exact)
        .select(lit("pq").as("method"), col("query_id"), col("n_hits"))
      val ivfR = Similarity.recallAtK(
        ivf.topK(ivf.encode(corpus(t)), queriesDf(t), IvfPqProbes, K), exact)
        .select(lit("ivfpq").as("method"), col("query_id"), col("n_hits"))
      // the depth-3 pipeline is recall-GATED here (BACKLOG contract: no
      // deeper-tree ANN registration without its recall measured next to
      // depth 2's — deeper trees mis-route more boundary corpus vectors;
      // the serving tail is identical)
      val treeR = Similarity.recallAtK(
        tree.topK(tree.encode(corpus(t)), queriesDf(t), IvfPqProbes, K), exact)
        .select(lit("tivfpq").as("method"), col("query_id"), col("n_hits"))
      pqR.unionAll(ivfR).unionAll(treeR).orderBy("method", "query_id")
    }),

    // the full faiss serving shape (with the inverted-multi-index twist):
    // the depth-2 tree is the coarse quantizer — the flat k ∝ n coarse
    // assignment measured 38× on 10× data at the sf1→sf10 decade because
    // encode pays n·k dots; depth 2 pays n·2√k for the same leaf count.
    // PQ codebooks are fitted on the RESIDUALS q − c[leaf]; stored
    // artifact = (leaf, M-int code word); a probe-2 query touches two
    // leaves' code lists and scores them in the compressed domain — cell
    // pruning × ~32× less bytes per scored row. The oracle replays both
    // argmin levels, per-subspace residual encoding, leaf-ranked probe
    // selection, and ADC — all exact integers.
    "ivfpq_topk" -> ((s, d) => {
      val model = treeIvfPqFit(s, d, depth = 2)
      ivfPqCapture = Some(levelsOf(model))
      val t = Tables(s, d)
      model.topK(model.encode(corpus(t)), queriesDf(t), IvfPqProbes, K)
        .orderBy("query_id", "nn_id")
    }),

    // the index's INGEST path: embeddings arrive through a real
    // checkpointed file-source stream and the stored (leaf, code word)
    // artifact is computed in-flight — encode is stateless per-row once
    // the fit exists, which is exactly why an index build separates fit
    // (batch control plane) from encode (stream data plane). Oracled
    // against the same replayed index as the batch encode.
    "stream_ivfpq_encode" -> ((s, d) => {
      val model = treeIvfPqFit(s, d, depth = 2)
      ivfPqCapture = Some(levelsOf(model))
      graft.streaming.StreamingCatalog.replayIvfPqEncode(s, d, model)
    }),

    // the SERVING half of the ingest path: encoded rows are merged per
    // micro-batch into a versioned snapshot under the durable `_LATEST`
    // contract (Cdc.mergeNewest keyed on vec_id — idempotent under
    // at-least-once re-delivery), so the ANN index is a stream-maintained
    // artifact a reader can pin a consistent version of. Must equal the
    // batch rebuild — same oracle chain as stream_ivfpq_encode.
    "stream_ivfpq_index" -> ((s, d) => {
      val model = treeIvfPqFit(s, d, depth = 2)
      ivfPqIndexCapture = Some(levelsOf(model))
      graft.streaming.StreamingCatalog.replayIvfPqIndex(s, d, model)
    }),

    // multi-probe IVF at full probe width: probing every cell must
    // reproduce the brute-force result EXACTLY, so the entire fit →
    // assignTop → replicate → cell-join → dedup machinery is oracled by
    // the same SQL as cosine_topk (partial-probe recall is LlmSpec-tested)
    "ivf_multiprobe_topk" -> ((s, d) => {
      val t = Tables(s, d)
      Similarity.ivfTopKMultiProbe(corpus(t), queriesDf(t), "vec_id", "embedding",
          K, cells = 8, probes = 8, iters = 2)
        .orderBy("query_id", "nn_id")
    }),
  )

  /** Centroids of the last `ivf_kmeans_assign` fit in this JVM — the
    * deterministic fit output, republished to the oracle side.
    */
  @volatile private var fittedCentroids: Option[Seq[(Int, Seq[Long])]] = None

  /** Captured band width of the last `semantic_dedup_srp_bucket` run (rows
    * per band) — the oracle replays the identical banding + verify at this
    * width.
    */
  @volatile private var srpBucketWidth: Option[Int] = None

  /** Captured band width of the last `embedding_near_dup_srp` run — the
    * oracle replays band → exact cosine at this width and emits the
    * scored pairs.
    */
  @volatile private var nearDupSrpWidth: Option[Int] = None

  /** A captured tree fit: root centroids and the deeper levels' tables. */
  private type Levels = (Seq[(Int, Seq[Long])], Seq[Seq[(Int, Int, Seq[Long])]])

  /** A captured IVF-PQ index: its tree's [[Levels]] plus the residual
    * codebooks.
    */
  private type IvfPqLevels =
    (Seq[(Int, Seq[Long])], Seq[Seq[(Int, Int, Seq[Long])]], Seq[(Int, Int, Seq[Long])])

  private def levelsOf(m: Similarity.TreeIvfPqModel): IvfPqLevels =
    (m.tree.root, m.tree.subLevels, m.pq.codebooks)

  /** Captured depth-2 levels of the last `semantic_dedup_hier` fit — both
    * argmin levels replay in the oracle (hierOracle).
    */
  @volatile private var hierCapture: Option[Levels] = None

  /** Captured depth-2 levels of the last `embedding_near_dup_hier` run
    * (separate capture, same subset-run independence; the underlying fit
    * is shared via [[treeFit]]).
    */
  @volatile private var nearDupHierCapture: Option[Levels] = None

  /** Once-per-(JVM, sfDir) memo of the depth-2 tree fit — fit once,
    * consume many (bench repetitions measure assignment + dedup, not a
    * re-fit).
    */
  private val treeFits =
    scala.collection.concurrent.TrieMap.empty[String, Similarity.TreeKMeansModel]
  private def treeFit(s: SparkSession, d: String): Similarity.TreeKMeansModel =
    treeFits.getOrElseUpdate(d,
      Similarity.treeFit(Tables(s, d).embeddings, "vec_id", "embedding",
        targetCellSize = 64L, depth = 2, iters = 3))

  /** Captured codebooks of the last PQ fit — the pq_codes/pq_topk oracles
    * replay the per-subspace argmin and ADC scoring from them.
    */
  @volatile private var pqCapture: Option[Seq[(Int, Int, Seq[Long])]] = None

  /** Once-per-(JVM, sfDir) memo of the PQ fit (same fit-once/consume-many
    * shape as [[treeFit]] — bench repetitions measure encode + ADC sweep,
    * not a re-fit). Only the MODEL is memoized: a checkpointed codes frame
    * would not survive the gate harness's between-query unpersist hygiene,
    * and encode is one narrow pass.
    */
  private val pqFits =
    scala.collection.concurrent.TrieMap.empty[String, Similarity.PqModel]
  private def pqFit(s: SparkSession, d: String): Similarity.PqModel =
    pqFits.getOrElseUpdate(d,
      Similarity.pqFit(Tables(s, d).embeddings, "vec_id", "embedding",
        m = PqM, ks = PqKs, iters = 3))

  /** Captured depth-2 index of the last `ivfpq_topk` /
    * `stream_ivfpq_encode` / `ann_recall` run — the oracles replay the
    * whole index from it.
    */
  @volatile private var ivfPqCapture: Option[IvfPqLevels] = None

  /** Captured index of the last `stream_ivfpq_index` run (separate capture
    * so the query stands alone under a subset run; the fit is shared via
    * [[treeIvfPqFit]]).
    */
  @volatile private var ivfPqIndexCapture: Option[IvfPqLevels] = None

  /** Captured depth-3 index of the last `ann_recall` run — the oracle
    * replays the depth-d argmin chain + residual ADC from it.
    */
  @volatile private var treeIvfPqCapture: Option[IvfPqLevels] = None

  /** Once-per-(JVM, sfDir, depth) memo of the IVF-PQ fit (model only —
    * same hygiene rationale as [[pqFit]]). The leaf count is
    * scale-adaptive (k ∝ n at constant target occupancy) and corpus-side
    * assignment costs n·d·f dots.
    */
  private val treeIvfPqFits =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Similarity.TreeIvfPqModel]
  private def treeIvfPqFit(s: SparkSession, d: String, depth: Int): Similarity.TreeIvfPqModel =
    treeIvfPqFits.getOrElseUpdate((d, depth),
      Similarity.treeIvfPqFit(Tables(s, d).embeddings, "vec_id", "embedding",
        targetCellSize = 64L, depth = depth, m = PqM, ks = PqKs, iters = 3))

  /** Centroids of the last `kmeans_label_purity` fit (captured separately so
    * either query oracles independently under a subset run).
    */
  @volatile private var purityCentroids: Option[Seq[(Int, Seq[Long])]] = None

  /** Assignment CTE chain over a captured centroid set, ending in
    * `a(vec_id, cluster)` — shared by the kmeans-assign and purity oracles.
    */
  private def assignCtes(cs: Seq[(Int, Seq[Long])]): String = {
    val values = cs.map { case (cid, cq) =>
      s"($cid, CAST([${cq.mkString(", ")}] AS BIGINT[]))"
    }.mkString(",\n    ")
    s"""$prepSql,
       |c(cid, cq) AS (VALUES
       |    $values),
       |cn AS (SELECT cid, cq,
       |    CAST((SELECT sum(x * x) FROM (SELECT unnest(cq) AS x)) AS BIGINT) AS cn2
       |  FROM c),
       |scored AS (
       |  SELECT pn.vec_id, cn.cid,
       |    pn.n2 - 2 * (SELECT CAST(sum(x * y) AS BIGINT)
       |                 FROM (SELECT unnest(pn.q) AS x, unnest(cn.cq) AS y))
       |      + cn.cn2 AS dist
       |  FROM pn CROSS JOIN cn),
       |a AS (
       |  SELECT vec_id, cid AS cluster FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dist ASC, cid ASC) = 1)""".stripMargin
  }

  /** Purity oracle over the captured purity-fit centroids: re-derive the
    * assignment, then the same (cluster, label) count → plurality-top →
    * totals report with identical tie-breaks and division order.
    */
  private def purityOracle: Option[(String, String)] = purityCentroids.map { cs =>
    "kmeans_label_purity" ->
      s"""WITH ${assignCtes(cs)},
         |counts AS (
         |  SELECT a.cluster, e.label, count(*) AS n_label
         |  FROM a JOIN embeddings e USING (vec_id)
         |  GROUP BY a.cluster, e.label),
         |top AS (
         |  SELECT cluster, label AS top_label, n_label AS top_n FROM counts
         |  QUALIFY row_number() OVER (PARTITION BY cluster
         |    ORDER BY n_label DESC, label ASC) = 1),
         |tot AS (
         |  SELECT cluster, CAST(sum(n_label) AS BIGINT) AS n_vecs,
         |    count(*) AS n_labels
         |  FROM counts GROUP BY cluster)
         |SELECT cluster, n_vecs, n_labels, top_label, top_n,
         |  CAST(top_n AS DOUBLE) / n_vecs AS purity
         |FROM tot JOIN top USING (cluster)
         |ORDER BY cluster""".stripMargin
  }

  /** Nearest-centroid assignment oracle over the captured centroid table:
    * same exact-integer distance (n2 - 2·dot + cn2), same lower-cid
    * tie-break as [[Similarity.KMeansModel.assign]]. Present only once the
    * assign query has fitted (absent → the driver's rows-only fallback,
    * exactly the pre-capture behavior).
    */
  private def kmeansOracle: Option[(String, String)] = fittedCentroids.map { cs =>
    "ivf_kmeans_assign" ->
      s"""WITH ${assignCtes(cs)}
         |SELECT vec_id, cluster FROM a
         |ORDER BY vec_id""".stripMargin
  }

  val PcaIters = 3
  val PcaScale = 10000L

  /** Once-per-(JVM, sfDir) memo of the power-iteration fit — the
    * embedding_pca and pca_projection gate queries consume ONE fit, the
    * production fit-once/consume-many shape (and bench repetitions
    * measure the consumers, not a re-fit, mirroring FixtureDirs).
    */
  private val pcaFits =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[BigInt], Seq[BigInt], Long)]
  private def pcaFit(s: SparkSession, d: String): (Seq[BigInt], Seq[BigInt], Long) =
    pcaFits.getOrElseUpdate(d, Similarity.powerIterationInts(
      Tables(s, d).embeddings, "vec_id", "embedding", PcaIters, PcaScale))

  /** Full DuckDB replay of [[Similarity.powerIterationInts]]: the
    * unrolled iteration chain ending in `pv{PcaIters}(dim, v)` (the integer
    * component), `pn2(n2)` (its squared norm), plus `pcnt(n)`, `pds(dim,
    * s)`, `psv{k}` — every stage MATERIALIZED because the chain is
    * self-referential (v_k reads v_{k-1}); inlined CTEs would re-derive
    * the whole prefix per reference and blow up exponentially (measured:
    * the 3-round chain stops completing). Arithmetic mirror notes:
    * HUGEINT `//` truncates toward zero exactly like the Scala side's
    * BigInt `/`, and every sum is HUGEINT-exact.
    */
  private def pcaCtes: String = {
    val iters = (1 to PcaIters).map { k =>
      val pv = s"pv${k - 1}"
      s"""pl$k AS MATERIALIZED (SELECT list(v ORDER BY dim) AS lv FROM $pv),
         |psv$k AS MATERIALIZED (SELECT CAST(sum(pds.s * $pv.v) AS HUGEINT) AS sdotv
         |  FROM pds JOIN $pv USING (dim)),
         |pdot$k AS MATERIALIZED (SELECT pp.vec_id, pp.q,
         |  (SELECT n FROM pcnt) * (SELECT CAST(sum(x * y) AS HUGEINT)
         |     FROM (SELECT unnest(pp.q) AS x, unnest((SELECT lv FROM pl$k)) AS y))
         |  - (SELECT sdotv FROM psv$k) AS dt FROM pp),
         |pagg$k AS MATERIALIZED (SELECT dim, CAST(sum(CAST(x AS HUGEINT) * dt) AS HUGEINT) AS a FROM
         |  (SELECT dt, unnest(q) AS x, CAST(unnest(range(0, len(q))) AS INTEGER) AS dim FROM pdot$k)
         |  GROUP BY dim),
         |pdd$k AS MATERIALIZED (SELECT CAST(sum(dt) AS HUGEINT) AS dsum FROM pdot$k),
         |pw$k AS MATERIALIZED (SELECT pagg$k.dim,
         |  (SELECT n FROM pcnt) * pagg$k.a - pds.s * (SELECT dsum FROM pdd$k) AS w
         |  FROM pagg$k JOIN pds USING (dim)),
         |pm$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM pw$k),
         |pv$k AS MATERIALIZED (SELECT dim, (w * $PcaScale) // (SELECT m FROM pm$k) AS v FROM pw$k)""".stripMargin
    }.mkString(",\n")
    s"""pp AS MATERIALIZED (SELECT vec_id,
       |  list_transform(embedding, x ->
       |    CAST(floor(CAST(x AS DOUBLE) * ${Similarity.QScale}.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |pcnt AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS n FROM pp),
       |pds AS MATERIALIZED (SELECT dim, CAST(sum(x) AS HUGEINT) AS s FROM
       |  (SELECT unnest(q) AS x, CAST(unnest(range(0, len(q))) AS INTEGER) AS dim FROM pp)
       |  GROUP BY dim),
       |pv0 AS MATERIALIZED (SELECT dim, CAST(1 AS HUGEINT) AS v
       |  FROM (SELECT CAST(unnest(range(0, $Dim)) AS INTEGER) AS dim)),
       |$iters,
       |pn2 AS MATERIALIZED (SELECT CAST(sum(v * v) AS HUGEINT) AS n2 FROM pv$PcaIters)""".stripMargin
  }

  /** Quantized vectors + exact integer norms (oracle side; shared with the
    * embedding-contamination oracle in [[CorpusCatalog]]).
    */
  private[llm] val prepSql =
    s"""p AS (SELECT vec_id, label,
       |  list_transform(embedding, x ->
       |    CAST(floor(CAST(x AS DOUBLE) * ${Similarity.QScale}.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |n AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS n2
       |  FROM (SELECT vec_id, unnest(q) AS x FROM p) GROUP BY vec_id),
       |pn AS (SELECT p.vec_id, p.label, p.q, n.n2 FROM p JOIN n USING (vec_id))""".stripMargin

  /** SRP sketch + banding CTE chain in DuckDB (mirror of [[Srp.sketches]] /
    * [[Srp.bandRows]]): the declared projection table as VALUES, the same
    * exact-integer sign sums, the same (band, 4-bit value) bucket keys.
    */
  /** The sketch → band CTE prefix (`proj, ex, sm, sk, bands`), shared by
    * the ANN and SRP-dedup oracles — exact mirror of [[Srp.sketches]] /
    * [[Srp.bandRows]].
    */
  private def srpSketchCtes: String = srpSketchCtesWidth(Srp.RowsPerBand)

  private[llm] def srpSketchCtesWidth(rowsPerBand: Int): String = {
    val nBits = Srp.Bands * rowsPerBand
    val projCols = (0 until nBits).map(j => s"s_$j").mkString(", ")
    val projValues = Srp.signs(Dim, nBits)
      .map { case (d, ss) => s"($d, ${ss.mkString(", ")})" }
      .mkString(",\n    ")
    val sums = (0 until nBits)
      .map(j => s"CAST(sum(x * s_$j) AS BIGINT) AS p_$j").mkString(",\n    ")
    val prefix =
      s"""proj(dim, $projCols) AS (VALUES
         |    $projValues),
         |ex AS (SELECT vec_id, unnest(q) AS x,
         |    CAST(unnest(range(0, len(q))) AS INTEGER) AS dim FROM pn),
         |sm AS (SELECT vec_id,
         |    $sums
         |  FROM ex JOIN proj USING (dim) GROUP BY vec_id)""".stripMargin
    if (rowsPerBand <= 15) {
      // packed layout: all four bands in one sketch long (Srp.sketches /
      // Srp.bandRows)
      val bits = (0 until nBits)
        .map(j => s"(CASE WHEN p_$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END)")
        .mkString(" + ")
      s"""$prefix,
         |sk AS (SELECT vec_id, $bits AS sketch FROM sm),
         |bands AS (SELECT vec_id, b,
         |    (sketch >> (CAST(b AS INTEGER) * $rowsPerBand))
         |      & ${(1L << rowsPerBand) - 1} AS bv
         |  FROM sk CROSS JOIN (SELECT unnest(range(0, ${Srp.Bands})) AS b))""".stripMargin
    } else {
      // uncapped layout: one long per band over the SAME hyperplane family
      // j = b·rowsPerBand + i (Srp.bandedRowsWide) — bit-identical band
      // values wherever both layouts are defined
      val bandVals = (0 until Srp.Bands).map { b =>
        (0 until rowsPerBand)
          .map(i => s"(CASE WHEN p_${b * rowsPerBand + i} > 0 " +
            s"THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)")
          .mkString(" + ") + s" AS bv_$b"
      }.mkString(",\n    ")
      val union = (0 until Srp.Bands)
        .map(b => s"SELECT vec_id, $b AS b, bv_$b AS bv FROM sk")
        .mkString("\n  UNION ALL ")
      s"""$prefix,
         |sk AS (SELECT vec_id,
         |    $bandVals
         |  FROM sm),
         |bands AS (
         |  $union)""".stripMargin
    }
  }

  /** Depth-d leaf-assignment CTE chain shared by the tree dedup and
    * near-dup-pair oracles: root argmin via assignCtes (`a`), then each
    * captured level's argmin scoped to the previous level's node, with the
    * same exact-integer comparison key and lower-cid tie-break as
    * [[graft.functions.NearestSubCellQ]]. Ends in
    * `pc(vec_id, q, n2, cluster)` with cluster = the LEAF.
    */
  private def treeAssignCtes(root: Seq[(Int, Seq[Long])],
                             subLevels: Seq[Seq[(Int, Int, Seq[Long])]]): String = {
    val chain = new StringBuilder(assignCtes(root))
    var prev = "a"
    subLevels.zipWithIndex.foreach { case (sub, i) =>
      val l = i + 2 // level number, root = 1
      val values = sub.map { case (c, cid, cq) =>
        s"($c, $cid, CAST([${cq.mkString(", ")}] AS BIGINT[]))"
      }.mkString(",\n    ")
      chain.append(s""",
        |sc$l(parent, cid, cq) AS (VALUES
        |    $values),
        |scn$l AS (SELECT parent, cid, cq,
        |    CAST((SELECT sum(x * x) FROM (SELECT unnest(cq) AS x)) AS BIGINT) AS cn2
        |  FROM sc$l),
        |ss$l AS (
        |  SELECT pn.vec_id, scn$l.cid,
        |    pn.n2 - 2 * (SELECT CAST(sum(x * y) AS BIGINT)
        |                 FROM (SELECT unnest(pn.q) AS x, unnest(scn$l.cq) AS y))
        |      + scn$l.cn2 AS dist
        |  FROM pn JOIN $prev ON $prev.vec_id = pn.vec_id
        |  JOIN scn$l ON scn$l.parent = $prev.cluster),
        |a$l AS (
        |  SELECT vec_id, cid AS cluster FROM ss$l
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY dist ASC, cid ASC) = 1)""".stripMargin)
      prev = s"a$l"
    }
    chain.append(s""",
      |pc AS (SELECT pn.vec_id, pn.q, pn.n2, $prev.cluster
      |  FROM pn JOIN $prev ON $prev.vec_id = pn.vec_id)""".stripMargin)
    chain.toString
  }

  /** semantic_dedup_hier oracle: the depth-2 leaf assignment chain, then
    * the within-cell pair scoring / min-id dup collapse blocked on the
    * LEAF cell.
    */
  private def hierOracle: Option[(String, String)] = hierCapture.map { case (root, subLevels) =>
    "semantic_dedup_hier" ->
      s"""WITH ${treeAssignCtes(root, subLevels)},
         |sd_scored AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.n2 AS na, y.n2 AS nb,
         |    (SELECT CAST(sum(xx * yy) AS BIGINT)
         |     FROM (SELECT unnest(x.q) AS xx, unnest(y.q) AS yy)) AS dot
         |  FROM pc x JOIN pc y ON x.cluster = y.cluster AND x.vec_id < y.vec_id),
         |sd_dup AS (
         |  SELECT id_b AS vec_id, min(id_a) AS dup_of FROM sd_scored
         |  WHERE CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= $NearDupCos
         |  GROUP BY id_b)
         |SELECT pc.vec_id, pc.cluster, d.dup_of, d.dup_of IS NULL AS is_kept
         |FROM pc LEFT JOIN sd_dup d USING (vec_id)
         |ORDER BY pc.vec_id""".stripMargin
  }

  /** embedding_near_dup_hier oracle: the leaf assignment chain over the
    * captured levels, then the same within-cell pair scoring as the
    * `embedding_near_dup` oracle, blocked on the LEAF cell.
    */
  private def nearDupOracle: Option[(String, String)] =
    nearDupHierCapture.map { case (root, subLevels) =>
      "embedding_near_dup_hier" ->
        s"""WITH ${treeAssignCtes(root, subLevels)},
           |nd_scored AS (
           |  SELECT x.cluster, x.vec_id AS id_a, y.vec_id AS id_b, x.n2 AS na, y.n2 AS nb,
           |    (SELECT CAST(sum(xx * yy) AS BIGINT)
           |     FROM (SELECT unnest(x.q) AS xx, unnest(y.q) AS yy)) AS dot
           |  FROM pc x JOIN pc y ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
           |SELECT cluster, id_a, id_b,
           |  CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
           |FROM nd_scored
           |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= $NearDupCos
           |ORDER BY id_a, id_b""".stripMargin
    }

  /** pq_codes / pq_topk oracles: replay the captured per-subspace
    * codebooks — the same sliced argmin (`list_slice`, exact-integer
    * comparison key, lower-code tie-break) as
    * [[graft.functions.NearestCellQ]] over slices, then for top-k the same
    * ADC reconstruction distance as [[graft.functions.PqAdcQ]] summed over
    * subspaces with the lower-nn_id tie-break.
    */
  /** The PQ encode chain (codebook VALUES → per-subspace sliced argmin),
    * CTE names prefixed with `p` so independently-parameterized chains can
    * share one statement (ann_recall). Depends on prepSql's `pn`; ends in
    * `${p}assigned(vec_id, m, code)`.
    */
  private def pqAssignCtes(codebooks: Seq[(Int, Int, Seq[Long])], p: String): String = {
    val ds = Dim / PqM
    val cbValues = codebooks.map { case (m, code, cq) =>
      s"($m, $code, CAST([${cq.mkString(", ")}] AS BIGINT[]))"
    }.mkString(",\n    ")
    s"""${p}cb(m, code, cq) AS (VALUES
       |    $cbValues),
       |${p}cbn AS (SELECT m, code, cq,
       |    CAST((SELECT sum(x * x) FROM (SELECT unnest(cq) AS x)) AS BIGINT) AS cn2
       |  FROM ${p}cb),
       |${p}sub AS (SELECT vec_id, m, list_slice(q, m * $ds + 1, m * $ds + $ds) AS sq
       |  FROM pn CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m)),
       |${p}sub_scored AS (
       |  SELECT s.vec_id, s.m, cbn.code,
       |    cbn.cn2 - 2 * (SELECT CAST(sum(x * y) AS BIGINT)
       |                   FROM (SELECT unnest(s.sq) AS x, unnest(cbn.cq) AS y)) AS dist
       |  FROM ${p}sub s JOIN ${p}cbn cbn USING (m)),
       |${p}assigned AS (
       |  SELECT vec_id, m, code FROM ${p}sub_scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, m
       |    ORDER BY dist ASC, code ASC) = 1)""".stripMargin
  }

  /** The flat-PQ ADC scoring chain over `${p}assigned`: query sub-slices,
    * per-subspace partials, summed distances — ends in
    * `${p}adc(query_id, nn_id, adc_dist)`.
    */
  private def pqAdcCtes(p: String): String = {
    val ds = Dim / PqM
    s"""${p}qsub AS (SELECT vec_id AS query_id, m,
       |    list_slice(q, m * $ds + 1, m * $ds + $ds) AS sq
       |  FROM pn CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m)
       |  WHERE vec_id < $NumQueries),
       |${p}qpart AS (SELECT query_id, m, sq,
       |    CAST((SELECT sum(x * x) FROM (SELECT unnest(sq) AS x)) AS BIGINT) AS qn2m
       |  FROM ${p}qsub),
       |${p}partial AS (
       |  SELECT qp.query_id, a.vec_id AS nn_id,
       |    qp.qn2m - 2 * (SELECT CAST(sum(x * y) AS BIGINT)
       |                   FROM (SELECT unnest(qp.sq) AS x, unnest(cbn.cq) AS y))
       |      + cbn.cn2 AS pd
       |  FROM ${p}qpart qp
       |  JOIN ${p}assigned a USING (m)
       |  JOIN ${p}cbn cbn ON cbn.m = a.m AND cbn.code = a.code
       |  WHERE a.vec_id <> qp.query_id),
       |${p}adc AS (SELECT query_id, nn_id, CAST(sum(pd) AS BIGINT) AS adc_dist
       |  FROM ${p}partial GROUP BY query_id, nn_id)""".stripMargin
  }

  /** pq_codes / pq_topk oracles: replay the captured per-subspace
    * codebooks — the same sliced argmin (`list_slice`, exact-integer
    * comparison key, lower-code tie-break) as
    * [[graft.functions.NearestCellQ]] over slices, then for top-k the same
    * ADC reconstruction distance as [[graft.functions.PqAdcQ]] summed over
    * subspaces with the lower-nn_id tie-break.
    */
  private def pqOracles: Map[String, String] = pqCapture match {
    case None => Map.empty
    case Some(codebooks) =>
      Map(
        "pq_codes" ->
          s"""WITH $prepSql,
             |${pqAssignCtes(codebooks, "")}
             |SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY m) AS codes
             |FROM assigned GROUP BY vec_id ORDER BY vec_id""".stripMargin,
        "pq_topk" ->
          s"""WITH $prepSql,
             |${pqAssignCtes(codebooks, "")},
             |${pqAdcCtes("")}
             |SELECT query_id, nn_id, adc_dist FROM adc
             |QUALIFY row_number() OVER (PARTITION BY query_id
             |  ORDER BY adc_dist ASC, nn_id ASC) <= $K
             |ORDER BY query_id, nn_id""".stripMargin)
  }

  /** The complete IVF-PQ chain, CTE names prefixed with `p`: the depth-d
    * leaf argmin chain (prefixed mirror of [[treeAssignCtes]] — identical
    * comparison key and lower-cid tie-break per level) into
    * `${p}ca(vec_id, cell)`, the last level's table as `${p}ltn`, then the
    * ADC tail — per-subspace residual encode (the argmin over
    * Σ((x−c)−y)² ≡ the kernel's cn2−2·dot key up to a per-(vec,m)
    * constant), probe-P leaf selection ranking ALL real leaves flat (the
    * query side is tiny on the engine side too), and ADC partial sums over
    * the probed leaves — the mirror of [[Similarity.TreeIvfPqModel]]'s
    * encode/topK. Every step is exact integers. Ends in
    * `${p}adc(query_id, nn_id, adc_dist)`.
    */
  private def treeIvfPqChainCtes(root: Seq[(Int, Seq[Long])],
                                 subLevels: Seq[Seq[(Int, Int, Seq[Long])]],
                                 codebooks: Seq[(Int, Int, Seq[Long])],
                                 p: String): String = {
    val rootValues = root.map { case (cid, cq) =>
      s"($cid, CAST([${cq.mkString(", ")}] AS BIGINT[]))"
    }.mkString(",\n    ")
    val chain = new StringBuilder(
      s"""${p}c(cid, cq) AS (VALUES
         |    $rootValues),
         |${p}cn AS (SELECT cid, cq,
         |    CAST((SELECT sum(x * x) FROM (SELECT unnest(cq) AS x)) AS BIGINT) AS cn2
         |  FROM ${p}c),
         |${p}cscored AS (
         |  SELECT pn.vec_id, cn.cid,
         |    pn.n2 - 2 * (SELECT CAST(sum(x * y) AS BIGINT)
         |                 FROM (SELECT unnest(pn.q) AS x, unnest(cn.cq) AS y))
         |      + cn.cn2 AS dist
         |  FROM pn CROSS JOIN ${p}cn cn),
         |${p}a1 AS (
         |  SELECT vec_id, cid AS cluster FROM ${p}cscored
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dist ASC, cid ASC) = 1)""".stripMargin)
    var prev = s"${p}a1"
    subLevels.zipWithIndex.foreach { case (sub, i) =>
      val l = i + 2
      val values = sub.map { case (c, cid, cq) =>
        s"($c, $cid, CAST([${cq.mkString(", ")}] AS BIGINT[]))"
      }.mkString(",\n    ")
      chain.append(s""",
        |${p}sc$l(parent, cid, cq) AS (VALUES
        |    $values),
        |${p}scn$l AS (SELECT parent, cid, cq,
        |    CAST((SELECT sum(x * x) FROM (SELECT unnest(cq) AS x)) AS BIGINT) AS cn2
        |  FROM ${p}sc$l),
        |${p}ss$l AS (
        |  SELECT pn.vec_id, s.cid,
        |    pn.n2 - 2 * (SELECT CAST(sum(x * y) AS BIGINT)
        |                 FROM (SELECT unnest(pn.q) AS x, unnest(s.cq) AS y))
        |      + s.cn2 AS dist
        |  FROM pn JOIN $prev ON $prev.vec_id = pn.vec_id
        |  JOIN ${p}scn$l s ON s.parent = $prev.cluster),
        |${p}a$l AS (
        |  SELECT vec_id, cid AS cluster FROM ${p}ss$l
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY dist ASC, cid ASC) = 1)""".stripMargin)
      prev = s"${p}a$l"
    }
    val lastLevel = subLevels.size + 1
    val ds = Dim / PqM
    val cbValues = codebooks.map { case (m, code, cq) =>
      s"($m, $code, CAST([${cq.mkString(", ")}] AS BIGINT[]))"
    }.mkString(",\n    ")
    chain.append(s""",
      |${p}ca AS (SELECT vec_id, cluster AS cell FROM $prev),
      |${p}ltn AS (SELECT cid, cq, cn2 FROM ${p}scn$lastLevel),
      |${p}cb(m, code, cq) AS (VALUES
      |    $cbValues),
      |${p}enc_scored AS (
      |  SELECT pn.vec_id, cb.m, cb.code,
      |    (SELECT CAST(sum((x - cc - y) * (x - cc - y)) AS BIGINT)
      |     FROM (SELECT unnest(list_slice(pn.q, cb.m * $ds + 1, cb.m * $ds + $ds)) AS x,
      |                  unnest(list_slice(lt.cq, cb.m * $ds + 1, cb.m * $ds + $ds)) AS cc,
      |                  unnest(cb.cq) AS y)) AS dist
      |  FROM pn JOIN ${p}ca ca USING (vec_id) JOIN ${p}ltn lt ON lt.cid = ca.cell
      |  CROSS JOIN ${p}cb cb),
      |${p}enc AS (
      |  SELECT vec_id, m, code FROM ${p}enc_scored
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, m
      |    ORDER BY dist ASC, code ASC) = 1),
      |${p}qscored AS (
      |  SELECT pn.vec_id, lt.cid,
      |    pn.n2 - 2 * (SELECT CAST(sum(x * y) AS BIGINT)
      |                 FROM (SELECT unnest(pn.q) AS x, unnest(lt.cq) AS y))
      |      + lt.cn2 AS dist
      |  FROM pn CROSS JOIN ${p}ltn lt
      |  WHERE pn.vec_id < $NumQueries),
      |${p}qa AS (
      |  SELECT vec_id AS query_id, cid AS cell FROM ${p}qscored
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY dist ASC, cid ASC) <= $IvfPqProbes),
      |${p}partial AS (
      |  SELECT qa.query_id, ca.vec_id AS nn_id,
      |    (SELECT CAST(sum((x - cc - y) * (x - cc - y)) AS BIGINT)
      |     FROM (SELECT unnest(list_slice(qp.q, cb.m * $ds + 1, cb.m * $ds + $ds)) AS x,
      |                  unnest(list_slice(lt.cq, cb.m * $ds + 1, cb.m * $ds + $ds)) AS cc,
      |                  unnest(cb.cq) AS y)) AS pd
      |  FROM ${p}qa qa
      |  JOIN pn qp ON qp.vec_id = qa.query_id
      |  JOIN ${p}ltn lt ON lt.cid = qa.cell
      |  JOIN ${p}ca ca ON ca.cell = qa.cell
      |  JOIN ${p}enc e ON e.vec_id = ca.vec_id
      |  JOIN ${p}cb cb ON cb.m = e.m AND cb.code = e.code
      |  WHERE ca.vec_id <> qa.query_id),
      |${p}adc AS (SELECT query_id, nn_id, CAST(sum(pd) AS BIGINT) AS adc_dist
      |  FROM ${p}partial GROUP BY query_id, nn_id)""".stripMargin)
    chain.toString
  }

  /** ivfpq_topk oracle: the ENTIRE captured index
    * replayed, then the per-query top-K on the ADC distance with the
    * lower-nn_id tie-break.
    */
  private def ivfPqTopKSql(c: IvfPqLevels): String =
    s"""WITH $prepSql,
       |${treeIvfPqChainCtes(c._1, c._2, c._3, "")}
       |SELECT query_id, nn_id, adc_dist FROM adc
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY adc_dist ASC, nn_id ASC) <= $K
       |ORDER BY query_id, nn_id""".stripMargin

  /** stream_ivfpq_encode / stream_ivfpq_index oracle: the streamed encode
    * and the stream-maintained snapshot must both land the SAME stored
    * artifact as the batch replay — leaf + code word per vector (DuckDB
    * computes only the CTEs this SELECT references; the probe/ADC tail is
    * unused).
    */
  private def ivfPqEncodeSql(c: IvfPqLevels): String =
    s"""WITH $prepSql,
       |${treeIvfPqChainCtes(c._1, c._2, c._3, "")}
       |SELECT ca.vec_id, ca.cell,
       |  string_agg(CAST(e.code AS VARCHAR), ',' ORDER BY e.m) AS codes
       |FROM ca JOIN enc e USING (vec_id)
       |GROUP BY ca.vec_id, ca.cell
       |ORDER BY ca.vec_id""".stripMargin

  /** ann_recall oracle: all three captured indexes replayed side by side
    * (the flat-PQ chain under `p_`, the depth-2 IVF-PQ chain under `i_`,
    * the depth-3 one under `t_`), the exact-L2
    * ground truth as one scored self-join, hits counted per query with
    * zero-hit queries preserved — the same contract as
    * [[Similarity.recallAtK]].
    */
  private def annRecallOracle: Option[(String, String)] =
    for { codebooks <- pqCapture; (iroot, ilevels, icb) <- ivfPqCapture
          (troot, tlevels, tcb) <- treeIvfPqCapture } yield {
      "ann_recall" ->
        s"""WITH $prepSql,
           |${pqAssignCtes(codebooks, "p_")},
           |${pqAdcCtes("p_")},
           |${treeIvfPqChainCtes(iroot, ilevels, icb, "i_")},
           |${treeIvfPqChainCtes(troot, tlevels, tcb, "t_")},
           |ex_scored AS (
           |  SELECT qv.vec_id AS query_id, cv.vec_id AS nn_id,
           |    qv.n2 - 2 * (SELECT CAST(sum(x * y) AS BIGINT)
           |                 FROM (SELECT unnest(qv.q) AS x, unnest(cv.q) AS y))
           |      + cv.n2 AS l2_dist
           |  FROM pn qv JOIN pn cv ON cv.vec_id <> qv.vec_id
           |  WHERE qv.vec_id < $NumQueries),
           |ex_top AS (
           |  SELECT query_id, nn_id FROM ex_scored
           |  QUALIFY row_number() OVER (PARTITION BY query_id
           |    ORDER BY l2_dist ASC, nn_id ASC) <= $K),
           |p_top AS (
           |  SELECT query_id, nn_id FROM p_adc
           |  QUALIFY row_number() OVER (PARTITION BY query_id
           |    ORDER BY adc_dist ASC, nn_id ASC) <= $K),
           |i_top AS (
           |  SELECT query_id, nn_id FROM i_adc
           |  QUALIFY row_number() OVER (PARTITION BY query_id
           |    ORDER BY adc_dist ASC, nn_id ASC) <= $K),
           |t_top AS (
           |  SELECT query_id, nn_id FROM t_adc
           |  QUALIFY row_number() OVER (PARTITION BY query_id
           |    ORDER BY adc_dist ASC, nn_id ASC) <= $K),
           |qlist AS (SELECT DISTINCT query_id FROM ex_top),
           |p_hits AS (SELECT query_id, count(*) AS n FROM p_top
           |  JOIN ex_top USING (query_id, nn_id) GROUP BY query_id),
           |i_hits AS (SELECT query_id, count(*) AS n FROM i_top
           |  JOIN ex_top USING (query_id, nn_id) GROUP BY query_id),
           |t_hits AS (SELECT query_id, count(*) AS n FROM t_top
           |  JOIN ex_top USING (query_id, nn_id) GROUP BY query_id)
           |SELECT 'pq' AS method, q.query_id,
           |  CAST(coalesce(p_hits.n, 0) AS BIGINT) AS n_hits
           |FROM qlist q LEFT JOIN p_hits USING (query_id)
           |UNION ALL
           |SELECT 'ivfpq' AS method, q.query_id,
           |  CAST(coalesce(i_hits.n, 0) AS BIGINT) AS n_hits
           |FROM qlist q LEFT JOIN i_hits USING (query_id)
           |UNION ALL
           |SELECT 'tivfpq' AS method, q.query_id,
           |  CAST(coalesce(t_hits.n, 0) AS BIGINT) AS n_hits
           |FROM qlist q LEFT JOIN t_hits USING (query_id)
           |ORDER BY method, query_id""".stripMargin
    }

  /** semantic_dedup_srp_bucket oracle: the declared band + verify replay
    * at the captured width.
    */
  private def srpBucketOracle: Option[(String, String)] = srpBucketWidth.map { rpb =>
    "semantic_dedup_srp_bucket" ->
      s"""WITH $prepSql,
         |${srpSketchCtesWidth(rpb)},
         |scand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
         |    AND a.vec_id < b.vec_id),
         |ssc AS (
         |  SELECT scand.id_a, scand.id_b, x.n2 AS na, y.n2 AS nb,
         |    (SELECT CAST(sum(xx * yy) AS BIGINT)
         |     FROM (SELECT unnest(x.q) AS xx, unnest(y.q) AS yy)) AS dot
         |  FROM scand
         |  JOIN pn x ON x.vec_id = scand.id_a
         |  JOIN pn y ON y.vec_id = scand.id_b),
         |sdup AS (SELECT id_b AS vec_id, min(id_a) AS dup_of FROM ssc
         |  WHERE CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= $NearDupCos
         |  GROUP BY id_b)
         |SELECT e.vec_id, d.dup_of, d.dup_of IS NULL AS is_kept
         |FROM embeddings e LEFT JOIN sdup d USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin
  }

  private def nearDupSrpOracle: Option[(String, String)] = nearDupSrpWidth.map { rpb =>
    "embedding_near_dup_srp" ->
      s"""WITH $prepSql,
         |${srpSketchCtesWidth(rpb)},
         |scand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
         |    AND a.vec_id < b.vec_id),
         |ssc AS (
         |  SELECT scand.id_a, scand.id_b, x.n2 AS na, y.n2 AS nb,
         |    (SELECT CAST(sum(xx * yy) AS BIGINT)
         |     FROM (SELECT unnest(x.q) AS xx, unnest(y.q) AS yy)) AS dot
         |  FROM scand
         |  JOIN pn x ON x.vec_id = scand.id_a
         |  JOIN pn y ON y.vec_id = scand.id_b)
         |SELECT id_a, id_b,
         |  CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
         |FROM ssc
         |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= $NearDupCos
         |ORDER BY id_a, id_b""".stripMargin
  }

  private def srpOracle: String = {
    s"""$srpSketchCtes,
       |cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS nn_id
       |  FROM bands qb JOIN bands cb ON qb.b = cb.b AND qb.bv = cb.bv
       |    AND cb.vec_id <> qb.vec_id
       |  WHERE qb.vec_id < $NumQueries),
       |scored AS (
       |  SELECT cand.query_id, cand.nn_id, qv.n2 AS qn2, cv.n2 AS cn2,
       |    (SELECT CAST(sum(x * y) AS BIGINT)
       |     FROM (SELECT unnest(qv.q) AS x, unnest(cv.q) AS y)) AS dot
       |  FROM cand
       |  JOIN pn qv ON qv.vec_id = cand.query_id
       |  JOIN pn cv ON cv.vec_id = cand.nn_id)""".stripMargin
  }

  def oracleSql: Map[String, String] =
    kmeansOracle.toMap ++ purityOracle.toMap ++ srpBucketOracle.toMap ++
      nearDupSrpOracle.toMap ++ hierOracle.toMap ++
      nearDupOracle.toMap ++
      pqOracles ++ annRecallOracle.toMap ++
      ivfPqCapture.map(c => "ivfpq_topk" -> ivfPqTopKSql(c)).toMap ++
      ivfPqCapture.map(c => "stream_ivfpq_encode" -> ivfPqEncodeSql(c)).toMap ++
      ivfPqIndexCapture.map(c => "stream_ivfpq_index" -> ivfPqEncodeSql(c)).toMap ++ Map(

    "embedding_pca" ->
      s"""WITH $pcaCtes
         |SELECT dim, CAST(v AS DOUBLE) /
         |  sqrt(CAST((SELECT n2 FROM pn2) AS DOUBLE)) AS component
         |FROM pv$PcaIters ORDER BY dim""".stripMargin,

    "pca_projection" ->
      s"""WITH $pcaCtes,
         |pfl AS MATERIALIZED (SELECT list(v ORDER BY dim) AS lv FROM pv$PcaIters),
         |pfsv AS MATERIALIZED (SELECT CAST(sum(pds.s * pv$PcaIters.v) AS HUGEINT) AS sdotv
         |  FROM pds JOIN pv$PcaIters USING (dim))
         |SELECT pp.vec_id,
         |  CAST((SELECT CAST(sum(x * y) AS HUGEINT)
         |        FROM (SELECT unnest(pp.q) AS x, unnest((SELECT lv FROM pfl)) AS y))
         |      * (SELECT n FROM pcnt)
         |    - (SELECT sdotv FROM pfsv) AS DOUBLE)
         |  / (CAST((SELECT n FROM pcnt) AS DOUBLE) * ${Similarity.QScale}.0
         |     * sqrt(CAST((SELECT n2 FROM pn2) AS DOUBLE))) AS projection
         |FROM pp ORDER BY pp.vec_id""".stripMargin,

    // covariance: same exact integer cross-moments (DuckDB sums in HUGEINT,
    // Spark in DECIMAL(38,0) — both exact), same double derivation order
    "embedding_covariance" ->
      s"""WITH $prepSql,
         |ex AS (SELECT vec_id, unnest(q) AS x,
         |    CAST(unnest(range(0, len(q))) AS INTEGER) AS dim FROM p),
         |m AS (
         |  SELECT a.dim AS i, b.dim AS j, count(*) AS n_vecs,
         |    CAST(sum(CAST(a.x AS HUGEINT) * b.x) AS DOUBLE) AS sxy
         |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.dim >= a.dim
         |  GROUP BY a.dim, b.dim),
         |ds AS (SELECT dim, CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS s
         |  FROM ex GROUP BY dim)
         |SELECT m.i, m.j, m.n_vecs,
         |  (m.sxy / m.n_vecs - (si.s / m.n_vecs) * (sj.s / m.n_vecs))
         |    / (${Similarity.QScale}.0 * ${Similarity.QScale}.0) AS cov
         |FROM m JOIN ds si ON si.dim = m.i JOIN ds sj ON sj.dim = m.j
         |ORDER BY m.i, m.j""".stripMargin,
    "srp_ann_topk" ->
      s"""WITH $prepSql,
         |$srpOracle
         |SELECT query_id, nn_id,
         |  CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cosine
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, nn_id ASC) <= $K
         |ORDER BY query_id, nn_id""".stripMargin,
    "cosine_topk" ->
      s"""WITH $prepSql,
         |scored AS (
         |  SELECT qv.vec_id AS query_id, cv.vec_id AS nn_id, qv.n2 AS qn2, cv.n2 AS cn2,
         |    (SELECT CAST(sum(x * y) AS BIGINT)
         |     FROM (SELECT unnest(qv.q) AS x, unnest(cv.q) AS y)) AS dot
         |  FROM pn qv JOIN pn cv ON cv.vec_id <> qv.vec_id
         |  WHERE qv.vec_id < $NumQueries)
         |SELECT query_id, nn_id,
         |  CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cosine
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, nn_id ASC) <= $K
         |ORDER BY query_id, nn_id""".stripMargin,

    // exact integer squared-L2 distances — the ANN ground-truth ranking
    "l2_topk" ->
      s"""WITH $prepSql,
         |scored AS (
         |  SELECT qv.vec_id AS query_id, cv.vec_id AS nn_id,
         |    qv.n2 - 2 * (SELECT CAST(sum(x * y) AS BIGINT)
         |                 FROM (SELECT unnest(qv.q) AS x, unnest(cv.q) AS y))
         |      + cv.n2 AS l2_dist
         |  FROM pn qv JOIN pn cv ON cv.vec_id <> qv.vec_id
         |  WHERE qv.vec_id < $NumQueries)
         |SELECT query_id, nn_id, l2_dist FROM scored
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY l2_dist ASC, nn_id ASC) <= $K
         |ORDER BY query_id, nn_id""".stripMargin,

    // SQL surface ≡ DataFrame surface ≡ oracle: same brute-force SQL
    "sql_cosine_topk" ->
      s"""WITH $prepSql,
         |scored AS (
         |  SELECT qv.vec_id AS query_id, cv.vec_id AS nn_id, qv.n2 AS qn2, cv.n2 AS cn2,
         |    (SELECT CAST(sum(x * y) AS BIGINT)
         |     FROM (SELECT unnest(qv.q) AS x, unnest(cv.q) AS y)) AS dot
         |  FROM pn qv JOIN pn cv ON cv.vec_id <> qv.vec_id
         |  WHERE qv.vec_id < $NumQueries)
         |SELECT query_id, nn_id,
         |  CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cosine
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, nn_id ASC) <= $K
         |ORDER BY query_id, nn_id""".stripMargin,

    // full-width multi-probe ≡ brute force: reuse the exact top-k oracle
    "ivf_multiprobe_topk" ->
      s"""WITH $prepSql,
         |scored AS (
         |  SELECT qv.vec_id AS query_id, cv.vec_id AS nn_id, qv.n2 AS qn2, cv.n2 AS cn2,
         |    (SELECT CAST(sum(x * y) AS BIGINT)
         |     FROM (SELECT unnest(qv.q) AS x, unnest(cv.q) AS y)) AS dot
         |  FROM pn qv JOIN pn cv ON cv.vec_id <> qv.vec_id
         |  WHERE qv.vec_id < $NumQueries)
         |SELECT query_id, nn_id,
         |  CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cosine
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, nn_id ASC) <= $K
         |ORDER BY query_id, nn_id""".stripMargin,

    "ivf_topk" ->
      s"""WITH $prepSql,
         |scored AS (
         |  SELECT qv.vec_id AS query_id, cv.vec_id AS nn_id, qv.n2 AS qn2, cv.n2 AS cn2,
         |    (SELECT CAST(sum(x * y) AS BIGINT)
         |     FROM (SELECT unnest(qv.q) AS x, unnest(cv.q) AS y)) AS dot
         |  FROM pn qv JOIN pn cv ON cv.label = qv.label AND cv.vec_id <> qv.vec_id
         |  WHERE qv.vec_id < $NumQueries)
         |SELECT query_id, nn_id,
         |  CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cosine
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, nn_id ASC) <= $K
         |ORDER BY query_id, nn_id""".stripMargin,

    "cell_stats" ->
      s"""WITH $prepSql,
         |e AS (SELECT label, unnest(q) AS x, CAST(unnest(range(0, len(q))) AS INTEGER) AS dim
         |      FROM p)
         |SELECT label, dim, count(*) AS n_vecs,
         |  CAST(sum(x) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * ${Similarity.QScale}.0) AS centroid
         |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "embedding_near_dup" ->
      s"""WITH $prepSql,
         |scored AS (
         |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b, a.n2 AS na, b.n2 AS nb,
         |    (SELECT CAST(sum(x * y) AS BIGINT)
         |     FROM (SELECT unnest(a.q) AS x, unnest(b.q) AS y)) AS dot
         |  FROM pn a JOIN pn b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT label, id_a, id_b,
         |  CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
         |FROM scored
         |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= $NearDupCos
         |ORDER BY id_a, id_b""".stripMargin,

    "semantic_dedup" ->
      s"""WITH $prepSql,
         |scored AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.n2 AS na, b.n2 AS nb,
         |    (SELECT CAST(sum(x * y) AS BIGINT)
         |     FROM (SELECT unnest(a.q) AS x, unnest(b.q) AS y)) AS dot
         |  FROM pn a JOIN pn b ON a.label = b.label AND a.vec_id < b.vec_id),
         |dup AS (
         |  SELECT id_b AS vec_id, min(id_a) AS dup_of FROM scored
         |  WHERE CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= $NearDupCos
         |  GROUP BY id_b)
         |SELECT e.vec_id, e.label, d.dup_of, d.dup_of IS NULL AS is_kept
         |FROM embeddings e LEFT JOIN dup d USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin,
  )
}
