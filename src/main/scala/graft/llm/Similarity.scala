package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Relational

/** Similarity search over an embedding column (`array<float>`).
  *
  * Numeric determinism: floats are quantized to 24-bit fixed point
  * (`floor(x * 2^24)` as longs) before any arithmetic, so dot products and
  * norms are EXACT integer sums — order-independent across partitionings and
  * bit-identical to the DuckDB oracle. The final cosine is one double
  * division over exact integers. (Float-sum reassociation would otherwise
  * make every parallel run differ in the low bits.) With unit-norm-ish
  * inputs the quantization error is ~2^-24 relative — far below any useful
  * similarity threshold.
  *
  * Scale design: brute-force top-k is the *baseline* (broadcast the query
  * set, one narrow pass over the corpus, per-partition heaps via
  * WindowGroupLimit — never a corpus self-join). The scale path is IVF:
  * restrict the search to the query's coarse cell(s) so a 100 TB corpus is
  * partition-pruned down to the probed cells; `cellNearDupPairs` blocks the
  * pair search the same way.
  */
object Similarity {

  val QScale = 1L << 24

  /** 24-bit fixed-point quantization of a float array (exact in both
    * engines: float→double widening is exact, 2^24 scaling is exact, floor
    * is deterministic) — codegen'd ([[graft.functions.QuantizeFixed]]), as
    * it runs over every corpus vector in each similarity pass.
    */
  def quantize(v: Column): Column = graft.functions.QuantizeQ(v, QScale)

  /** Exact integer dot product of two quantized vectors — a native
    * codegen'd expression ([[graft.functions.DotProductQ]]); the HOF fold
    * `aggregate(zip_with(...))` it replaces ran interpreted per element in
    * the pair-scoring inner loop of every similarity query.
    */
  def dotQ(a: Column, b: Column): Column = graft.functions.DotQ(a, b)

  /** Squared norm of a quantized vector. */
  def norm2Q(v: Column): Column = dotQ(v, v)

  /** Cosine of two quantized vectors given their precomputed squared norms:
    * one double division over exact integers.
    */
  def cosineQ(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** Column-metadata marker stamped on `q` by [[prepare]], recording which
    * vector column it quantized — the machine-checked form of the reserved-
    * name contract (metadata survives select/alias/join propagation).
    */
  private val PreparedForKey = "graft.similarity.preparedFor"

  /** Corpus prepared for search: quantized vector + squared norm, computed
    * once (narrow) so every downstream join reuses them. Idempotent: a
    * frame already prepared FROM THE SAME `vec` column passes through, so
    * composed paths (fit → assign → search) never re-quantize. `q`/`n2`
    * are RESERVED column names on similarity inputs, and the contract is
    * enforced: a frame carrying those names without [[prepare]]'s metadata
    * marker (or prepared from a different vector column) fails fast instead
    * of silently skipping quantization.
    */
  def prepare(df: DataFrame, id: String, vec: String): DataFrame =
    if (df.columns.contains("q") || df.columns.contains("n2")) {
      val qOk = df.columns.contains("q") && df.columns.contains("n2") && {
        val qf = df.schema("q")
        (qf.dataType match {
          case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, _) => true
          case _ => false
        }) && df.schema("n2").dataType == org.apache.spark.sql.types.LongType &&
          qf.metadata.contains(PreparedForKey) &&
          qf.metadata.getString(PreparedForKey) == vec
      }
      require(qOk,
        s"q/n2 are reserved similarity columns: this frame carries them but they " +
          s"were not produced by prepare(_, _, $vec) — rename the caller's columns " +
          s"or prepare from the intended vector column")
      df
    } else {
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(PreparedForKey, vec).build()
      df.withColumn("q", quantize(col(vec)))
        .withMetadata("q", md)
        .withColumn("n2", norm2Q(col("q")))
    }

  /** Beyond-broadcast driver for the query-set top-k scans. The top-k
    * entry points ([[cosineTopK]], [[l2TopK]], [[pqTopK]],
    * [[TreeIvfPqModel.topK]]) broadcast the WHOLE query frame — the right plan
    * while the query set fits the broadcast threshold (the operating
    * envelope of every gated registration; ~10 MB default ≈ 10k-100k
    * quantized query vectors depending on dim). When the query set
    * outgrows it, wrap the call here: queries split into `nSlices =
    * ceil(n/slice)` deterministic hash slices, `run` executes per slice
    * (each slice broadcasts on its own), results union. Per-query results
    * are independent of every other query, so slicing is EXACT — proven by
    * the slice-≡ test in `PipelineOpsSpec`. Driver state is one count and
    * the slice loop; corpus-side work is one scan per slice (the
    * unavoidable trade: n/slice passes instead of one).
    *
    * Sizing: hash slices are Binomial(n, 1/nSlices), so a slice lands at
    * ~n/nSlices only in EXPECTATION — size `slice` to 50-70% of the
    * broadcast budget so a +3σ slice still broadcasts. (The alternative —
    * exact slices via a rank window — costs a single-partition global sort
    * of the query frame, the one shape this wrapper exists to avoid.)
    */
  def chunkedQueries(queries: DataFrame, id: String, slice: Int)
                    (run: DataFrame => DataFrame): DataFrame = {
    require(slice >= 1, s"slice size must be >= 1: $slice")
    val n = queries.count()
    val nSlices = math.max(1L, (n + slice - 1) / slice).toInt
    (0 until nSlices).map { i =>
      run(queries.filter(pmod(xxhash64(col(id)), lit(nSlices)) === i))
    }.reduce(_ unionByName _)
  }

  /** Brute-force cosine top-k: broadcast the (small) query set against the
    * corpus, score in one narrow pass, keep k per query via the ranking
    * window (WindowGroupLimit keeps per-partition state at k rows).
    * Operating envelope: the query frame must fit the broadcast threshold —
    * beyond that, drive through [[chunkedQueries]].
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                 k: Int): DataFrame = {
    val c = prepare(corpus, id, vec)
      .select(col(id).as("nn_id"), col("q").as("cq"), col("n2").as("cn2"))
    val q = prepare(queries, id, vec)
      .select(col(id).as("query_id"), col("q").as("qq"), col("n2").as("qn2"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        cosineQ(dotQ(col("qq"), col("cq")), col("qn2"), col("cn2")).as("cosine"))
    Relational.topKPerGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("nn_id").asc), k)
  }

  /** IVF top-k: identical to [[cosineTopK]] but the corpus scan is pruned to
    * the query's coarse cell (equi-join on the cell id instead of a cross
    * join) — the approximate-but-fast path for a partitioned/bucketed corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              cell: String, k: Int): DataFrame = {
    val c = prepare(corpus, id, vec)
      .select(col(cell), col(id).as("nn_id"), col("q").as("cq"), col("n2").as("cn2"))
    val q = prepare(queries, id, vec)
      .select(col(cell), col(id).as("query_id"), col("q").as("qq"), col("n2").as("qn2"))
    val scored = c.join(broadcast(q), Seq(cell))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        cosineQ(dotQ(col("qq"), col("cq")), col("qn2"), col("cn2")).as("cosine"))
    Relational.topKPerGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("nn_id").asc), k)
  }

  /** Per-cell statistics for the IVF index: vector count and the exact
    * centroid of each coarse cell, one row per (cell, dimension) — the
    * shape an IVF build/rebalance step consumes. posexplode → hash
    * aggregate on (cell, dim): integer-exact quantized sums, so centroids
    * are partitioning-invariant; the only floating step is the final
    * division.
    */
  def cellStats(df: DataFrame, vec: String, cell: String): DataFrame =
    df.select(col(cell), posexplode(quantize(col(vec))).as(Seq("dim", "x")))
      .groupBy(col(cell), col("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("x")).as("s"))
      .select(col(cell), col("dim"), col("n_vecs"),
        (col("s").cast("double") / (col("n_vecs").cast("double") * QScale.toDouble))
          .as("centroid"))

  /** A fitted coarse quantizer: integer centroids + an `assign` that tags
    * any embedding frame with its nearest cell (one narrow projection).
    */
  final case class KMeansModel(centroids: Seq[(Int, Seq[Long])], id: String, vec: String) {
    def assign(df: DataFrame): DataFrame =
      // one narrow codegen'd projection ([[graft.functions.NearestSubCellQ.flat]]):
      // the same exact integer argmin + lowest-cid tie-break the former
      // crossJoin→groupBy shape computed, without exploding n·k dist rows
      // through a shuffle — the term the sf1-constrate run measured as the
      // whole auto-dedup tier's super-linear cost (k ∝ n makes it n²/target
      // SHUFFLED ROWS; as a projection the k·dim flops stay in-register)
      // null/mis-shaped vectors argmin to null; the not-null filter makes
      // the declared null contract (row absent from the output) true —
      // in-codegen, no exchange added
      prepare(df, id, vec)
        .select(col(id),
          graft.functions.NearestSubCellQ.flat(col("q"), centroids).as("cluster"))
        .filter(col("cluster").isNotNull)

    /** The `p` nearest cells per row (multi-probe assignment): `p` rows per
      * input id, deterministic ties on the lower cell id. `p = 1` reduces
      * to [[assign]].
      */
    def assignTop(df: DataFrame, p: Int): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val c = broadcast(centroids.toDF("cid", "cq").withColumn("cn2", norm2Q(col("cq"))))
      graft.ops.Relational.topKPerGroup(
        prepare(df, id, vec)
          .crossJoin(c)
          .select(col(id), col("cid"),
            (col("n2") - lit(2L) * dotQ(col("q"), col("cq")) + col("cn2")).as("dist")),
        Seq(id), Seq(col("dist").asc, col("cid").asc), p)
        .select(col(id), col("cid").as("cluster"))
    }
  }

  /** Multi-probe IVF: each query searches its `probes` nearest cells
    * instead of only the closest — the standard recall/cost dial (a true
    * neighbor just across a cell boundary is found by the second-closest
    * probe). The query set is replicated `probes`× (bounded — queries are
    * the small broadcast side); each corpus vector still lives in exactly
    * one cell, so no result can appear twice. `probes = cells` degenerates
    * to exact brute force, which is how the gate oracles this machinery.
    */
  def ivfTopKMultiProbe(corpus: DataFrame, queries: DataFrame, id: String,
                        vec: String, k: Int, cells: Int, probes: Int,
                        iters: Int = 3): DataFrame = {
    // prepare once, BEFORE the fit: kmeansFit/assign/ivfTopK all call the
    // idempotent prepare, so the full-corpus quantize pass runs exactly once
    val pc = prepare(corpus, id, vec)
    val pq = prepare(queries, id, vec)
    val model = kmeansFit(pc, id, vec, cells, iters)
    val c = pc.join(model.assign(pc), Seq(id))
    val q = pq.join(model.assignTop(pq, probes), Seq(id))
    ivfTopK(c, q, id, vec, "cluster", k)
  }

  /** IVF coarse-quantizer build: Lloyd k-means over the QUANTIZED vectors,
    * entirely in integer arithmetic so every run assigns identically: each
    * round's argmin is the exact-integer nearest-centroid kernel (ties
    * break on the lower centroid id) and centroid updates are integer
    * floor-divided sums. Initialization is deterministic sample-based
    * mass-proportional seeding (below). The driver loop only controls the
    * `iters` rounds and collects the k×dim centroid table (tiny) between
    * them.
    */
  def kmeansFit(df: DataFrame, id: String, vec: String, k: Int,
                iters: Int = 5): KMeansModel = {
    val p = prepare(df, id, vec).select(col(id), col("q"), col("n2"))
      .localCheckpoint(false)
    val dim = p.select(size(col("q"))).head().getInt(0)

    // deterministic sample-based init (k-means||-style): ONE hash-sampled
    // pass pulls ~max(64k, 4096) vectors to the driver (bounded: sample ×
    // dim longs), then MASS-PROPORTIONAL selection runs driver-local on the
    // sample: seeds are the first k distinct vectors in scrambled-id order,
    // i.e. a uniform draw from the data distribution. This replaced
    // farthest-point seeding after the sf1-constrate measurement:
    // farthest-point picks extreme outliers as seeds, and on
    // structure-free data the central mass then collapses into a handful
    // of cells (measured max cell 6,313 of n=20,000 — 31% of the corpus in
    // ONE cell, 9.1 s of within-cell pair verification producing zero
    // pairs). Mass-proportional seeding puts seeds where the data is:
    // max cell 1,247, pair verify 1.8 s on the same fixture, and on the
    // adversarially-CLUSTERED fixture it is indistinguishable from
    // farthest-point (max cell 150 vs 160, pair set ±0.04%) because a
    // uniform draw lands seeds in every cluster with mass ≥ n/k. For a
    // balance-sensitive blocking fit (SemDeDup cells, IVF lists), balance
    // is the objective — coverage of isolated outliers is not (an outlier
    // in a big cell costs one verify; a seed ON the outlier costs a
    // near-empty cell). O(1) corpus scans as before; xxhash64(id) sampling
    // + the scramble order are partitioning-independent, so the init — and
    // therefore the whole fit — stays run-deterministic.
    val n = p.count()
    val cap = math.max(64L * k, 4096L)
    var every = math.max(1L, n / cap)
    var sample = Array.empty[(Long, Array[Long])]
    var looped = false
    while (!looped || (sample.length < k && every > 1)) {
      if (looped) every = math.max(1L, every / 2) // unlucky hash shortfall
      sample = p.filter(pmod(xxhash64(col(id)), lit(every)) === 0)
        .select(col(id).cast("long").as("__id"), col("q"))
        .orderBy(col("__id"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      looped = true
    }
    require(sample.length >= k, s"sampled ${sample.length} vectors < k=$k")

    // first k DISTINCT vectors in scrambled-id order (ties on the raw id):
    // distinctness guards against duplicate embeddings seeding two
    // identical centroids (which would waste a cell — the duplicate's
    // points all tie to the lower cid)
    val seen = scala.collection.mutable.HashSet.empty[Seq[Long]]
    val chosen = sample
      .sortBy { case (sid, _) => (Dedup.scramble(sid), sid) }
      .iterator
      .map(_._2)
      .filter(v => seen.add(v.toSeq))
      .take(k)
      .toArray
    require(chosen.length >= k,
      s"only ${chosen.length} distinct sampled vectors < k=$k")
    var centroids: Seq[(Int, Seq[Long])] =
      chosen.toSeq.zipWithIndex.map { case (v, i) => i -> v.toSeq }

    for (_ <- 1 to iters) {
      // one narrow pass: nearest-cell and posexplode over the SAME scan of
      // p (the vectors are already there — re-joining assignment() back to
      // p paid a hash join, i.e. two exchanges, per Lloyd round; same
      // fold treeFit's per-level loop uses)
      val sums = p
        .select(graft.functions.NearestSubCellQ.flat(col("q"), centroids).as("cluster"),
          posexplode(col("q")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCluster = sums.groupBy(_.getInt(0))
      centroids = centroids.map { case (cid, prev) =>
        byCluster.get(cid) match {
          case Some(rows) =>
            val comps = rows.map(r => r.getInt(1) -> Math.floorDiv(r.getLong(2), r.getLong(3)))
              .toMap
            (cid, (0 until dim).map(comps))
          case None => (cid, prev) // empty cluster keeps its centroid
        }
      }
    }
    KMeansModel(centroids, id, vec)
  }

  /** Cluster-quality evaluation: per-cluster size, label diversity, and
    * purity (fraction of the cluster carried by its plurality label) —
    * the standard external check that a fitted quantizer's cells track a
    * known labeling. One hash aggregate on (cluster, label) does the heavy
    * pass; everything after runs on the tiny per-(cluster,label) frame
    * (≤ k·|labels| rows), so the op scales with the corpus scan, not with
    * cluster count. Plurality ties break on the lower label.
    */
  def labelPurity(assigned: DataFrame, labels: DataFrame, id: String,
                  label: String): DataFrame = {
    val counts = assigned.join(labels, Seq(id))
      .groupBy(col("cluster"), col(label))
      .agg(count(lit(1)).as("n_label"))
    val top = Relational.topKPerGroup(counts, Seq("cluster"),
        Seq(col("n_label").desc, col(label).asc), 1)
      .select(col("cluster"), col(label).as("top_label"), col("n_label").as("top_n"))
    val totals = counts.groupBy(col("cluster"))
      .agg(sum(col("n_label")).as("n_vecs"), count(lit(1)).as("n_labels"))
    totals.join(top, Seq("cluster"))
      .select(col("cluster"), col("n_vecs"), col("n_labels"),
        col("top_label"), col("top_n"),
        (col("top_n").cast("double") / col("n_vecs")).as("purity"))
  }

  /** Exact upper-triangle covariance of the embedding components — the
    * one-pass moment computation a whitening / PCA step consumes. The d²
    * blowup happens via two chained generators (posexplode × posexplode:
    * narrow, NO self-join, no shuffle before the aggregate), cross-moments
    * accumulate as exact DECIMAL over the quantized integers, and the
    * per-dimension sums (d tiny rows) broadcast back on. cov is derived
    * from the exact scalars in one declared double order:
    * `(sxy/n − (si/n)·(sj/n)) / QScale²`. Rows out: d(d+1)/2 — driver-safe
    * for any corpus size; the corpus-side cost is one narrow pass of
    * n·d(d+1)/2 product rows into a partial-aggregating hash agg.
    */
  def covariance(df: DataFrame, id: String, vec: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val p = prepare(df, id, vec).select(col(id), col("q"))
    val ex = p
      .select(col(id), col("q"), posexplode(col("q")).as(Seq("i", "xi")))
      .select(col(id), col("i"), col("xi"), posexplode(col("q")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
    val moments = ex.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(dec(col("xi") * col("xj"))).cast("double").as("sxy"))
    val dims = p.select(posexplode(col("q")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(sum(dec(col("x"))).cast("double").as("s"))
    val scale2 = QScale.toDouble * QScale.toDouble
    moments
      .join(broadcast(dims.select(col("dim").as("i"), col("s").as("si"))), Seq("i"))
      .join(broadcast(dims.select(col("dim").as("j"), col("s").as("sj"))), Seq("j"))
      .select(col("i"), col("j"), col("n_vecs"),
        ((col("sxy") / col("n_vecs") -
          (col("si") / col("n_vecs")) * (col("sj") / col("n_vecs"))) / scale2)
          .as("cov"))
  }

  /** Dominant principal component of the embedding cloud by DISTRIBUTED
    * power iteration — deterministic to the bit, so the whole iterative
    * fit is oracle-replayable (no captured state): all corpus-sized math
    * is exact integer/decimal, and the one float division happens after
    * the last iteration.
    *
    * Per iteration, with Xc the mean-centered matrix scaled by n (so
    * centering stays integral: xc = n·x − S, S the per-dim column sum):
    * w = Xcᵀ(Xc·v), then v' = trunc(w·scale / max|w|). The matvecs never
    * materialize Xc: Xc·v = n·(x·v) − S·v needs only the raw quantized dot
    * ([[dotQ]], codegen'd) against the broadcast-literal v and two
    * driver-scalar constants; the transpose pass folds into ONE
    * posexplode + per-dim aggregate, because Σᵢ xcᵢd·dotᵢ = n·Σᵢ xᵢd·dotᵢ
    * − S_d·Σᵢ dotᵢ, and Σᵢ dotᵢ falls out of the same grouped aggregate
    * (each vector contributes its dot once per dim). So an iteration is:
    * one narrow scan + one hash aggregate at dim-cardinality, collected as
    * a dim-sized control-plane vector — the same bounded-collect pattern
    * as [[kmeansFit]]. Exactness bound (ENFORCED by a require() after the
    * stats pass): the transpose aggregate sum(dec(x)·dt) has magnitude
    * ≤ 2·n²·dim·QScale²·scale, which must stay under decimal(38,0)'s
    * precision cap (n ≈ 3e8 at the defaults); past that, fit with a
    * coarser quantization. (The per-row Long dot is bounded by
    * dim·QScale·scale ≈ 1e13, never at risk.)
    *
    * Returns the integer component (length dim, ∞-norm = `scale`) plus the
    * centering constants needed to project: (v, S, n).
    */
  def powerIterationInts(df: DataFrame, id: String, vec: String, iters: Int = 3,
                         scale: Long = 10000L): (Seq[BigInt], Seq[BigInt], Long) = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val p = prepare(df, id, vec).select(col(id), col("q")).localCheckpoint(false)
    val dim = p.select(size(col("q"))).head().getInt(0)
    val stats = p.select(posexplode(col("q")).as(Seq("dim", "x")))
      .groupBy("dim").agg(sum(dec(col("x"))).as("s"), count(lit(1)).as("nn"))
      .collect().map(r => r.getInt(0) -> (BigInt(r.getDecimal(1).toBigInteger), r.getLong(2)))
      .toMap
    val n = stats.head._2._2
    // enforce the exactness bound: the transpose-pass aggregate
    // sum(dec(x)·dt) has magnitude ≤ 2·n²·dim·QScale²·scale, and past
    // decimal(38,0)'s precision cap non-ANSI Spark renders the overflow as
    // NULL — a silently wrong component rather than an error. Fail loudly
    // with the remedy instead.
    require(BigInt(2) * BigInt(n) * BigInt(n) * dim * QScale * QScale * scale
        < BigInt(10).pow(38),
      s"powerIterationInts exactness bound exceeded (2*n^2*dim*QScale^2*scale" +
        s" >= 10^38 with n=$n, dim=$dim): fit with a coarser quantization " +
        s"(smaller scale)")
    val s = (0 until dim).map(d => stats(d)._1)
    var v: IndexedSeq[BigInt] = IndexedSeq.fill(dim)(BigInt(1))
    for (_ <- 1 to iters) {
      val sdotv = (0 until dim).map(d => s(d) * v(d)).sum
      val dt = (dec(lit(n)) * dotQ(col("q"), array(v.map(x => lit(x.toLong)): _*))
        - dec(lit(new java.math.BigDecimal(sdotv.bigInteger)))).as("dt")
      val agg = p.select(col("q"), dt)
        .select(col("dt"), posexplode(col("q")).as(Seq("dim", "x")))
        .groupBy("dim")
        .agg(sum(dec(col("x")) * col("dt")).as("a"), sum(col("dt")).as("dtot"))
        .collect()
        .map(r => r.getInt(0) ->
          (BigInt(r.getDecimal(1).toBigInteger), BigInt(r.getDecimal(2).toBigInteger)))
        .toMap
      val dsum = agg.head._2._2
      val w = (0 until dim).map(d => BigInt(n) * agg(d)._1 - s(d) * dsum)
      val m = w.map(_.abs).max
      require(m.signum > 0, "power iteration degenerated: zero matvec " +
        "(centered matrix annihilated v — retry with a different start)")
      // BigInt / truncates toward zero, matching DuckDB HUGEINT //
      v = w.map(_ * scale / m)
    }
    (v, s, n)
  }

  /** A fitted component rendered as a `(dim, component)` frame: the
    * integer direction normalized to unit length — dim rows, driver-built
    * from the control-plane vector (the corpus never leaves the
    * executors). Takes the fit so one [[powerIterationInts]] run can feed
    * both this and [[projectionFrame]] — the fit-once/consume-many shape.
    */
  def componentFrame(spark: SparkSession,
                     fit: (Seq[BigInt], Seq[BigInt], Long)): DataFrame = {
    import spark.implicits._
    val v = fit._1
    val n2 = v.map(x => x * x).sum
    val norm = math.sqrt(n2.toDouble)
    v.zipWithIndex.map { case (x, d) => (d, x.toLong.toDouble / norm) }
      .toDF("dim", "component")
  }

  def topComponent(df: DataFrame, id: String, vec: String, iters: Int = 3,
                   scale: Long = 10000L): DataFrame =
    componentFrame(df.sparkSession, powerIterationInts(df, id, vec, iters, scale))

  /** Centered projection of every vector onto a fitted component:
    * proj_i = (x_i − mean)·u — the distributed CONSUMER of the fit (PCA
    * outlier scoring / top-component removal), one narrow codegen pass
    * over the corpus with the component as a broadcast literal. The
    * numerator (n·(x·v) − S·v) is integer-exact, so projections sum to
    * exactly zero pre-division; the one double division is last.
    */
  def projectionFrame(df: DataFrame, id: String, vec: String,
                      fit: (Seq[BigInt], Seq[BigInt], Long)): DataFrame = {
    val (v, s, n) = fit
    val sdotv = v.indices.map(d => s(d) * v(d)).sum
    val n2 = v.map(x => x * x).sum
    val p = prepare(df, id, vec)
    val num = (col("q_dot_v").cast("decimal(38,0)") * lit(n)
      - lit(new java.math.BigDecimal(sdotv.bigInteger))).cast("double")
    val den = n.toDouble * QScale.toDouble * math.sqrt(n2.toDouble)
    p.select(col(id), dotQ(col("q"), array(v.map(x => lit(x.toLong)): _*)).as("q_dot_v"))
      .select(col(id), (num / lit(den)).as("projection"))
  }

  def pcaProjection(df: DataFrame, id: String, vec: String, iters: Int = 3,
                    scale: Long = 10000L): DataFrame =
    projectionFrame(df, id, vec, powerIterationInts(df, id, vec, iters, scale))

  /** Embedding near-duplicate pairs, blocked by a coarse cell id: the pair
    * search runs only inside cells (shuffle on the cell key, AQE handles
    * skewed cells), then exact quantized cosine filters at the threshold.
    */
  def cellNearDupPairs(df: DataFrame, id: String, vec: String, cell: String,
                       threshold: Double): DataFrame = {
    val p = prepare(df, id, vec)
    val a = p.select(col(cell), col(id).as("id_a"), col("q").as("qa"), col("n2").as("na"))
    val b = p.select(col(cell), col(id).as("id_b"), col("q").as("qb"), col("n2").as("nb"))
    a.join(b, Seq(cell)).filter(col("id_a") < col("id_b"))
      .select(col(cell), col("id_a"), col("id_b"),
        cosineQ(dotQ(col("qa"), col("qb")), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Cell count for a scale-adaptive SemDeDup fit: k = ceil(n / target),
    * floored at `minK`. The pinned-k form degrades quadratically on
    * scale-up (10× vectors in the same k cells → up to 100× within-cell
    * candidate pairs — the measured `semantic_dedup` sf0.1→sf1 16.3×);
    * holding the TARGET CELL SIZE constant instead keeps per-cell pair
    * volume, and therefore total candidate volume, linear in n. Pure
    * integer arithmetic on a count — deterministic for the oracle.
    */
  def cellCountFor(n: Long, target: Long, minK: Int = 8): Int =
    math.max(minK.toLong, (n + target - 1) / target).toInt

  /** A depth-d tree quantizer: `root` is the root codebook (the flat
    * argmin, [[graft.functions.NearestSubCellQ.flat]]), each deeper level a
    * `(parent, child, centroid)` table scoped by the previous level's
    * argmin ([[graft.functions.NearestSubCellQ]]). Assignment chains the
    * d argmins in ONE narrow codegen projection — n·d·f dots for f^d
    * leaves, against depth 2's n·2·√k and the flat form's n·k — for
    * k ∝ n leaf cells that is the difference between n²/target flops
    * (measured 12× on 10× data at the sf1cr→sf10cr decade) and n·d·f:
    * at a 100 TB corpus (~10^11 vectors, k = n/64 leaves) two levels read
    * ~80k dots per vector while depth-4 at fanout ~200 reads ~800 — the
    * only centroid-blocking shape that stays usable once √k itself is
    * large. Child ids are `parent·f + j` (dense per level, globally
    * unique), so the leaf id doubles as the blocking key.
    */
  final case class TreeKMeansModel(root: Seq[(Int, Seq[Long])],
                                   subLevels: Seq[Seq[(Int, Int, Seq[Long])]],
                                   id: String, vec: String) {
    def depth: Int = 1 + subLevels.size
    private[llm] def nodeCol: Column =
      subLevels.foldLeft(graft.functions.NearestSubCellQ.flat(col("q"), root): Column) {
        (parent, tbl) => graft.functions.NearestSubCellQ(col("q"), parent, tbl)
      }
    def assign(df: DataFrame): DataFrame =
      // same declared null contract as KMeansModel.assign: null vectors
      // argmin to null and the row is dropped
      prepare(df, id, vec).select(col(id), nodeCol.as("cluster"))
        .filter(col("cluster").isNotNull)
  }

  /** Depth-d grouped-Lloyd tree fit at a scale-adaptive LEAF count
    * (kTotal = [[cellCountFor]]). Level 1 is [[kmeansFit]] at fanout
    * f = ⌈kTotal^(1/d)⌉ (or `fanouts`, when given); every deeper level
    * fits ALL current nodes' f children simultaneously — each
    * grouped-Lloyd round is one corpus scan through the
    * [[graft.functions.NearestSubCellQ]] kernel (each row argmins only its
    * own node's children) plus one `(child, dim)` aggregate, exactly like
    * the flat fit's rounds but at f dots per row. This is the
    * coarse-quantizer build a 100 TB corpus needs: constant leaf occupancy
    * (so downstream pair volume stays linear, the SemDeDup requirement)
    * WITHOUT the flat auto-k fit's n·k assignment flops. Depth 2 is the
    * two-level (√k × √k) quantizer.
    *
    * Determinism: per-node mass-proportional seeding (first f distinct
    * vectors per node in scrambled-id order, 4× candidate buffer — a node
    * whose candidates hold fewer distinct vectors seeds fewer children;
    * balance degrades gracefully, exactness is unaffected), then `iters`
    * rounds with exact floor-div integer means — empty children keep their
    * centroid, so the fit is deterministic and partitioning-invariant end
    * to end and the gate oracle can replay every argmin level from the
    * captured tables. Control plane stays
    * centroid-table-sized: the per-level candidate collect is ≤ 4·f·nodes
    * rows of dim longs — the next level's own table size, never corpus
    * rows. The assigned-node column is re-checkpointed per level (the
    * iterative-plan rule: d short plans, not one deep one).
    */
  def treeFit(df: DataFrame, id: String, vec: String,
              targetCellSize: Long = 64L, depth: Int = 3, iters: Int = 3,
              fanouts: Seq[Int] = Nil): TreeKMeansModel = {
    require(depth >= 2, s"depth must be >= 2: $depth (depth 1 is kmeansFit)")
    val n = df.count()
    val kTotal = cellCountFor(n, targetCellSize)
    val fs =
      if (fanouts.nonEmpty) {
        require(fanouts.size == depth, s"fanouts.size ${fanouts.size} != depth $depth")
        require(fanouts.forall(_ >= 2),
          s"every fanout must be >= 2 (a 0/1/negative fanout fails deep inside " +
            s"k-means seeding with an obscure error): $fanouts")
        fanouts
      }
      else {
        val f = math.max(2, math.ceil(
          math.pow(kTotal.toDouble, 1.0 / depth)).toInt)
        Seq.fill(depth)(f)
      }
    require(fs.map(_.toLong).product <= Int.MaxValue / 2,
      s"leaf id space overflows int: fanouts $fs")
    val root = kmeansFit(df, id, vec, fs.head, iters).centroids

    var p = prepare(df, id, vec)
      .select(col(id), col("q"),
        graft.functions.NearestSubCellQ.flat(col("q"), root).as("node"))
      .localCheckpoint(false)
    val dim = p.select(size(col("q"))).head().getInt(0)

    val subLevels = fs.tail.zipWithIndex.map { case (f, li) =>
      // per-node mass-proportional seeding (kmeansFit's rationale, scoped
      // to the node)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("node")
        .orderBy(xxhash64(col(id)), col(id))
      val cand = p.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= f * 4)
        .select(col("node"), col("rn"), col("q"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toIndexedSeq))
      var sub: Seq[(Int, Int, Seq[Long])] = cand.groupBy(_._1).toSeq.flatMap {
        case (c, rows) =>
          val seen = scala.collection.mutable.HashSet.empty[Seq[Long]]
          rows.sortBy(_._2).iterator.map(_._3).filter(v => seen.add(v)).take(f)
            .zipWithIndex.map { case (v, j) => (c, c * f + j, v: Seq[Long]) }.toSeq
      }.sortBy(t => (t._1, t._2))

      for (_ <- 1 to iters) {
        val sums = p.select(
            graft.functions.NearestSubCellQ(col("q"), col("node"), sub).as("child"),
            posexplode(col("q")).as(Seq("dim", "x")))
          .groupBy("child", "dim")
          .agg(sum(col("x")).as("s"), count(lit(1)).as("nn"))
          .collect()
        val byChild = sums.groupBy(_.getInt(0))
        sub = sub.map { case (c, child, prev) =>
          byChild.get(child) match {
            case Some(rows) =>
              val comps = rows.map(r =>
                r.getInt(1) -> Math.floorDiv(r.getLong(2), r.getLong(3))).toMap
              (c, child, (0 until dim).map(comps))
            case None => (c, child, prev) // empty child keeps its centroid
          }
        }
      }
      // the assigned-node column only feeds the NEXT level's seeding/fit —
      // materializing it after the last level would be a dead job
      if (li < fs.tail.size - 1)
        p = p.select(col(id), col("q"),
            graft.functions.NearestSubCellQ(col("q"), col("node"), sub).as("node"))
          .localCheckpoint(false)
      sub
    }
    TreeKMeansModel(root, subLevels, id, vec)
  }

  /** A fitted product quantizer: M per-subspace codebooks over the
    * quantized vector's contiguous ds-dim slices, codes dense `0..ks−1`
    * per subspace (Jégou et al., TPAMI 2011). `encode` is ONE narrow
    * codegen'd projection — M sliced [[graft.functions.NearestSubCellQ]]
    * argmins, each scoped to its subspace's codebook (the subspace is the
    * cell) — producing the M-int code word: the STORED representation an
    * ADC scan reads instead of the raw embedding (a 64-dim float vector
    * becomes 8 ints; at 100 TB that is the difference between an ANN sweep
    * bounded by raw-vector I/O and one bounded by the code column).
    */
  final case class PqModel(codebooks: Seq[(Int, Int, Seq[Long])],
                           m: Int, ds: Int, id: String, vec: String) {
    /** The code-word column over a prepared frame's `q`. */
    private[llm] def codesCol: Column =
      array((0 until m).map { mm =>
        graft.functions.NearestSubCellQ(slice(col("q"), mm * ds + 1, ds), lit(mm), codebooks)
      }: _*)
    def encode(df: DataFrame): DataFrame =
      prepare(df, id, vec).select(col(id), codesCol.as("codes"))
  }

  /** Product-quantizer build: M independent ks-means sub-fits run
    * SIMULTANEOUSLY — each grouped-Lloyd round is one corpus scan through
    * the M sliced argmin kernels plus one `(subspace, code, sub-dim)` hash
    * aggregate (≤ m·ks·ds rows to the driver — codebook-sized control
    * plane; corpus rows never leave the executors).
    *
    * Determinism (same contract as [[kmeansFit]]): seeding takes the first
    * 4·ks vectors in `(xxhash64(id), id)` order — mass-proportional,
    * partitioning-independent — then per subspace the first ks DISTINCT
    * sub-vectors (duplicate sub-vectors seed once; a subspace with fewer
    * distinct sub-vectors seeds fewer codes — balance degrades gracefully,
    * exactness is unaffected); argmin ties break to the lower code id;
    * updates are integer floor-divided sums; empty codes keep their
    * centroid.
    */
  def pqFit(df: DataFrame, id: String, vec: String, m: Int = 8,
            ks: Int = 16, iters: Int = 3): PqModel = {
    val p = prepare(df, id, vec).select(col(id), col("q")).localCheckpoint(false)
    pqFitCore(p, id, vec, m, ks, iters)
  }

  /** The grouped-Lloyd PQ fit over an already-quantized `(id, q)` frame
    * (callers pin `p` — the fit scans it `iters + 2` times). Split out so
    * the IVF-PQ build can fit codebooks on RESIDUAL vectors.
    */
  private def pqFitCore(p: DataFrame, id: String, vec: String, m: Int,
                        ks: Int, iters: Int): PqModel = {
    val dim = p.select(size(col("q"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
    val ds = dim / m
    val cand = p
      .orderBy(xxhash64(col(id)), col(id))
      .limit(4 * ks)
      .select(col("q"))
      .collect()
      .map(_.getSeq[Long](0).toIndexedSeq)
    var codebooks: Seq[(Int, Int, Seq[Long])] = (0 until m).flatMap { mm =>
      val seen = scala.collection.mutable.HashSet.empty[IndexedSeq[Long]]
      cand.iterator.map(v => v.slice(mm * ds, mm * ds + ds))
        .filter(sv => seen.add(sv)).take(ks)
        .zipWithIndex.map { case (sv, code) => (mm, code, sv: Seq[Long]) }.toSeq
    }
    require(codebooks.nonEmpty, "empty corpus: nothing to fit")
    for (_ <- 1 to iters) {
      val model = PqModel(codebooks, m, ds, id, vec)
      val sums = p.select(model.codesCol.as("codes"),
          posexplode(col("q")).as(Seq("d", "x")))
        .select(floor(col("d") / lit(ds)).cast("int").as("mm"),
          col("codes").getItem(floor(col("d") / lit(ds)).cast("int")).as("code"),
          (col("d") % lit(ds)).as("j"), col("x"))
        .groupBy("mm", "code", "j")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("nn"))
        .collect()
      val byCode = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      codebooks = codebooks.map { case (mm, code, prev) =>
        byCode.get((mm, code)) match {
          case Some(rows) =>
            val comps = rows.map(r =>
              r.getInt(2) -> Math.floorDiv(r.getLong(3), r.getLong(4))).toMap
            (mm, code, (0 until ds).map(comps))
          case None => (mm, code, prev) // empty code keeps its centroid
        }
      }
    }
    PqModel(codebooks, m, ds, id, vec)
  }

  /** ADC top-k over a PQ-coded corpus: broadcast the (small) query set at
    * full quantized precision against the CODES frame — the corpus side of
    * the scan reads only the M-int code word, never the embedding column
    * (plan-asserted in `PipelineOpsSpec`: the PQ promise in a columnar
    * engine). Distances are exact integers ([[graft.functions.PqAdcQ]]),
    * per-query heaps via WindowGroupLimit, ties break on the lower
    * neighbor id — deterministic and oracle-replayable. Operating
    * envelope: query frame ≤ broadcast threshold; beyond it, drive through
    * [[chunkedQueries]].
    */
  def pqTopK(codes: DataFrame, queries: DataFrame, id: String, vec: String,
             model: PqModel, k: Int): DataFrame = {
    val c = codes.select(col(id).as("nn_id"), col("codes"))
    val q = prepare(queries, id, vec)
      .select(col(id).as("query_id"), col("q").as("qq"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        graft.functions.PqAdcQ(col("qq"), col("codes"), model.codebooks).as("adc_dist"))
    Relational.topKPerGroup(scored, Seq("query_id"),
      Seq(col("adc_dist").asc, col("nn_id").asc), k)
  }

  /** Brute-force EXACT squared-L2 top-k (the ANN ground truth): same
    * broadcast-queries narrow-pass shape as [[cosineTopK]], but ranking by
    * the exact integer distance `n2q − 2·dot + n2c` — directly comparable
    * to the ADC approximations, which estimate this same quantity from
    * the code-word reconstruction. Operating envelope: query frame ≤
    * broadcast threshold; beyond it, drive through [[chunkedQueries]].
    */
  def l2TopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
             k: Int): DataFrame = {
    val c = prepare(corpus, id, vec)
      .select(col(id).as("nn_id"), col("q").as("cq"), col("n2").as("cn2"))
    val q = prepare(queries, id, vec)
      .select(col(id).as("query_id"), col("q").as("qq"), col("n2").as("qn2"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        (col("qn2") - lit(2L) * dotQ(col("qq"), col("cq")) + col("cn2")).as("l2_dist"))
    Relational.topKPerGroup(scored, Seq("query_id"),
      Seq(col("l2_dist").asc, col("nn_id").asc), k)
  }

  /** Recall of an approximate top-k against the exact one: per query, how
    * many of the approximate neighbors are true neighbors. The eval every
    * ANN index build needs before it ships — and the honest form: queries
    * the approximate pass missed entirely still appear, with `n_hits` 0.
    * Both inputs are `(query_id, nn_id, …)` ranking frames.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hits = approx.select("query_id", "nn_id")
      .join(exact.select("query_id", "nn_id"), Seq("query_id", "nn_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("n_hits"))
  }

  /** A fitted IVF-PQ index (faiss's serving shape, with the inverted-
    * multi-index twist): a depth-d [[TreeKMeansModel]] is the coarse
    * quantizer — corpus-side leaf assignment costs n·d·f dots (f =
    * per-level fanout) instead of the flat n·k = n²/target that the
    * sf1→sf10 decade measured at 38× on 10× data — plus PQ codebooks
    * fitted on the RESIDUALS `q − c[leaf]`, so the codebooks spend their
    * resolution on the within-leaf geometry. The stored artifact per
    * vector is `(leaf, M-int code word)`; a probe-p query touches only p
    * leaves' code lists and scores them in the compressed domain. Depth
    * only changes corpus-side leaf routing: a deeper tree mis-routes more
    * boundary vectors, which is a RECALL cost, not a correctness cost —
    * `ann_recall` scores depth 2 and depth 3 against the exact-L2 ground
    * truth next to flat PQ.
    */
  final case class TreeIvfPqModel(tree: TreeKMeansModel, pq: PqModel,
                                  id: String, vec: String) {
    def leaves: Seq[(Int, Seq[Long])] =
      tree.subLevels.last.map { case (_, leaf, cq) => (leaf, cq) }

    /** Dense leaf-centroid table for [[graft.functions.ResidualQ]]: leaf
      * ids are `parent·f + j`, so a node that seeded fewer than f children
      * leaves gaps — filled with zero placeholders that no argmin can ever
      * produce (they are not in the last level's table), purely to satisfy
      * the dense-indexing contract.
      */
    private[llm] def leafTable: Seq[(Int, Seq[Long])] = {
      val dim = leaves.head._2.length
      val byLeaf = leaves.toMap
      (0 to leaves.map(_._1).max).map(l =>
        (l, byLeaf.getOrElse(l, Seq.fill(dim)(0L))))
    }

    /** `(id, cell, codes)` — one narrow codegen'd projection chaining the
      * d tree argmins → residual → M sliced code argmins.
      */
    def encode(df: DataFrame): DataFrame =
      prepare(df, id, vec)
        .select(col(id), tree.nodeCol.as("cell"), col("q"))
        .filter(col("cell").isNotNull)
        .withColumn("q", graft.functions.ResidualQ(col("q"), col("cell"), leafTable))
        .select(col(id), col("cell"), pq.codesCol.as("codes"))

    /** ADC top-k over the coded corpus: each query ranks ALL real leaves
      * exactly (queries are the small broadcast side — k dots per query is
      * nothing there) and probes its `probes` nearest; its residual is
      * taken AGAINST EACH PROBED LEAF, and only that leaf's code list is
      * scored ([[graft.functions.PqAdcQ]] over the residual). Each corpus
      * vector lives in exactly one leaf, so no duplicate results.
      * Operating envelope: the probed query frame (queries × probes rows)
      * must fit the broadcast threshold; beyond it, drive through
      * [[chunkedQueries]].
      */
    def topK(codes: DataFrame, queries: DataFrame, probes: Int, k: Int): DataFrame = {
      val q = prepare(queries, id, vec)
      val probed = q.join(KMeansModel(leaves, id, vec).assignTop(q, probes), Seq(id))
        .select(col(id).as("query_id"), col("cluster").as("cell"),
          graft.functions.ResidualQ(col("q"), col("cluster"), leafTable).as("rq"))
      val scored = codes
        .select(col(id).as("nn_id"), col("cell"), col("codes"))
        .join(broadcast(probed), Seq("cell"))
        .filter(col("nn_id") =!= col("query_id"))
        .select(col("query_id"), col("nn_id"),
          graft.functions.PqAdcQ(col("rq"), col("codes"), pq.codebooks).as("adc_dist"))
      Relational.topKPerGroup(scored, Seq("query_id"),
        Seq(col("adc_dist").asc, col("nn_id").asc), k)
    }
  }

  /** IVF-PQ build: [[treeFit]] (leaf count k ∝ n at constant occupancy,
    * reached in d argmin levels), then [[pqFitCore]] on the pinned
    * residual frame — all fits are the deterministic integer pipelines, so
    * the whole index replays exactly in the oracle. Control plane stays
    * codebook-sized; corpus rows never reach the driver.
    */
  def treeIvfPqFit(df: DataFrame, id: String, vec: String,
                   targetCellSize: Long = 64L, depth: Int = 3, m: Int = 8,
                   ks: Int = 16, iters: Int = 3,
                   fanouts: Seq[Int] = Nil): TreeIvfPqModel = {
    val p = prepare(df, id, vec)
    val tree = treeFit(p, id, vec, targetCellSize, depth, iters, fanouts)
    val stub = TreeIvfPqModel(tree, null, id, vec) // leafTable/nodeCol only
    val r = p
      .select(col(id), tree.nodeCol.as("cell"), col("q"))
      .filter(col("cell").isNotNull)
      .select(col(id),
        graft.functions.ResidualQ(col("q"), col("cell"), stub.leafTable).as("q"))
      .localCheckpoint(false)
    TreeIvfPqModel(tree, pqFitCore(r, id, vec, m, ks, iters), id, vec)
  }

  /** Semantic dedup (the SemDeDup recipe): inside each cell, drop every
    * vector that has a lower-id neighbor above the cosine threshold —
    * near-identical embeddings collapse to their minimum-id representative.
    * Returns one row per input vector: `(id, cell, dup_of, is_kept)` where
    * `dup_of` is the minimum such neighbor (NULL for keepers). Built on
    * [[cellNearDupPairs]], so the pair search never leaves a cell; the drop
    * decision is one aggregate on the pair frame (tiny next to the corpus)
    * plus a left join back — no collect, no all-pairs.
    */
  def semanticDedup(df: DataFrame, id: String, vec: String, cell: String,
                    threshold: Double): DataFrame = {
    val dupOf = cellNearDupPairs(df, id, vec, cell, threshold)
      .groupBy(col("id_b").as(id))
      .agg(min(col("id_a")).as("dup_of"))
    df.select(col(id), col(cell))
      .join(dupOf, Seq(id), "left")
      .select(col(id), col(cell), col("dup_of"), col("dup_of").isNull.as("is_kept"))
  }
}
