package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.llm.{Curation, Dedup, Similarity, SpecForms, TextOps}

/** Cross-validation and property checks for the LLM-pipeline operators. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sf).documents.limit(60).cache()

  test("relational simHashAgg equals the column-level simHash") {
    val viaAgg = TextOps.simHashAgg(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCol = docs.select(col("doc_id"), SpecForms.simHash(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg === viaCol)
  }

  test("relational rollingHashAgg equals the fold-based rollingHash") {
    val viaAgg = TextOps.rollingHashAgg(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFold = docs.select(col("doc_id"), SpecForms.rollingHash(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg === viaFold)
  }

  test("relational shingleRows equals the array-level shingles") {
    val viaRows = Dedup.shingleRows(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaArr = docs.select(col("doc_id"), explode(Dedup.shingles(col("text"))))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaRows === viaArr)
  }

  test("identical texts get identical minhash signatures and jaccard 1.0") {
    val df = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "x y z w v u t"))
      .toDF("doc_id", "text")
    val sig = SpecForms.minhashSignatures(Dedup.shingleRows(df, "doc_id", "text"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(3L))
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text", 0.9).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      === Seq((1L, 2L, 1.0)))
  }

  test("nearDupPairs finds the seeded near-dups, all above threshold") {
    val all = Tables(spark, sf).documents
    val pairs = Dedup.nearDupPairs(all, "doc_id", "text", 0.8).collect()
    assert(pairs.nonEmpty, "testdata seeds near-duplicate documents")
    assert(pairs.forall(_.getDouble(2) >= 0.8))
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    // dedup drops exactly the distinct higher ids
    val losers = pairs.map(_.getLong(1)).distinct.length
    assert(Dedup.dropNearDups(all, "doc_id", "text", 0.8).count() === all.count() - losers)
  }

  test("tfIdfTopTerms ranks distinctive terms above ubiquitous ones") {
    val df = Seq(
      (1L, "apple apple common"),
      (2L, "banana common common"),
      (3L, "cherry common"),
    ).toDF("doc_id", "text")
    val top = TextOps.tfIdfTopTerms(df, "doc_id", "text", 1)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // 'common' appears in every doc (df=3, idf=1); each fruit is unique (idf=3)
    assert(top(1L) === (("apple", 2L, 1L)))
    assert(top(2L) === (("banana", 1L, 1L)))
    assert(top(3L) === (("cherry", 1L, 1L)))
    // k larger than vocabulary: every (doc, term) pair appears exactly once
    val all = TextOps.tfIdfTopTerms(df, "doc_id", "text", 100)
    assert(all.count() === all.select("doc_id", "term").distinct().count())
  }

  test("prefixFilterPairs equals brute-force Jaccard at thresholds below LSH range") {
    val docs = Tables(spark, sf).documents
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    // brute force over all pairs via the array-level shingles (small SF only)
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("s"))
      .filter(size(col("s")) > 0)
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.jaccard(col("a.s"), col("b.s")).as("j"))
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val exact = Dedup.prefixFilterPairs(docs, "doc_id", "text", t)
        .collect().map(key).toSet
      val expected = brute.filter(col("j") >= t).collect().map(key).toSet
      assert(exact === expected, s"threshold $t")
    }
  }

  test("containmentPairs equals brute-force directional containment") {
    val docs = Tables(spark, sf).documents
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("s"))
      .filter(size(col("s")) > 0)
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
          size(col("a.s"))).as("c"))
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val expected = brute.filter(col("c") >= t).collect().map(key).toSet
      // the k-prefix filter is a complete candidate generator at every k
      for (k <- Seq(1, 2, 4)) {
        val exact = Dedup.containmentPairs(docs, "doc_id", "text", t, kPrefix = k)
          .collect().map(key).toSet
        assert(exact === expected, s"threshold $t kPrefix $k")
      }
    }
  }

  test("containmentPairs hot-shingle guard equals brute force on a boilerplate-saturated corpus") {
    // every doc carries the same 12-token boilerplate footer, so each
    // footer shingle has df = corpus size; docs 61-80 are PURE boilerplate,
    // which puts the over-cap shingles inside their prefixes — the exact
    // degenerate shape the df-cap guard exists for. dfCap=4 forces every
    // footer shingle down the salted hot branch.
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val docs = ((1 to 60).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i}d $boiler")) ++
      (61 to 80).map(i => (i.toLong, boiler))).toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("s"))
      .filter(size(col("s")) > 0)
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
          size(col("a.s"))).as("c"))
    for (t <- Seq(0.5, 0.9)) {
      val expected = brute.filter(col("c") >= t).collect().map(key).toSet
      val guarded = Dedup.containmentPairs(docs, "doc_id", "text", t,
        dfCap = 4, salts = 4).collect().map(key).toSet
      assert(guarded === expected, s"threshold $t (hot path)")
      // and the guard engaging changes nothing vs the all-cold default
      val cold = Dedup.containmentPairs(docs, "doc_id", "text", t)
        .collect().map(key).toSet
      assert(cold === expected, s"threshold $t (cold path)")
    }
  }

  test("containmentPairs flags an excerpt that symmetric Jaccard misses") {
    // doc 2 is a verbatim 6-token excerpt of the 40-token doc 1:
    // containment(2→1) = 1.0 but Jaccard ≈ 4/38 — invisible to any
    // useful symmetric threshold.
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (10 to 15).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, long), (2L, excerpt), (3L, "totally unrelated words entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((2L, 1L, 1.0)))
    assert(Dedup.prefixFilterPairs(df, "doc_id", "text", 0.5).count() === 0)
  }

  test("alternating CC equals union-find on random graphs, and squashes chains in few rounds") {
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map((1L to n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (1L to n.toLong).map(i => i -> find(i)).toMap
    }
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 6) {
      val n = 30
      val edges = (1 to 10 + rng.nextInt(30)).map { _ =>
        (1L + rng.nextInt(n), 1L + rng.nextInt(n))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val (roots, _) = graft.llm.Dedup.ccAlternatingWithRounds(
          edges.toDF("id_a", "id_b"), 30)
        val got = roots.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = unionFind(n, edges).filter { case (k, v) => k != v }
        assert(got === want, s"trial $trial edges $edges")
      }
    }
    // a 60-node chain: diameter 59, min-label propagation would need ~59
    // rounds; the alternating form squashes it in O(log^2)
    val chain = (1L until 60L).map(i => (i, i + 1))
    val (roots, rounds) = graft.llm.Dedup.ccAlternatingWithRounds(
      chain.toDF("id_a", "id_b"), 30)
    assert(roots.collect().forall(_.getLong(1) == 1L), "chain collapses to min")
    assert(rounds <= 8, s"logarithmic convergence, got $rounds rounds")
  }

  test("dupClusters propagates the minimum id through chains") {
    // 1~2, 2~3 (chain), 5~6, 9 isolated: components {1,2,3}, {5,6}, {9}.
    // Near-dups differ by one token over 20 (jaccard ~0.85, inside the
    // banding design point); 1 and 3 differ in two tokens and only connect
    // through 2.
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    def variant(tok: Int, repl: String) =
      (1 to 20).map(i => if (i == tok) repl else s"w$i").mkString(" ")
    val df = Seq(
      (1L, variant(1, "x1")), (2L, base), (3L, variant(20, "x2")),
      (5L, (1 to 20).map(i => s"p$i").mkString(" ")),
      (6L, (1 to 20).map(i => if (i == 20) "pz" else s"p$i").mkString(" ")),
      (9L, "completely different words here now")).toDF("doc_id", "text")
    val m = Dedup.dupClusters(df, "doc_id", "text", 0.6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === 1L && m(2L) === 1L && m(3L) === 1L)
    assert(m(5L) === 5L && m(6L) === 5L)
    assert(m(9L) === 9L)
  }

  test("dupClusters fails loudly when maxIter cannot reach convergence") {
    // three mutual near-dups: the edge 3~2 is not yet a star onto the
    // minimum, so round 1 rewrites the edge frame and only round 2 can
    // confirm the fixpoint; maxIter=1 must throw rather than silently
    // return unconverged labels
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, base + " extra"), (3L, base + " more"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.dupClusters(df, "doc_id", "text", 0.6, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("not converged"))
  }

  test("exactDedupMap assigns the minimum id as canonical per fingerprint") {
    val df = Seq((10L, "same text"), (7L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val m = Dedup.exactDedupMap(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(m(7L) === ((7L, false)) && m(10L) === ((7L, true)) && m(3L) === ((3L, false)))
  }

  test("quantized cosine matches exact double cosine to 1e-5") {
    val emb = Tables(spark, sf).embeddings.limit(20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def exact(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val spark2 = spark; import spark2.implicits._
    val df = emb.toSeq.toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(df, df.filter(col("vec_id") === 0L), "vec_id", "embedding", 5)
      .collect()
    val lookup = emb.toMap
    top.foreach { r =>
      val e = exact(lookup(0L), lookup(r.getLong(1)))
      assert(math.abs(r.getDouble(2) - e) < 1e-5,
        s"quantized ${r.getDouble(2)} vs exact $e")
    }
  }

  test("ivfTopK results are a same-cell subset with correct k") {
    val t = Tables(spark, sf)
    val q = t.embeddings.filter(col("vec_id") < 3)
    val res = Similarity.ivfTopK(t.embeddings, q, "vec_id", "embedding", "label", 4)
    val labels = t.embeddings.select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = res.collect()
    assert(rows.groupBy(_.getLong(0)).values.forall(_.length <= 4))
    rows.foreach(r => assert(labels(r.getLong(0)) === labels(r.getLong(1)),
      "IVF candidates come from the query's cell"))
  }

  test("kmeansFit recovers well-separated clusters deterministically") {
    // three tight clusters far apart; members must co-assign
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]): Seq[Float] =
      base.map(x => x + rnd.nextFloat() * 0.01f).toSeq
    val b1 = Array.fill(8)(10.0f); val b2 = Array.fill(8)(-10.0f)
    val b3 = Array.tabulate(8)(i => if (i % 2 == 0) 10.0f else -10.0f)
    val rows = (0 until 5).map(i => (i.toLong, jitter(b1))) ++
      (5 until 10).map(i => (i.toLong, jitter(b2))) ++
      (10 until 15).map(i => (i.toLong, jitter(b3)))
    val df = rows.toDF("vec_id", "embedding")
    def fitAssign() = Similarity.kmeansFit(df, "vec_id", "embedding", k = 3, iters = 4)
      .assign(df).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val once = fitAssign()
    val again = fitAssign()
    assert(once === again, "integer k-means is run-deterministic")
    def clusterOf(ids: Seq[Long]) = ids.map(once).distinct
    assert(clusterOf(0L until 5L).length === 1)
    assert(clusterOf(5L until 10L).length === 1)
    assert(clusterOf(10L until 15L).length === 1)
    assert(Seq(once(0L), once(5L), once(10L)).distinct.length === 3)
  }

  test("single-probe IVF searches inside fitted k-means cells end-to-end") {
    val t = Tables(spark, sf)
    val q = t.embeddings.filter(col("vec_id") < 3)
    val res = Similarity.ivfTopKMultiProbe(t.embeddings, q, "vec_id", "embedding",
      k = 5, cells = 4, probes = 1, iters = 2)
    val rows = res.collect()
    assert(rows.nonEmpty)
    assert(rows.groupBy(_.getLong(0)).values.forall(_.length <= 5))
    val model = Similarity.kmeansFit(t.embeddings, "vec_id", "embedding", 4, 2)
    val cellOf = model.assign(t.embeddings).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach(r => assert(cellOf(r.getLong(0)) === cellOf(r.getLong(1)),
      "results come from the query's fitted cell"))
  }

  test("multi-probe IVF: full width equals brute force, more probes never hurt") {
    val t = Tables(spark, sf)
    val q = t.embeddings.filter(col("vec_id") < 3)
    def run(probes: Int) =
      Similarity.ivfTopKMultiProbe(t.embeddings, q, "vec_id", "embedding",
          k = 5, cells = 4, probes = probes, iters = 2)
        .orderBy("query_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val brute = Similarity.cosineTopK(t.embeddings, q, "vec_id", "embedding", 5)
      .orderBy("query_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(run(4).toSeq === brute.toSeq, "probing every cell is exact")
    def best(rows: Array[(Long, Long, Double)]) =
      rows.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    val b1 = best(run(1)); val b2 = best(run(2))
    b2.foreach { case (qid, c2) => assert(c2 >= b1(qid) - 1e-12,
      s"query $qid: widening probes lowered the best cosine") }
  }

  test("cellNearDupPairs stays exact when one cell holds nearly everything") {
    // degenerate skew: 28 of 32 vectors in one cell — the within-cell
    // O(cell^2) case the scale notes flag; results must match an
    // unblocked all-pairs reference on the same threshold
    val rnd = new scala.util.Random(5)
    val rows = (0 until 32).map { i =>
      val cell = if (i < 28) 0 else 1 + i % 3
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1f), cell)
    }
    val df = rows.toDF("vec_id", "embedding", "cell")
    val got = Similarity.cellNearDupPairs(df, "vec_id", "embedding", "cell", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: brute-force pairs within the same cell via the exact
    // quantized cosine, computed driver-side
    def quant(v: Seq[Float]) = v.map(x => math.floor(x.toDouble * Similarity.QScale).toLong)
    def cos(a: Seq[Long], b: Seq[Long]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      dot / (math.sqrt(a.map(x => x * x).sum.toDouble) * math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val expect = (for {
      (ia, va, ca) <- rows; (ib, vb, cb) <- rows
      if ia < ib && ca == cb && cos(quant(va), quant(vb)) >= 0.5
    } yield (ia, ib)).toSet
    assert(got === expect)
  }

  test("curateResumable short-circuits to persisted stage outputs") {
    val docs = Tables(spark, sf).documents
    val dir = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val first = Curation.curateResumable(docs, "doc_id", "text", dir)
      .orderBy("doc_id").collect()
    assert(first.nonEmpty)
    // a re-run with EMPTY input returns the same rows: every stage resumes
    val again = Curation.curateResumable(docs.limit(0), "doc_id", "text", dir)
      .orderBy("doc_id").collect()
    assert(again.toSeq === first.toSeq)
    // dropping the final stage recomputes it from the persisted near_dedup
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(new java.io.File(s"$dir/quality_gate"))
    val resumed = Curation.curateResumable(docs.limit(0), "doc_id", "text", dir)
      .orderBy("doc_id").collect()
    assert(resumed.toSeq === first.toSeq)
    // a stageDir persisted under DIFFERENT thresholds must fail fast, not
    // silently return stages built under the old ones
    // (through the Hadoop FS, so its checksum sidecar is rewritten too)
    val marker = new org.apache.hadoop.fs.Path(dir, "_params")
    val out = marker.getFileSystem(spark.sparkContext.hadoopConfiguration).create(marker, true)
    try out.write("minTokens=20,minQuality=0.9,nearDupJaccard=0.8".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalArgumentException] {
      Curation.curateResumable(docs, "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("use a fresh dir"))
  }

  test("langId picks the profile with most marker hits, und when none") {
    val df = Seq(
      (1L, "the cat is on the mat and it is fine"),
      (2L, "le chat est sur la table et il est la"),
      (3L, "zqx bvw qpr")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextOps.langId(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "en", 2L -> "fr", 3L -> "und"))
  }

  test("bandingFor picks the sharpest banding meeting the recall floor") {
    // the library default at its own threshold
    assert(Dedup.bandingFor(0.8) === ((16, 4)))
    // higher thresholds afford sharper bands (fewer candidates)
    val (_, r95) = Dedup.bandingFor(0.95)
    assert(r95 >= 4)
    // every returned banding meets the floor at its threshold
    Seq(0.7, 0.8, 0.9, 0.95).foreach { t =>
      val (b, r) = Dedup.bandingFor(t)
      assert(b * r === Dedup.K && Dedup.bandingRecall(b, r, t) >= 0.999)
    }
  }

  test("funnel reports a monotone survivor funnel") {
    val stats = Curation.funnel(Tables(spark, sf).documents, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats("input") === 500)
    assert(stats("exact_dedup") <= stats("input"))
    assert(stats("near_dedup") < stats("exact_dedup"), "seeded near-dups dropped")
    assert(stats("quality_gate") <= stats("near_dedup") && stats("quality_gate") > 0)
  }

  test("curate's rows are exactly exitStages' survivors, counted by funnel's quality_gate") {
    val docs = Tables(spark, sf).documents
    val survivors = Curation.exitStages(docs, "doc_id", "text")
      .filter(col("exit_stage") === "survivor")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val gate = Curation.funnel(docs, "doc_id", "text")
      .filter(col("stage") === "quality_gate").head().getLong(1)
    assert(survivors.length.toLong === gate)
    val direct = Curation.curate(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq === direct.toSeq)
  }

  test("bpeEncodeStatsFromMerges equals the re-training encode") {
    val sample = Tables(spark, sf).documents.limit(80)
    val merges = TextOps.bpeTrainTable(sample, "doc_id", "text", 3)
      .map { case (_, a, b, _) => (a, b) }
    val viaFit = SpecForms.bpeEncodeStatsFromMerges(sample, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = TextOps.bpeEncodeStats(sample, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaFit === direct)
  }

  test("labelPurity reports exact plurality shares with lower-label ties") {
    // cluster 0: labels 1,1,2 → top 1 (2/3); cluster 1: 3,4 tie → lower
    // label 3 wins (1/2)
    val assigned = Seq((0L, 0), (1L, 0), (2L, 0), (3L, 1), (4L, 1))
      .toDF("vec_id", "cluster")
    val labels = Seq((0L, 1), (1L, 1), (2L, 2), (3L, 4), (4L, 3))
      .toDF("vec_id", "label")
    val rows = Similarity.labelPurity(assigned, labels, "vec_id", "label")
      .orderBy("cluster").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.toSeq === Seq(
      (0, 3L, 2L, 1, 2L, 2.0 / 3.0),
      (1, 2L, 2L, 3, 1L, 0.5)))
  }

  test("covariance matches the hand-computed moments on a tiny matrix") {
    // 2-dim vectors (1,2),(3,4),(5,12): exact population covariance
    // cov(0,0)=8/3·… computed from the same quantized integers
    val df = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 4.0f)), (2L, Seq(5.0f, 12.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.covariance(df, "vec_id", "embedding")
      .orderBy("i", "j").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2).toInt -> r.getDouble(3)))
      .toMap
    val s = Similarity.QScale.toDouble
    def q(x: Double) = math.floor(x * s)
    val xs = Seq(q(1), q(3), q(5)); val ys = Seq(q(2), q(4), q(12))
    def cov(a: Seq[Double], b: Seq[Double]) = {
      val n = 3.0
      (a.zip(b).map { case (x, y) => x * y }.sum / n -
        (a.sum / n) * (b.sum / n)) / (s * s)
    }
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9
    assert(close(got((0, 0))._2, cov(xs, xs)))
    assert(close(got((0, 1))._2, cov(xs, ys)))
    assert(close(got((1, 1))._2, cov(ys, ys)))
    assert(got.keySet === Set((0, 0), (0, 1), (1, 1)), "upper triangle only")
    assert(got((0, 1))._1 === 3, "n_vecs carried per pair")
  }

  test("dupSpans merges duplicated windows into maximal spans") {
    val df = Seq(
      (1L, "x1 x2 a b c d e y1 y2"), // shared run a..e at positions 3-7
      (2L, "z1 a b c d e z2 z3"),    // shared run at positions 2-6
      (3L, "p q r s t u v w")        // no repeated 3-window anywhere
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(df, "doc_id", "text", 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    // windows "a b c","b c d","c d e" each occur twice -> one span per doc
    assert(spans === Set((1L, 1L, 3L, 7L, 5L, 3L), (2L, 1L, 2L, 6L, 5L, 3L)))
  }

  test("dupSpans: touching windows merge, separated windows split") {
    val df = Seq(
      (1L, "a b c d e f"),             // dup windows at 1 and 4 touch -> one span
      (2L, "a b c x y z"),             // donor of "a b c"
      (3L, "q w e d e f"),             // donor of "d e f"
      (4L, "a b c g1 g2 g3 g4 d e f")  // dup windows at 1 and 8 separate -> two spans
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpans(df, "doc_id", "text", 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got((1L, 1L)) === ((1L, 6L)), "[1,3] and [4,6] are contiguous coverage")
    assert(got((4L, 1L)) === ((1L, 3L)))
    assert(got((4L, 2L)) === ((8L, 10L)))
  }

  test("winnowedDupSpans catches a shifted copy that fixed-boundary dupPassages misses") {
    // the same 16-token passage embedded at DIFFERENT offsets in different
    // contexts: no size-8/stride-8 chunk boundary lines up, so dupPassages
    // fingerprints no identical chunk (the alignment defect this operator
    // exists for); winnowing guarantees detection at >= w + k - 1 = 6 tokens
    val passage = (1 to 16).map(i => s"p$i").mkString(" ")
    val df = Seq(
      (1L, s"a1 a2 a3 $passage b1 b2"), // passage at token positions 4..19
      (2L, s"c1 $passage d1 d2 d3 d4 d5") // passage at token positions 2..17
    ).toDF("doc_id", "text")
    assert(Dedup.dupPassages(df, "doc_id", "text", 8, 8).isEmpty,
      "fixed-boundary chunks must miss the shifted copy (the documented defect)")
    val spans = Dedup.winnowedDupSpans(df, "doc_id", "text", 4, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val regions = Map(1L -> (4L, 19L), 2L -> (2L, 17L))
    assert(spans.map(_._1).toSet === Set(1L, 2L),
      "both occurrences of the shifted passage must report a span")
    spans.foreach { case (id, s, e) =>
      val (rs, re) = regions(id)
      assert(rs <= s && e <= re,
        s"span ($id,$s,$e) outside the true copied region [$rs,$re]: only " +
          "in-passage k-grams can repeat across these docs")
    }
  }

  test("winnowedDupSpans spans are contained in the full stride-1 dupSpans spans") {
    // selected duplicated fingerprints are a subset of all duplicated
    // k-windows, and full spans merge touching coverage maximally — so
    // every winnowed span must sit inside some full-resolution span
    val run1 = (1 to 12).map(i => s"r$i").mkString(" ")
    val run2 = (1 to 9).map(i => s"s$i").mkString(" ")
    val df = Seq(
      (1L, s"u1 u2 $run1 u3 u4 u5 $run2 u6"),
      (2L, s"v1 $run1 v2 v3"),
      (3L, s"w1 w2 w3 w4 $run2 w5 w6 w7 w8"),
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")
    ).toDF("doc_id", "text")
    val full = Dedup.dupSpans(df, "doc_id", "text", 5).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val win = Dedup.winnowedDupSpans(df, "doc_id", "text", 5, 4).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // both shared runs clear the w + k - 1 = 8-token guarantee, in every doc
    assert(win.map(_._1).toSet === Set(1L, 2L, 3L), "doc 4 shares nothing")
    win.foreach { case (id, s, e) =>
      assert(full.exists { case (fid, fs, fe) => fid == id && fs <= s && e <= fe },
        s"winnowed span ($id,$s,$e) outside every full span")
    }
  }

  test("winnowedDupSpans detection guarantee holds across shift offsets") {
    // one 10-token passage planted at every offset 0..6 in otherwise-unique
    // docs: length 10 >= w + k - 1 = 10, so EVERY doc must report a span
    // overlapping its planted region, wherever the copy sits
    val k = 7; val w = 4
    val passage = (1 to 10).map(i => s"g$i").mkString(" ")
    val rows = (0 to 6).map { off =>
      val pre = (1 to off).map(i => s"u${off}_$i")
      val post = (1 to (8 - off)).map(i => s"z${off}_$i")
      (off.toLong + 1L, (pre ++ Seq(passage) ++ post).mkString(" "),
        off + 1L, off + 10L) // region start/end, 1-based
    }
    val df = rows.map { case (id, text, _, _) => (id, text) }.toDF("doc_id", "text")
    val spans = Dedup.winnowedDupSpans(df, "doc_id", "text", k, w).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    rows.foreach { case (id, _, rs, re) =>
      assert(spans.exists { case (sid, s, e) => sid == id && s <= re && rs <= e },
        s"doc $id (offset ${id - 1}) must report a span overlapping [$rs,$re]")
    }
  }

  test("spanDecontam flags the leaked span wherever the copy sits, never clean docs") {
    // a 12-token eval item quoted at DIFFERENT offsets in two corpus docs
    // (length 12 >= w + k - 1 = 6): both must report a span inside the
    // true leaked region; the clean doc must not appear at all. Matching
    // fingerprints can only be in-passage k-grams (boundary grams carry
    // each side's own context), so spans cannot bleed past the quote.
    val evalItem = (1 to 12).map(i => s"e$i").mkString(" ")
    val bench = Seq((100L, s"bq1 $evalItem bq2")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"a1 a2 a3 $evalItem a4"), // leak at token positions 4..15
      (2L, s"$evalItem b1 b2 b3 b4 b5 b6"), // leak at token positions 1..12
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15") // clean
    ).toDF("doc_id", "text")
    val spans = Dedup.spanDecontam(corpus, bench, "doc_id", "text", 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(spans.map(_._1).toSet === Set(1L, 2L), "both leaks, no clean doc")
    val regions = Map(1L -> (4L, 15L), 2L -> (1L, 12L))
    spans.foreach { case (id, s, e) =>
      val (rs, re) = regions(id)
      assert(rs <= s && e <= re, s"span ($id,$s,$e) outside leak [$rs,$re]")
    }
  }

  test("dupSpanWindows equals brute-force window counting on the fixture") {
    val k = 5
    val texts = docs.select(col("doc_id"), TextOps.normText(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val counts = scala.collection.mutable.Map.empty[Seq[String], Int]
    for ((_, w) <- texts; i <- 0 to w.length - k)
      counts(w.slice(i, i + k)) = counts.getOrElse(w.slice(i, i + k), 0) + 1
    val expect = (for {
      (id, w) <- texts.toSeq; i <- 0 to w.length - k
      win = w.slice(i, i + k) if counts(win) > 1
    } yield (id, i + 1L, i + k.toLong, counts(win).toLong)).toSet
    val got = Dedup.dupSpanWindows(docs, "doc_id", "text", k).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")), r.getLong(r.fieldIndex("start")),
        r.getLong(r.fieldIndex("end")), r.getLong(r.fieldIndex("n_occ")))).toSet
    assert(got === expect)
  }

  test("dupSpanCoverage: full-coverage self-repetition and zero-coverage docs") {
    val df = Seq(
      (1L, "m n o m n o m n o"), // every 3-window repeats within the doc
      (2L, "a b c d e f g h")
    ).toDF("doc_id", "text")
    val cov = Dedup.dupSpanCoverage(df, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(cov(1L) === ((9L, 1L, 9L, 1.0)), "one span covering the whole doc")
    assert(cov(2L) === ((8L, 0L, 0L, 0.0)))
  }

  test("bpeEncodeStats: hand-computed run-parity merges") {
    val df = Seq((1L, "a a a a"), (2L, "a a b")).toDF("doc_id", "text")
    // round 1 argmax pair is (a,a) n=4; run-parity merge: doc1 4 a's -> 2
    // merges ("aa aa"), doc2 run of 2 -> 1 merge ("aa b")
    val got = TextOps.bpeEncodeStats(df, "doc_id", "text", 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(got(1L) === ((4L, 2L, 2L, 2.0)))
    assert(got(2L) === ((3L, 2L, 1L, 1.5)))
  }

  test("bpeEncodeStats: compression is monotone in rounds on the fixture") {
    val sample = docs.limit(20)
    val r1 = TextOps.bpeEncodeStats(sample, "doc_id", "text", 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val r3 = TextOps.bpeEncodeStats(sample, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    for ((id, (raw, bpe3)) <- r3) {
      assert(bpe3 <= r1(id), s"doc $id: more rounds cannot grow the encoding")
      assert(bpe3 >= 1L && raw >= bpe3)
    }
  }

  test("countMinBounds matches a scala-side count-min replay") {
    val df = Seq((1L, "w x w y"), (2L, "w z z q"), (3L, "x x r s")).toDF("doc_id", "text")
    val width = 4
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(i: Int, t: String) =
      java.lang.Long.parseLong(md5hex(t).substring(7 * i, 7 * i + 7), 16) % width
    val counts = Map("w" -> 3L, "x" -> 3L, "z" -> 2L, "y" -> 1L, "q" -> 1L, "r" -> 1L, "s" -> 1L)
    val sketch = (for (i <- 0 until 2; (t, n) <- counts.toSeq)
      yield ((i, bucket(i, t)), n)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val est = counts.map { case (t, _) => t -> (0 until 2).map(i => sketch((i, bucket(i, t)))).min }
    val got = TextOps.countMinBounds(df, "doc_id", "text", 2, width, 7).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === counts.keySet)
    for ((t, (nExact, nEst)) <- got) {
      assert(nExact === counts(t))
      assert(nEst === est(t), s"term $t")
      assert(nEst >= nExact, "count-min never undercounts")
    }
  }

  test("countMinBounds on the fixture: no undercount; wide sketch is near-exact") {
    val rows = TextOps.countMinBounds(docs, "doc_id", "text", 4, 1 << 26, 12).collect()
    assert(rows.length === 12)
    assert(rows.forall(r => r.getLong(2) === r.getLong(1)), "2^26 cells: collision-free head")
    val narrow = TextOps.countMinBounds(docs, "doc_id", "text", 4, 64, 12).collect()
    assert(narrow.forall(r => r.getLong(2) >= r.getLong(1)), "never undercounts")
    assert(narrow.forall(r => r.getLong(3) === r.getLong(2) - r.getLong(1)))
  }

  test("liftTopPairs counts forward-window pairs and ranks by exact lift") {
    val df = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val got = TextOps.liftTopPairs(df, "doc_id", "text", 1, 1L, 10).collect()
    assert(got.length === 1, "window 1 yields only the adjacent pair")
    val r = got(0)
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
      === (("a", "b", 5L, 3L, 3L)))
    assert(math.abs(r.getDouble(5) - 5.0 * 6 / 9) < 1e-12)
    // window 2 adds the distance-2 self-pairs, ranked below the (a,b) lift
    val w2 = TextOps.liftTopPairs(df, "doc_id", "text", 2, 2L, 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(w2 === Seq(("a", "b", 5L), ("a", "a", 2L), ("b", "b", 2L)))
  }

  test("hamming distance of simhashes is small for near-dups") {
    val pair = Dedup.nearDupPairs(Tables(spark, sf).documents, "doc_id", "text", 0.9)
      .limit(1).collect().headOption
    pair.foreach { p =>
      val ids = Seq(p.getLong(0), p.getLong(1))
      val sh = TextOps.simHashAgg(
          Tables(spark, sf).documents.filter(col("doc_id").isin(ids: _*)), "doc_id", "text")
        .collect().map(_.getLong(1))
      val dist = java.lang.Long.bitCount(sh(0) ^ sh(1))
      assert(dist <= 12, s"near-dup simhash hamming distance $dist")
    }
  }
}
