package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.llm.{Corpus, Dedup, Similarity, Srp, TextOps}

/** Semantics and invariants of the round-4 pipeline additions: repetition
  * signals, token-window chunking, mixture planning, incremental dedup, and
  * the SRP-bucketed ANN path.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sf).documents
  private lazy val emb = Tables(spark, sf).embeddings

  // -- one BPE merge: training round 1 + the encode at one merge ----------

  /** Round 1 of the training table — the argmax pair — and the per-doc
    * `(id, n_tokens, n_merges, n_tokens_after)` of encoding under that one
    * merge, for docs with at least one merge.
    */
  private def firstMerge(df: org.apache.spark.sql.DataFrame) = {
    val Seq((1, a, b, _)) = TextOps.bpeTrainTable(df, "doc_id", "text", 1)
    val rows = TextOps.bpeEncodeStatsKernel(df, "doc_id", "text", Seq(a -> b))
      .filter(col("n_merges_applied") > 0)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(2)))
    ((a, b), rows.toSeq)
  }

  test("one learned merge applies to every non-overlapping candidate (a != b)") {
    // argmax pair is (a,b) ×3; doc 1 has 2 disjoint merges, doc 2 has 1,
    // doc 3 has none and is filtered out
    val df = Seq((1L, "a b c a b"), (2L, "x a b y"), (3L, "c c q"))
      .toDF("doc_id", "text")
    assert(firstMerge(df) === (("a", "b"), Seq(
      (1L, 5L, 2L, 3L),
      (2L, 4L, 1L, 3L))))
  }

  test("bpeTrain learns the hand-computed merge sequence with exact tie-breaks") {
    // round 1: (a,b)×3. round 2: all pairs tie at 1 → (ab,ab) wins the
    // (a,b)-lexicographic tie-break. round 3: (ab,x) < (abab,c). round 4:
    // (abab,c) is the only pair left in doc 1.
    val df = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(df, "doc_id", "text", 4).orderBy("round")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "b", 3L), (2, "ab", "ab", 1L),
      (3, "ab", "x", 1L), (4, "abab", "c", 1L)))
  }

  test("bpeTrain run-parity merges and early exhaustion on a single run") {
    // "z z z z z": round 1 merges (1,2) and (3,4) → [zz, zz, z]; round 2
    // tie (zz,z) vs (zz,zz) breaks on b → (zz,z)... but greedy applies at
    // the FIRST candidate only if adjacency holds: [zz, zz, z] has (zz,zz)
    // at pos 1 and (zz,z) at pos 2 — the chosen pair (zz,z) merges pos 2-3
    // → [zz, zzz]; round 3 merges the rest; round 4 finds no pair → the
    // trainer stops early with 3 rows.
    val df = Seq((1L, "z z z z z")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(df, "doc_id", "text", 4).orderBy("round")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "z", "z", 4L), (2, "zz", "z", 1L),
      (3, "zz", "zzz", 1L)))
  }

  test("one learned merge is greedy-exact on self-overlapping runs (a == b)") {
    // argmax pair is (z,z) ×5; greedy left-to-right merges floor(L/2) per
    // run: L=4 → 2, L=3 → 1 (NOT the 3 and 2 overlapping candidates)
    val df = Seq((1L, "z z z z q"), (2L, "z z z"), (3L, "q")).toDF("doc_id", "text")
    assert(firstMerge(df) === (("z", "z"), Seq(
      (1L, 5L, 2L, 3L),
      (2L, 3L, 1L, 2L))))
  }

  // -- repetitionAgg --------------------------------------------------------

  test("repetitionAgg scores a hand-built repetitive vs clean doc") {
    val df = Seq(
      (1L, "spam spam spam spam spam"),         // one token, one giant run
      (2L, "a b c d e f"),                       // all bigrams unique
      (3L, "go stop go stop go stop"),           // repeated alternating bigrams
      (4L, "one")                                // no bigrams at all
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionAgg(df, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4), x.getLong(5))).toMap

    assert(r(1L) === ((5L, 4L, 1.0, 1.0, 5L)))   // "spam spam" is every bigram
    assert(r(2L)._3 === 1.0 / 5.0)               // top bigram occurs once of 5
    assert(r(2L)._4 === 0.0)                     // nothing duplicated
    assert(r(2L)._5 === 1L)
    // "go stop" x3, "stop go" x2 → top 3/5, dup (3+2)/5, runs all length 1
    assert(r(3L) === ((6L, 5L, 0.6, 1.0, 1L)))
    assert(r(4L) === ((1L, 0L, 0.0, 0.0, 1L)))
  }

  test("repetitionAgg is total over the corpus and bounded") {
    val r = TextOps.repetitionAgg(docs, "doc_id", "text").cache()
    assert(r.count() === docs.count())
    assert(r.filter(col("dup_bigram_frac") > 0 &&
        col("top_bigram_frac") > col("dup_bigram_frac")).count() === 0,
      "a duplicated top bigram's occurrences are included in the duplicated ones")
    assert(r.filter(col("top_bigram_frac") < 0 || col("top_bigram_frac") > 1 ||
      col("dup_bigram_frac") < 0 || col("dup_bigram_frac") > 1).count() === 0)
    assert(r.filter(col("max_run") < 1 || col("max_run") > col("n_tokens")).count() === 0)
    r.unpersist()
  }

  // -- chunkRows ------------------------------------------------------------

  test("chunkRows covers every token with the declared overlap") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text), (2L, "short doc"), (3L, "")).toDF("doc_id", "text")
    val chunks = TextOps.chunkRows(df, "doc_id", "text", chunkSize = 32, stride = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    // 100 tokens: chunks at 0, 24, 48, 72 → 1 + ceil(68/24) = 4
    assert(d1.length === 4)
    assert(d1.map(_._3).toSeq === Seq(32L, 32L, 32L, 28L))
    assert(d1.head._4.startsWith("t1 t2 ") && d1.last._4.endsWith(" t100"))
    // consecutive chunks overlap by exactly 8 tokens
    val w1 = d1.map(_._4.split(" ").toSeq)
    assert(w1(0).takeRight(8) === w1(1).take(8))
    // reconstruction: stride-strided concatenation restores the doc
    val rebuilt = w1.head ++ w1.tail.flatMap(_.drop(8))
    assert(rebuilt.mkString(" ") === text)

    assert(chunks.filter(_._1 == 2L).toSeq === Seq((2L, 0L, 2L, "short doc")))
    assert(chunks.filter(_._1 == 3L).toSeq === Seq((3L, 0L, 1L, "")))
  }

  test("chunkRows on the corpus: every doc chunked, budgets respected") {
    val c = TextOps.chunkRows(docs, "doc_id", "text", 32, 24).cache()
    assert(c.select("doc_id").distinct().count() === docs.count())
    assert(c.filter(col("n_tokens") < 1 || col("n_tokens") > 32).count() === 0)
    assert(c.filter(size(split(col("chunk_text"), " ")) =!= col("n_tokens")).count() === 0)
    c.unpersist()
  }

  // -- mixtureWeights -------------------------------------------------------

  test("mixtureWeights shares sum to 1 and keep_prob caps at 1") {
    val targets = Map("en" -> 0.3, "fr" -> 0.2, "es" -> 0.2, "zh" -> 0.2)
    val m = Corpus.mixtureWeights(docs, "lang", "text", targets, 0.1).collect()
    assert(m.length === 5)
    val shares = m.map(_.getAs[Double]("token_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-12)
    m.foreach { r =>
      val keep = r.getAs[Double]("keep_prob")
      val up = r.getAs[Double]("upsample_factor")
      assert(keep <= 1.0 && keep > 0.0)
      assert(keep === math.min(1.0, up))
      val lang = r.getString(0)
      assert(r.getAs[Double]("target_share") === targets.getOrElse(lang, 0.1))
    }
    // en dominates the fixture corpus → it must be the downsampled one
    val en = m.find(_.getString(0) == "en").get
    assert(en.getAs[Double]("token_share") > 0.3 && en.getAs[Double]("keep_prob") < 1.0)
  }

  // -- incrementalDedupFlags ------------------------------------------------

  test("incrementalDedupFlags flags exact and near dups against the corpus only") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine ten"),
      (12L, "completely different corpus content here words")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"),      // exact dup of 10
      (21L, "one two three four five six seven eight nine extra"), // near dup of 11
      (22L, "fresh unseen text with brand new tokens only")        // clean
    ).toDF("doc_id", "text")
    val f = Dedup.incrementalDedupFlags(batch, corpus, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getBoolean(4))).toMap

    assert(f(20L) === ((Some(10L), Some(10L), true))) // exact implies jaccard 1.0
    assert(f(21L)._1 === None)
    assert(f(21L)._2 === Some(11L))
    assert(f(21L)._3 === true)
    assert(f(22L) === ((None, None, false)))
  }

  test("incrementalDedupFlags never pairs new docs with each other") {
    // two identical NEW docs with no corpus counterpart must both come back clean
    val corpus = Seq((1L, "corpus only content words here")).toDF("doc_id", "text")
    val batch = Seq(
      (30L, "twin text shared by two new docs"),
      (31L, "twin text shared by two new docs")).toDF("doc_id", "text")
    val f = Dedup.incrementalDedupFlags(batch, corpus, "doc_id", "text", 0.5).collect()
    assert(f.length === 2)
    assert(f.forall(!_.getBoolean(4)), "batch-internal dups are the full dedup's job")
  }

  // -- SRP ANN --------------------------------------------------------------

  test("SRP sketches are deterministic and partitioning-invariant") {
    val a = Srp.sketches(emb, "vec_id", "embedding", 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Srp.sketches(emb.repartition(13), "vec_id", "embedding", 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    assert(a.values.toSet.size > 1, "sketches spread across buckets")
    assert(a.values.forall(s => s >= 0 && s < (1L << Srp.Bits)))
  }

  test("SrpSketchQ equals the posexplode -> sign-join -> sum reference shape") {
    import org.apache.spark.sql.functions.{broadcast, element_at, posexplode, sum, when, lit}
    // the former relational sketch pipeline, kept as the executable spec
    def refSketches(df: org.apache.spark.sql.DataFrame, bits: Int) = {
      val proj = broadcast(
        Srp.signs(64, bits).toDF("dim", "sgn")
          .select(col("dim") +:
            (0 until bits).map(j => element_at(col("sgn"), j + 1).as(s"s_$j")): _*))
      val sums = (0 until bits).map(j => sum(col("x") * col(s"s_$j")).as(s"p_$j"))
      val sketch = (0 until bits)
        .map(j => when(col(s"p_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      Similarity.prepare(df, "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("q")).as(Seq("dim", "x")))
        .join(proj, Seq("dim"))
        .groupBy(col("vec_id")).agg(sums.head, sums.tail: _*)
        .select(col("vec_id"), sketch.as("sketch"))
    }
    for (bits <- Seq(16, 36)) {
      val fast = Srp.sketches(emb, "vec_id", "embedding", 64, bits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = refSketches(emb, bits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast === ref, s"bits=$bits")
    }
  }

  test("rowsPerBandFor tracks corpus size between its floor and cap") {
    assert(Srp.rowsPerBandFor(100L, 64L) === Srp.RowsPerBand, "floor for tiny corpora")
    assert(Srp.rowsPerBandFor(1024L, 64L) === 4)
    assert(Srp.rowsPerBandFor(2048L, 64L) === 5)
    assert(Srp.rowsPerBandFor(20000L, 64L) === 9)
    // UNCAPPED past the old 15-bit/band packing ceiling: bucket count
    // keeps tracking the corpus (2^bits ≈ n/target) into the wide-band
    // regime where each band gets its own sketch long
    assert(Srp.rowsPerBandFor(1L << 24, 64L) === 18, "old cap was 15")
    assert(Srp.rowsPerBandFor(1L << 40, 64L) === 34)
    assert(Srp.rowsPerBandFor(Long.MaxValue, 1L) === 62)
    // wider bands only ever shrink buckets: auto ≡ fixed on small corpora
    assert(Srp.rowsPerBandFor(500L, 64L) === Srp.RowsPerBand)
  }

  test("wide banding path is bit-identical to the packed path on shared widths") {
    // the per-band-long layout reads the SAME declared hyperplane family
    // j = b*rowsPerBand + i as the packed single-long layout, so on widths
    // where both are defined (<= 15 bits/band) the band KEYS must match
    // exactly — the uncapped path is a strict extension, not a second family
    for (rpb <- Seq(4, 9, 15)) {
      val packed = Srp.bandRows(
          Srp.sketches(emb, "vec_id", "embedding", 64, Srp.Bands * rpb),
          "vec_id", rpb)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val wide = Srp.bandedRowsWide(emb, "vec_id", "embedding", 64, rpb)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(wide === packed, s"layouts diverge at $rpb bits/band")
    }
  }

  test("uncapped-width SRP dedup still collapses identical vectors") {
    // identical twins agree on every sketch bit, so they collide on every
    // band at ANY width — including past the old 15-bit packing ceiling
    val base = (0 until 64).map(i => ((i * 37 % 19) - 9).toFloat / 10f)
    val far = (0 until 64).map(i => (((i * 53 + 7) % 17) - 8).toFloat / 9f)
    val df = Seq((1L, base), (2L, base), (9L, far)).toDF("vec_id", "embedding")
    val out = Srp.semanticDedupSrpBucketWidth(df, "vec_id", "embedding", 64, 0.85, 20)
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(out(2L) === Some(1L) && out(1L) === None && out(9L) === None)
  }

  test("adaptive-width SRP dedup still collapses identical vectors") {
    val df = (0 until 40).map { i =>
      // 40 distinct directions (0.15 rad apart, no 2π wrap in range), each
      // duplicated once (ids i and i+100)
      val base = Seq(math.cos(i * 0.15).toFloat, math.sin(i * 0.15).toFloat,
        (i % 7) * 0.1f, 0.5f)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val dup = df.select((col("vec_id") + 100).as("vec_id"), col("embedding"))
    val (rpb, out) = Srp.semanticDedupSrpBucketAuto(df.union(dup), "vec_id",
      "embedding", 4, 0.999, targetBucket = 4L)
    assert(rpb >= Srp.RowsPerBand)
    val rows = out.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    (0 until 40).foreach { i =>
      assert(rows(i + 100L) === i.toLong, s"copy of $i collapses to it")
      assert(rows(i.toLong) === -1L, s"$i is the keeper")
    }
  }

  test("a duplicated vector collides in every band and ranks first") {
    val dup = emb.filter(col("vec_id") === 7)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.union(dup)
    val res = Srp.annTopK(corpus, emb.filter(col("vec_id") === 7),
        "vec_id", "embedding", 64, k = 1)
      .collect()
    assert(res.length === 1)
    assert(res.head.getLong(1) === 100007L, "the exact copy is the top neighbor")
    assert(math.abs(res.head.getDouble(2) - 1.0) < 1e-9)
  }

  test("SRP ANN results agree with brute force on shared pairs") {
    val queries = emb.filter(col("vec_id") < 5)
    val ann = Srp.annTopK(emb, queries, "vec_id", "embedding", 64, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ann.nonEmpty, "4-bit bands collide often enough to yield candidates")
    val brute = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 500)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ann.foreach { case (pair, cos) =>
      assert(brute(pair) === cos, s"ANN cosine must equal the exact cosine for $pair")
    }
  }

  test("depth-3 treeFit is partitioning-invariant and its leaf ids encode ancestry") {
    for (depth <- Seq(2, 3)) {
      val a = Similarity.treeFit(emb, "vec_id", "embedding", 64L, depth = depth, iters = 2)
      val b = Similarity.treeFit(emb.repartition(7), "vec_id", "embedding", 64L,
        depth = depth, iters = 2)
      assert(a.root === b.root, s"depth $depth: root codebook depends on partitioning")
      assert(a.subLevels === b.subLevels,
        s"depth $depth: sub levels depend on partitioning")
    }
    val t1 = Similarity.treeFit(emb, "vec_id", "embedding", 64L, depth = 3, iters = 2)
    assert(t1.depth === 3)
    // child = parent * f + j: every level-(L) id must decode to a parent
    // present at level L-1
    val rootIds = t1.root.map(_._1).toSet
    val l2 = t1.subLevels(0)
    l2.foreach { case (p, _, _) => assert(rootIds.contains(p)) }
    val l2Ids = l2.map(_._2).toSet
    t1.subLevels(1).foreach { case (p, _, _) =>
      assert(l2Ids.contains(p), s"level-3 parent $p missing from level 2")
    }
    // assignment lands every vector on a REAL fitted leaf
    val leaves = t1.subLevels(1).map(_._2).toSet
    val assigned = t1.assign(emb).select("cluster").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(assigned.subsetOf(leaves))
  }

  test("srp within-bucket verify is verdict-identical to the pair-frame form") {
    // same banding, same exact verify — the bucket form only moves WHERE
    // the cosine evaluates (inside the band self-join's projection instead
    // of a vector join onto the global pair list), so outputs must match
    // bit-for-bit at every width, including past the old 15-bit packing cap
    import graft.llm.Srp
    for (rpb <- Seq(Srp.rowsPerBandFor(emb.count(), 64L), 16)) {
      val pairForm = graft.llm.SpecForms.srpPairFrameDedup(emb, "vec_id", "embedding", 64, 0.35, rpb)
        .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2))).toSet
      val bucketForm = Srp.semanticDedupSrpBucketWidth(emb, "vec_id", "embedding", 64, 0.35, rpb)
        .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2))).toSet
      assert(bucketForm === pairForm, s"forms diverge at width $rpb")
    }
  }

  test("srp near-dup pair search equals the banded-candidate pair-frame composition") {
    // the training-free pair query must emit EXACTLY the banded candidates
    // that pass the exact cosine verify — reference composition: band rows
    // -> distinct candidate pairs -> join full vectors -> score
    import graft.llm.Srp
    val (rpb, got0) = Srp.nearDupPairsSrpAuto(emb, "vec_id", "embedding", 64, 0.35)
    val got = got0.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = graft.llm.SpecForms.srpPairFramePairs(emb, "vec_id", "embedding", 64, 0.35, rpb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture should contain at least one passing pair")
  }

  test("chunkedQueries slicing is exact: sliced topK == unsliced topK") {
    // the beyond-broadcast driver: per-query results are independent, so
    // any hash-slicing of the query set must reproduce the single-broadcast
    // result row for row (cosine and PQ paths both checked)
    val queries = emb.filter(col("vec_id") < 12)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.get(2)).toMap
    val whole = canon(Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5))
    val sliced = canon(Similarity.chunkedQueries(queries, "vec_id", 5)(q =>
      Similarity.cosineTopK(emb, q, "vec_id", "embedding", 5)))
    assert(sliced === whole, "hash-sliced cosine topK must equal the broadcast run")
    val pq = Similarity.pqFit(emb, "vec_id", "embedding", 4, 8)
    val codes = pq.encode(emb)
    val wholePq = canon(Similarity.pqTopK(codes, queries, "vec_id", "embedding", pq, 5))
    val slicedPq = canon(Similarity.chunkedQueries(queries, "vec_id", 7)(q =>
      Similarity.pqTopK(codes, q, "vec_id", "embedding", pq, 5)))
    assert(slicedPq === wholePq, "hash-sliced PQ topK must equal the broadcast run")
  }

  // -- bm25TopTerms ---------------------------------------------------------

  test("BM25 scores equal the hand-computed formula bit-for-bit") {
    val df = Seq((1L, "rare common common"), (2L, "common other")).toDF("doc_id", "text")
    def ref(tf: Long, dfq: Long, dl: Long, nDocs: Long, totalDl: Long): Double =
      (nDocs.toDouble / dfq) * (tf.toDouble * 2.2) /
        (tf.toDouble + 1.2 * (0.25 + 0.75 * (dl.toDouble / (totalDl.toDouble / nDocs))))
    val rows = TextOps.bm25TopTerms(df, "doc_id", "text", 5)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(rows.size === 4)
    rows.foreach { case ((_, _), (tf, dfq, dl, score)) =>
      assert(score === ref(tf, dfq, dl, nDocs = 2, totalDl = 5))
    }
    // saturation: 'common' has tf 2 in doc 1 but scores LESS than 2x its
    // single-occurrence score in doc 2 (after length normalization)
    val (_, _, _, c1) = rows((1L, "common"))
    val (_, _, _, c2) = rows((2L, "common"))
    assert(c1 < 2 * c2)
  }

  test("bm25Retrieve ranks by summed matching-term scores, drops OOV terms") {
    val df = Seq(
      (1L, "spark spark stream"), (2L, "stream table"), (3L, "table sort"),
    ).toDF("doc_id", "text")
    val out = TextOps.bm25Retrieve(df, "doc_id", "text",
        Seq("qa" -> "spark stream", "qb" -> "missingword"), 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // qb's only term is out-of-vocabulary: no rows at all
    assert(!out.keys.exists(_._1 == "qb"))
    // qa matches docs 1 (both terms) and 2 (one term); doc 3 not at all
    assert(out.keys.map(_._2).toSet === Set(1L, 2L))
    assert(out(("qa", 1L))._2 === 2L && out(("qa", 2L))._2 === 1L)
    assert(out(("qa", 1L))._1 > out(("qa", 2L))._1,
      "two matching terms outrank one")
  }

  // -- dupPassages ----------------------------------------------------------

  test("dupPassages flags shared token windows with canonical primary attribution") {
    val shared = "alpha beta gamma delta"
    val df = Seq(
      (1L, shared),                        // one chunk, duplicated in doc 2
      (2L, shared),
      (3L, "totally different words here") // unique chunk → absent
    ).toDF("doc_id", "text")
    val got = Dedup.dupPassages(df, "doc_id", "text", size = 4, stride = 4)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getBoolean(7)))
    assert(got.map(t => (t._1, t._2)).toSeq === Seq((1L, 0L), (2L, 0L)),
      "only the duplicated window's occurrences are returned")
    got.foreach { case (_, _, nOcc, nDocs, pDoc, pChunk, _) =>
      assert(nOcc === 2L && nDocs === 2L && pDoc === 1L && pChunk === 0L)
    }
    assert(got.map(_._7).toSeq === Seq(true, false),
      "the minimum (doc, chunk) occurrence is primary")
  }

  // -- keepBestPerCluster ---------------------------------------------------

  test("keep-best dedup keeps the highest-quality cluster member, not the first") {
    // B = A plus a distinct tail: shingle containment keeps Jaccard ≥ 0.8
    // while B scores higher on both the length and distinct-ratio terms —
    // so keep-first would keep A (lower id) but keep-best must keep B
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val better = base + " extra fresh novel words"
    val df = Seq(
      (1L, base), (2L, better),
      (3L, "a completely unrelated singleton document")
    ).toDF("doc_id", "text")
    val got = Dedup.keepBestPerCluster(df, "doc_id", "text",
        TextOps.qualityScore, 0.8)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(got(1L) === ((1L, 2L, false)), "lower-quality original is dropped")
    assert(got(2L) === ((1L, 2L, true)), "higher-quality near-dup is the keeper")
    assert(got(3L) === ((3L, 1L, true)), "singletons keep themselves")
  }

  // -- semanticDedup --------------------------------------------------------

  test("semantic dedup drops to the min-id neighbor within a cell only") {
    val df = Seq(
      (0L, Seq(1f, 0f), 0),   // keeper
      (1L, Seq(1f, 0f), 0),   // same cell, same direction → dup of 0
      (2L, Seq(0f, 1f), 0),   // same cell, orthogonal → kept
      (3L, Seq(1f, 0f), 1)    // same direction, different cell → kept
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticDedup(df, "vec_id", "embedding", "label", 0.9)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) None else Some(r.getLong(2))), r.getBoolean(3)))
      .toMap
    assert(got(0L) === ((None, true)))
    assert(got(1L) === ((Some(0L), false)))
    assert(got(2L) === ((None, true)))
    assert(got(3L) === ((None, true)), "cells block the pair search")
  }

  test("depth-2 and depth-3 treeFit dedup match semanticDedup over their leaves") {
    val t = graft.engine.Tables(spark, sf)
    val e = t.embeddings
    val allPairs = Similarity.cellNearDupPairs(e.withColumn("one", lit(0)),
        "vec_id", "embedding", "one", 0.35)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // the pair search and the dedup over the leaves block on the leaf id
    // exactly like a pinned cell column: the same pairs and verdicts as
    // the all-pairs verify restricted to same-leaf pairs, at every depth
    def leafBlocked(depth: Int) = {
      val model = Similarity.treeFit(e, "vec_id", "embedding", 64L, depth = depth)
      val assigned = model.assign(e)
      val cells = e.join(assigned, Seq("vec_id"))
      val leafOf = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val sameLeaf = allPairs.filter { case (a, b) => leafOf(a) == leafOf(b) }
      assert(sameLeaf.nonEmpty, s"depth $depth: no same-leaf pair to check")
      val pairs = Similarity.cellNearDupPairs(cells, "vec_id", "embedding", "cluster", 0.35)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(pairs.toSet === sameLeaf.toSet, s"depth $depth pairs")
      val dedup = Similarity.semanticDedup(cells, "vec_id", "embedding", "cluster", 0.35)
        .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
      val expected = sameLeaf.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
      assert(dedup === leafOf.keys.map(id => id -> expected.get(id)).toMap,
        s"depth $depth verdicts")
      (model, assigned)
    }
    leafBlocked(3)
    val (model, assigned) = leafBlocked(2)
    // k tracks corpus size at constant target cell size
    assert(Similarity.cellCountFor(500L, 64L) === 8)
    assert(Similarity.cellCountFor(5000L, 64L) === 79)
    assert(Similarity.cellCountFor(10L, 64L) === 8, "floor holds for tiny corpora")
    // depth 2 reaches the same leaf-count regime as a flat k ∝ n fit
    // (f² ≥ k leaves available) at √k-sized argmin tables
    val kTotal = Similarity.cellCountFor(e.count(), 64L)
    val f = math.ceil(math.sqrt(kTotal.toDouble)).toInt
    assert(model.root.size === f)
    val sub = model.subLevels.head
    assert(sub.map(_._1).distinct.forall(c => c >= 0 && c < f))
    assert(sub.map(_._2).distinct.size === sub.size, "leaf ids are globally unique")
    // every assigned leaf is a fitted leaf (no nulls escape the assign)
    assert(assigned.filter(col("cluster").isNull).count() === 0)
    val leaves = sub.map(_._2).toSet
    assert(assigned.select("cluster").distinct().collect()
      .forall(r => leaves(r.getInt(0))))
    // null contract: a null embedding argmins to null and its row is dropped
    val dirty = e.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((-1L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    assert(model.assign(dirty).collect().toSet === assigned.collect().toSet)
  }

  test("hierarchical dedup collapses identical vectors across a real fit") {
    // 60 vectors in 3 tight direction families + one exact duplicate pair:
    // whatever leaves the fit lands on, the exact duplicates MUST share a
    // leaf (identical input → identical depth-2 argmin) and dedup
    val rnd = new scala.util.Random(23)
    val base = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f))
    val df = ((0 until 60).map { i =>
      val b = base(i % 3)
      (i.toLong, b.map(x => x + rnd.nextFloat() * 0.01f))
    } ++ Seq((100L, Seq(0.7f, 0.7f, 0f, 0f)), (101L, Seq(0.7f, 0.7f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val model = Similarity.treeFit(df, "vec_id", "embedding", targetCellSize = 8L, depth = 2)
    val out = Similarity.semanticDedup(df.join(model.assign(df), Seq("vec_id")),
      "vec_id", "embedding", "cluster", 0.999)
    val got = out.filter(col("vec_id") >= 100L).orderBy("vec_id").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) None else Some(r.getLong(2))), r.getBoolean(3))).toMap
    assert(got(100L) === ((None, true)))
    assert(got(101L) === ((Some(100L), false)), "exact duplicate collapses to the lower id")
  }

  // -- Product quantization -------------------------------------------------

  test("pq encode equals the per-subspace sliced crossJoin argmin") {
    val model = Similarity.pqFit(emb, "vec_id", "embedding", m = 8, ks = 16, iters = 2)
    val q = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("qq"))
    val ref = (0 until 8).map { mm =>
      val cbn = broadcast(
        model.codebooks.filter(_._1 == mm).map { case (_, c, v) => (c, v) }
          .toDF("code", "cq")
          .withColumn("cn2", Similarity.dotQ(col("cq"), col("cq"))))
      q.select(col("vec_id"), slice(col("qq"), mm * 8 + 1, 8).as("sq"))
        .crossJoin(cbn)
        .select(col("vec_id"), col("code"),
          (Similarity.dotQ(col("sq"), col("sq"))
            - lit(2L) * Similarity.dotQ(col("sq"), col("cq")) + col("cn2")).as("dist"))
        .groupBy("vec_id")
        .agg(min(struct(col("dist"), col("code"))).getField("code").as(s"c$mm"))
    }.reduce(_.join(_, Seq("vec_id")))
      .select(col("vec_id"), array((0 until 8).map(mm => col(s"c$mm")): _*).as("ref"))
    assert(model.encode(emb).join(ref, Seq("vec_id"))
      .filter(not(col("codes") <=> col("ref"))).count() === 0)
  }

  test("pqFit is partitioning-invariant") {
    val a = Similarity.pqFit(emb, "vec_id", "embedding", m = 4, ks = 8, iters = 2)
    val b = Similarity.pqFit(emb.repartition(7), "vec_id", "embedding",
      m = 4, ks = 8, iters = 2)
    assert(a.codebooks === b.codebooks)
  }

  test("pqTopK scans only the code column and stays within the query's cluster") {
    // 3 far-apart direction clusters; PQ codes must keep cluster structure:
    // every ADC neighbor of a cluster-A query is a cluster-A member, and
    // the STORED-codes scan never reads the embedding column
    val rnd = new scala.util.Random(41)
    val base = Seq(Seq.fill(16)(1f), Seq.fill(16)(-1f),
      (0 until 16).map(i => if (i % 2 == 0) 1f else -1f))
    val df = (0 until 120).map { i =>
      val b = base(i / 40)
      (i.toLong, b.map(x => x + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    val model = Similarity.pqFit(df, "vec_id", "embedding", m = 4, ks = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    model.encode(df).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val out = Similarity.pqTopK(stored, df.filter(col("vec_id") === 0L),
      "vec_id", "embedding", model, 5)
    val plan = out.queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty && scans.forall(s =>
      s.contains("codes") && !s.contains("embedding")),
      s"stored-code scan must not read the embedding column:\n$plan")
    val got = out.collect().map(_.getLong(1))
    assert(got.length === 5)
    assert(got.forall(id => id < 40L && id != 0L),
      s"ADC neighbors of a cluster-A query must be cluster-A members: ${got.toSeq}")
  }

  test("depth-2 treeIvfPqFit is partitioning-invariant") {
    // both tree levels AND the residual codebooks
    val a = Similarity.treeIvfPqFit(emb, "vec_id", "embedding",
      targetCellSize = 64L, depth = 2, m = 4, ks = 8, iters = 2)
    val b = Similarity.treeIvfPqFit(emb.repartition(7), "vec_id", "embedding",
      targetCellSize = 64L, depth = 2, m = 4, ks = 8, iters = 2)
    assert(a.tree.root === b.tree.root)
    assert(a.tree.subLevels === b.tree.subLevels)
    assert(a.pq.codebooks === b.pq.codebooks)
  }

  test("ivfPq topK prunes to probed leaves and keeps cluster structure") {
    // 3 far-apart direction clusters: whatever leaves the depth-2 fit
    // lands on, a cluster-A query's ADC neighbors must come from cluster A
    // at ANY probe width — cross-cluster reconstruction distances dwarf
    // within-cluster ones on this fixture
    val rnd = new scala.util.Random(43)
    val base = Seq(Seq.fill(16)(1f), Seq.fill(16)(-1f),
      (0 until 16).map(i => if (i % 2 == 0) 1f else -1f))
    val df = (0 until 120).map { i =>
      val b = base(i / 40)
      (i.toLong, b.map(x => x + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    val model = Similarity.treeIvfPqFit(df, "vec_id", "embedding",
      targetCellSize = 16L, depth = 2, m = 4, ks = 8, iters = 2)
    val codes = model.encode(df)
    assert(codes.count() === 120)
    assert(codes.filter(col("cell").isNull || col("codes").isNull).count() === 0)
    val queries = df.filter(col("vec_id") === 0L)
    val single = model.topK(codes, queries, probes = 1, k = 3)
      .collect().map(_.getLong(1)).toSet
    assert(single.nonEmpty && single.forall(id => id < 40L && id != 0L),
      s"single-probe neighbors of a cluster-A query stay in cluster A: $single")
    val full = model.topK(codes, queries, probes = model.leaves.size, k = 5)
      .collect().map(_.getLong(1)).toSet
    assert(full.size === 5 && full.forall(id => id < 40L && id != 0L),
      s"full-probe neighbors still come from cluster A: $full")
  }

  test("streamed IVF-PQ encode lands the same artifact as the batch encode") {
    val model = Similarity.treeIvfPqFit(emb, "vec_id", "embedding",
      targetCellSize = 64L, depth = 2, m = 4, ks = 8, iters = 2)
    val streamed = graft.streaming.StreamingCatalog.replayIvfPqEncode(spark, sf, model)
    // the gate boundary stringifies the code word; the stored array-typed
    // artifact is asserted equivalent by re-splitting the joined string
    val batch = model.encode(emb)
      .select(col("vec_id"), col("cell"),
        array_join(col("codes").cast("array<string>"), ",").as("codes"))
      .orderBy("vec_id")
    assert(streamed.collect().toSeq === batch.collect().toSeq)
    val roundTrip = streamed
      .select(col("vec_id"), split(col("codes"), ",").cast("array<bigint>").as("codes"))
    val arrayTyped = model.encode(emb)
      .select(col("vec_id"), col("codes").cast("array<bigint>").as("codes"))
    assert(roundTrip.orderBy("vec_id").collect().toSeq
      === arrayTyped.orderBy("vec_id").collect().toSeq)
  }

  test("stream-maintained IVF-PQ index snapshot equals the batch rebuild") {
    val model = Similarity.treeIvfPqFit(emb, "vec_id", "embedding",
      targetCellSize = 64L, depth = 2, m = 4, ks = 8, iters = 2)
    val streamed = graft.streaming.StreamingCatalog.replayIvfPqIndex(spark, sf, model)
    val batch = model.encode(emb)
      .select(col("vec_id"), col("cell"),
        array_join(col("codes").cast("array<string>"), ",").as("codes"))
      .orderBy("vec_id")
    assert(streamed.collect().toSeq === batch.collect().toSeq)
  }

  test("recallAtK counts per-query hits and keeps zero-hit queries") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L),
      (3L, 30L)).toDF("query_id", "nn_id")
    val approx = Seq((1L, 11L), (1L, 12L), (1L, 99L), (2L, 98L), (2L, 97L),
      (3L, 30L)).toDF("query_id", "nn_id")
    val got = Similarity.recallAtK(approx, exact).orderBy("query_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got === Seq(1L -> 2L, 2L -> 0L, 3L -> 1L))
  }

  test("SRP-bucketed semantic dedup collapses identical vectors with no fit") {
    val df = Seq(
      (0L, Seq(1f, 0.2f, 0f, 0.5f)),   // keeper
      (1L, Seq(1f, 0.2f, 0f, 0.5f)),   // identical → every band collides → dup of 0
      (2L, Seq(-1f, -0.2f, 0f, -0.5f)) // antipodal → every sketch bit flips → kept
    ).toDF("vec_id", "embedding")
    val got = graft.llm.Srp.semanticDedupSrpBucketWidth(df, "vec_id", "embedding", 4, 0.9,
        graft.llm.Srp.RowsPerBand)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getBoolean(2)))
      .toMap
    assert(got(0L) === ((None, true)))
    assert(got(1L) === ((Some(0L), false)))
    assert(got(2L) === ((None, true)))
  }

  test("power iteration recovers a planted dominant direction") {
    // cloud: strong variance along axis 0, weak noise along axis 1
    val df = (0 until 40).map { i =>
      val big = if (i % 2 == 0) 0.9f else -0.9f
      val noise = ((i % 5) - 2) * 0.01f
      (i.toLong, Seq(big, noise, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val comp = Similarity.topComponent(df, "vec_id", "embedding")
      .orderBy("dim").collect().map(_.getDouble(1))
    assert(math.abs(comp(0)) > 0.999, s"axis-0 dominance: ${comp.toSeq}")
    assert(comp.drop(1).forall(c => math.abs(c) < 0.05))
    // unit length
    assert(math.abs(comp.map(c => c * c).sum - 1.0) < 1e-12)
  }

  test("pcaProjection is centered and partitioning-invariant") {
    val t = graft.engine.Tables(spark, sf)
    val base = Similarity.pcaProjection(t.embeddings, "vec_id", "embedding")
      .orderBy("vec_id").collect().map(r => r.getLong(0) -> r.getDouble(1))
    // centered: the integer numerators sum to exactly zero, so the double
    // projections sum to ~0 (only per-row division rounding remains)
    assert(math.abs(base.map(_._2).sum) < 1e-9)
    assert(base.exists(p => math.abs(p._2) > 1e-6), "projections are non-trivial")
    val reparts = Similarity.pcaProjection(
        t.embeddings.repartition(7), "vec_id", "embedding")
      .orderBy("vec_id").collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(base.toSeq === reparts.toSeq, "bit-identical under repartitioning")
  }

  test("bigramSurprisal: exact integer bits on a hand-computed corpus") {
    // corpus bigram slots N=5: a|b x3, b|a x1, x|y x1.
    // bits(a|b) = bitlen(5 div 3)-1 = 0; bits(b|a) = bits(x|y) = bitlen(5)-1 = 2
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x y"), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = graft.llm.TextOps.bigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((3L, 2L, 2.0 / 3.0)))
    assert(got(2L) === ((1L, 0L, 0.0)))
    assert(got(3L) === ((1L, 2L, 2.0)))
    assert(!got.contains(4L), "single-token docs have no bigrams")
  }
}
