package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.llm.Corpus

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sf).documents

  test("stratified sample is deterministic and partitioning-independent") {
    val rates = Map("en" -> 0.5, "zh" -> 1.0)
    def ids(df: org.apache.spark.sql.DataFrame) =
      Corpus.stratifiedSample(df, "doc_id", "lang", rates, 0.25)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(docs)
    assert(a === ids(docs.repartition(13)), "sample must not depend on layout")
    // zh keeps everything at rate 1.0
    val zh = docs.filter(col("lang") === "zh").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(zh.subsetOf(a))
    // strata actually thin out: the sample is a strict subset overall
    assert(a.size < docs.count())
  }

  test("shard packing respects the running token budget within each stratum") {
    val packed = Corpus.packShards(docs, "doc_id", "lang", "text", 500L)
      .orderBy("lang", "doc_id")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2), r.getLong(3)))
    packed.groupBy(_._1).foreach { case (_, rows) =>
      var run = 0L
      rows.sortBy(_._2).foreach { case (_, _, nTok, shard) =>
        assert(shard === run / 500L, "shard = floor(tokens-before / budget)")
        run += nTok
      }
    }
    assert(packed.map(_._4).max > 0, "fixture spans multiple shards")
  }

  test("embedding contamination flags a benchmark copy and passes an orthogonal vector") {
    val bench = Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(1f, 0f, 0f, 0f)),   // exact copy of the benchmark vector
      (11L, Seq(0f, 1f, 0f, 0f)),   // orthogonal
      (12L, Seq(0.8f, 0.6f, 0f, 0f)) // cos = 0.8 vs the benchmark
    ).toDF("vec_id", "embedding")
    val got = Corpus.embeddingContamination(corpus, bench, "vec_id", "embedding", 0.9)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1) * 1e6).round / 1e6, r.getBoolean(2))).toMap
    assert(got(10L) === ((1.0, true)))
    assert(got(11L) === ((0.0, false)))
    assert(got(12L)._2 === false && math.abs(got(12L)._1 - 0.8) < 1e-6)
  }

  test("contamination is 1.0 for a benchmark-contained doc and 0.0 for a disjoint one") {
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // fully contained
      (11L, "one two three four five six"),         // disjoint
      (12L, "alpha beta gamma nine ten eleven")     // 1 of 4 shingles shared
    ).toDF("doc_id", "text")
    val got = Corpus.contaminationScores(corpus, bench, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(10L) === 1.0)
    assert(got(11L) === 0.0)
    assert(got(12L) === 0.25)
  }

  test("per-source caps keep exactly min(cap, source size) docs, layout-invariant") {
    val cap = 7
    def kept(df: org.apache.spark.sql.DataFrame) =
      Corpus.capPerSource(df, "doc_id", "source", cap)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = kept(docs)
    assert(a === kept(docs.repartition(13)), "cap choice must not depend on layout")
    val perSource = Corpus.capPerSource(docs, "doc_id", "source", cap)
      .groupBy("source").count().collect().map(_.getLong(1))
    val sizes = docs.groupBy("source").count().collect().map(_.getLong(1))
    assert(perSource.forall(_ <= cap))
    assert(perSource.sum === sizes.map(math.min(_, cap.toLong)).sum,
      "undersized sources keep everything; oversized keep exactly cap")
  }

  test("dataset split labels are exhaustive, deterministic, and stable under corpus growth") {
    val fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val full = Corpus.assignSplits(docs, "doc_id", fracs)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full.values.toSet.subsetOf(Set("train", "val", "test")))
    // proportions land near the declared fractions (hash-uniformity sanity)
    val n = full.size.toDouble
    assert(full.values.count(_ == "train") / n > 0.7)
    assert(full.values.count(_ == "train") / n < 0.9)
    // a doc's split never changes when OTHER docs are added/removed
    val half = Corpus.assignSplits(docs.filter(col("doc_id") % 2 === 0), "doc_id", fracs)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    half.foreach { case (id, s) => assert(full(id) === s, s"doc $id migrated splits") }
  }

  test("shuffle shards form a permutation: contiguous positions per shard, layout-invariant") {
    val out = Corpus.shuffleShards(docs, "doc_id", 4)
      .select("doc_id", "shard", "position").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSet.size === out.length, "every doc exactly once")
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq,
        "positions are 1..n within each shard")
    }
    val again = Corpus.shuffleShards(docs.repartition(17), "doc_id", 4)
      .select("doc_id", "shard", "position").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(again.toSeq === out.sortBy(_._1).toSeq, "permutation must not depend on layout")
  }

  test("shard manifest checksums are layout-invariant and sensitive to edits and drops") {
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Corpus.shardManifest(df, "doc_id", "lang", "text", 500L)
        .orderBy("lang", "shard_id").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
    val base = manifest(docs)
    assert(base === manifest(docs.repartition(13)),
      "checksums must not depend on cluster layout")
    // editing one doc's text changes (at least) its shard's checksum but
    // never the doc/token-independent shape of OTHER strata
    val someId = docs.select("doc_id").orderBy("doc_id").limit(1)
      .collect().head.getLong(0)
    val edited = manifest(docs.withColumn("text",
      when(col("doc_id") === someId, concat(col("text"), lit(" tampered")))
        .otherwise(col("text"))))
    assert(edited !== base, "an edited doc must change a checksum")
    // dropping a doc changes its shard (packing shifts), detected too
    assert(manifest(docs.filter(col("doc_id") =!= someId)) !== base)
  }

  test("packSequences assembles shards in id order and reconstructs exactly") {
    val docs = Seq(
      (1L, "a", "one two three"), (2L, "a", "four five"),
      (3L, "a", "six seven eight"), (10L, "b", "only doc"),
    ).toDF("doc_id", "lang", "text")
    // 4 tokens/shard: doc1 (3 tok, run 0) → shard 0; doc2 (run 3) → 0;
    // doc3 (run 5) → shard 1
    val out = Corpus.packSequences(docs, "doc_id", "lang", "text", 4L)
      .orderBy("lang", "shard_id")
      .select($"lang", $"shard_id", $"n_docs", $"n_tokens", $"packed_text")
      .as[(String, Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      ("a", 0L, 2L, 5L, "one two three\n\nfour five"),
      ("a", 1L, 1L, 3L, "six seven eight"),
      ("b", 0L, 1L, 2L, "only doc")))
    // layout-invariance: repartitioned input packs identically
    val rep = Corpus.packSequences(docs.repartition(5), "doc_id", "lang",
        "text", 4L)
      .orderBy("lang", "shard_id")
      .select($"lang", $"shard_id", $"n_docs", $"n_tokens", $"packed_text")
      .as[(String, Long, Long, Long, String)].collect().toSeq
    assert(rep === out)
  }

  test("weightedSample: weight 0 drops all, 1 keeps all, deterministic") {
    val df = (0L until 200L).map(i => (i, i)).toDF("doc_id", "v")
    assert(Corpus.weightedSample(df, "doc_id", lit(0.0)).count() === 0)
    assert(Corpus.weightedSample(df, "doc_id", lit(1.0)).count() === 200)
    val half = Corpus.weightedSample(df, "doc_id", lit(0.5))
      .select("doc_id").as[Long].collect().toSet
    // deterministic: same set under a different layout; roughly half kept
    val rep = Corpus.weightedSample(df.repartition(7), "doc_id", lit(0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(half === rep)
    assert(half.size > 60 && half.size < 140, s"got ${half.size}")
  }

  test("splitLeakage (expression path) matches the join-back formulation") {
    val fr = graft.llm.CorpusCatalog.SplitFractions
    // synthetic near-dup pairs with ids spread over the split buckets: the
    // shared 30-token body makes every pair jaccard ≈ 1
    val body = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = (0L until 40L).map(i => (i, s"$body extra$i"))
      .toDF("doc_id", "text")
    val viaExpr = Corpus.splitLeakage(docs, "doc_id", "text", 0.8, fr)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val splits = Corpus.assignSplits(docs.select("doc_id"), "doc_id", fr)
      .select($"doc_id", $"split")
    val viaJoin = graft.llm.Dedup.nearDupPairs(docs, "doc_id", "text", 0.8)
      .join(splits.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "sa"), "id_a")
      .join(splits.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "sb"), "id_b")
      .filter($"sa" =!= $"sb")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(viaExpr === viaJoin && viaExpr.nonEmpty,
      s"expr path $viaExpr must equal join path $viaJoin, non-trivially")
  }

  test("mixtureResample keeps under-represented strata whole and sheds over-represented ones") {
    // 'big' holds ~90% of tokens; target 50/50 → big keeps ~5/9 by hash,
    // 'small' (under target) keeps EVERY doc
    val df = ((1 to 90).map(i => (i.toLong, "big", "w " * 10)) ++
      (91 to 100).map(i => (i.toLong, "small", "w " * 10)))
      .toDF("doc_id", "lang", "text")
    val targets = Map("big" -> 0.5, "small" -> 0.5)
    val out = Corpus.mixtureResample(df, "doc_id", "lang", "text", targets, 0.5)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("small") === 10L, "under-represented stratum keeps everything")
    val kept = byLang("big")
    assert(kept < 90L && kept > 90L * 5 / 9 - 20, s"big stratum sheds: kept $kept")
    // deterministic and partitioning-independent
    val again = Corpus.mixtureResample(
      df.repartition(7), "doc_id", "lang", "text", targets, 0.5)
    assert(out.select("doc_id").orderBy("doc_id").collect().toSeq
      === again.select("doc_id").orderBy("doc_id").collect().toSeq)
  }

  test("novelty is 1.0 for unique content, 0.0 for cloned content, NULL below shingle size") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),   // shingles unique to doc 1
      (2L, "one two three four five"),  // cloned in doc 3 → nothing unique
      (3L, "one two three four five"),
      (4L, "tiny doc")                  // < 3 tokens: no shingles
    ).toDF("doc_id", "text")
    val got = Corpus.noveltyScores(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(0).getDouble(3) === 1.0)
    assert(got(1).getDouble(3) === 0.0 && got(2).getDouble(3) === 0.0)
    assert(got(3).getLong(1) === 0L && got(3).isNullAt(3))
  }

  test("stage timings force the gate's own chain: five named stages, same manifest") {
    import graft.llm.{CorpusCatalog => C, Pipeline, SimilarityCatalog}
    val t = Tables(spark, sf)
    def gate(stage: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame) =
      Pipeline.endToEnd(t.documents, t.embeddings, C.BenchmarkSource,
        SimilarityCatalog.Dim, SimilarityCatalog.NearDupCos, C.PipelineContamMax,
        C.SplitFractions, C.TokensPerShard, stage)._2.collect().toSeq
    val seen = scala.collection.mutable.ListBuffer[String]()
    val forced = gate((name, df) => { seen += name; df.localCheckpoint(true) })
    assert(seen.toSeq === Seq("curate", "semantic_dedup", "decontam", "split"))
    assert(forced.nonEmpty && forced === gate((_, df) => df),
      "forcing the stage boundaries changes no manifest row")
    assert(C.pipelineStageTimings(spark, sf).map(_._1) ===
      Seq("curate", "semantic_dedup", "decontam", "split", "pack"))
  }
}
