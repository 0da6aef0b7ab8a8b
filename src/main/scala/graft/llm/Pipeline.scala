package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The INTEGRATION shape a production training-data run actually executes —
  * every stage is a scale-safe operator proven piecewise elsewhere in this
  * tier; this composes them in the canonical order over one corpus and is
  * verified end-to-end against a DuckDB oracle of the same composition
  * (`pipeline_end_to_end`). Piecewise-green stages can still mis-compose
  * (wrong survivor frame handed to the next stage, a dedup universe that
  * silently includes quality losers, split assigned before decontamination);
  * the end-to-end hash pins the composition itself.
  *
  * Stage order (and why it is the canonical one):
  *
  *  1. benchmark carve-out — eval docs never enter the corpus;
  *  2. curation ([[Curation.curate]]): exact dedup → near-dup drop →
  *     quality gate (dedup before quality, so quality never resurrects a
  *     duplicate's twin);
  *  3. SEMANTIC dedup over the survivors' embeddings
  *     ([[Srp.semanticDedupSrpBucketAuto]] — the measured production form:
  *     one band shuffle of ~corpus volume, verify inside the band join's
  *     codegen projection). Runs AFTER text-level dedup so the expensive
  *     vector stage sees only text-unique docs; a doc with no embedding
  *     row is KEPT (the stage can render no verdict on it), which the
  *     anti-join-against-losers shape gives for free;
  *  4. n-gram decontamination ([[Corpus.contaminationScores]], broadcast
  *     benchmark shingles): drop docs whose benchmark 3-gram containment
  *     exceeds [[graft.llm.CorpusCatalog.PipelineContamMax]] — AFTER dedup
  *     (decontam verdicts on dropped dups would be wasted work), BEFORE
  *     splits (a contaminated doc must not occupy a split slot);
  *  5. split assignment ([[Corpus.splitExpr]] — pure hash column, no join);
  *  6. sequence packing within (split, lang): the [[Corpus.packShards]]
  *     running-token window over curation's already-computed token counts,
  *     aggregated to a shard manifest.
  *
  * Scale shape (the point of the composition): every inter-stage frame is
  * an ID frame (plus a few narrow columns) — the corpus TEXT is scanned by
  * the curation and decontamination stages only, the corpus VECTORS by the
  * semantic stage only, and each "drop" is a left-anti join against a
  * LOSER set (dup losers ≈ duplicate count, contaminated docs ≈ leak
  * count — both ≪ corpus, broadcastable at any realistic rate), never a
  * re-materialization of the survivor corpus. No stage introduces a
  * shuffle class the piecewise operators don't already carry, so the
  * composed plan at 100 TB is exactly the sum of its audited parts.
  */
object Pipeline {

  /** @return (captured SRP band width, manifest frame) — the width is the
    *         scale-adaptive choice [[Srp.rowsPerBandFor]] made on the
    *         curated-survivor count; the oracle replays it bit-for-bit.
    *         Manifest: `(split, lang, shard_id, n_docs, n_tokens,
    *         first_doc, last_doc)` ordered.
    *
    * `stage` sees each inter-stage frame (`curate`, `semantic_dedup`,
    * `decontam`, `split`) and returns the frame the next stage reads: the
    * gate passes it through untouched, [[stageTimings]] forces each one.
    */
  def endToEnd(docs: DataFrame, emb: DataFrame,
               benchmarkSource: String, dim: Int, dedupCos: Double,
               contamMax: Double, fractions: Seq[(String, Double)],
               tokensPerShard: Long,
               stage: (String, DataFrame) => DataFrame = (_, df) => df): (Int, DataFrame) = {
    val corp = docs.filter(col("source") =!= benchmarkSource)
    val bench = docs.filter(col("source") === benchmarkSource)

    // 2. text curation: (doc_id, n_tokens, quality_score) survivors.
    // PINNED (round-13, guide §5 reuse): this ID frame feeds the semantic
    // stage's semi-join, the dup-loser anti join, and — via `sem` — both
    // decontamination branches; unpinned, each consuming branch re-planned
    // and re-executed the whole curation chain (fingerprint window + LSH
    // candidate/verify) inside the one gate action, so curation ran ~4x
    // per gate run. The checkpoint materializes survivors once; it is
    // ID-frame-sized by the tier's design, and the composed VALUES — what
    // the end-to-end oracle hash verifies — are untouched.
    val cur = stage("curate",
      Curation.curate(corp, "doc_id", "text").localCheckpoint(false))

    // 3. semantic dedup over the survivors' vectors; losers are dup-count
    // sized, so the drop is an anti join against a small frame — and a doc
    // with no embedding row never appears in a loser set (kept)
    val embS = emb.join(cur.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val (rpb, verdicts) =
      Srp.semanticDedupSrpBucketAuto(embS, "vec_id", "embedding", dim, dedupCos)
    val dupLosers = verdicts.filter(!col("is_kept"))
      .select(col("vec_id").as("doc_id"))
    // pinned like `cur`: `sem` feeds the decontamination semi-join AND the
    // clean anti join — unpinned, the SRP band self-join re-executed per
    // branch. Same ID-frame size argument.
    val sem = stage("semantic_dedup",
      cur.join(dupLosers, Seq("doc_id"), "left_anti").localCheckpoint(false))

    // 4. decontamination: benchmark-shingle containment over survivors only
    val contaminated = Corpus.contaminationScores(
        corp.join(sem.select("doc_id"), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text")),
        bench, "doc_id", "text")
      .filter(col("containment") > contamMax)
      .select("doc_id")
    val clean = stage("decontam", sem.join(contaminated, Seq("doc_id"), "left_anti"))

    // 5. split: a pure hash expression over the id — no corpus join; lang
    // rides in from the corpus scan for the packing strata
    val sp = stage("split", clean.join(corp.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("split", Corpus.splitExpr(col("doc_id"), fractions)._2))

    // 6. pack: the running-token window over curation's token counts
    // (no re-tokenization — n_tokens is already the declared count), then
    // the shard manifest aggregate. first/last doc pin the packing ORDER
    // into the gate hash, not just the totals.
    val w = Window.partitionBy(col("split"), col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val run: Column = coalesce(sum(col("n_tokens")).over(w), lit(0L))
    (rpb,
      sp.withColumn("shard_id", floor(run / lit(tokensPerShard)))
        .groupBy(col("split"), col("lang"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("split"), col("lang"), col("shard_id")))
  }

  /** Per-stage wall-time attribution for the composition gate (round-11
    * verdict #4): [[endToEnd]]'s own stage chain with each inter-stage
    * frame FORCED at its boundary (eager localCheckpoint), so a regression
    * in the 6-stage gate's total is attributable to a stage instead of
    * adjudicated by elimination. A stage's time runs from the previous
    * boundary to its own, so the driver-side work between two frames (the
    * SRP band-width count) lands in the stage it belongs to; `pack` is the
    * manifest's noop write. This is a measurement replay, not the gate
    * itself — the gate query stays the single lazy composed plan (barriers
    * would change what the hash verifies: Catalyst's right to fuse across
    * stages). Checkpointed inter-stage frames are the same ID frames the
    * lazy plan exchanges, so per-stage times sum to within buffer-copy
    * noise of the composed run. The checkpointed frames stay in the block
    * manager until the caller releases persistent RDDs
    * ([[graft.SparkEntry.release]]; `Dataset.unpersist` does not reach a
    * checkpoint's RDD).
    *
    * @return (stage name, seconds) in execution order.
    */
  def stageTimings(docs: DataFrame, emb: DataFrame,
                   benchmarkSource: String, dim: Int, dedupCos: Double,
                   contamMax: Double, fractions: Seq[(String, Double)],
                   tokensPerShard: Long): Seq[(String, Double)] = {
    val buf = scala.collection.mutable.ListBuffer[(String, Double)]()
    var t0 = System.nanoTime()
    def lap(name: String): Unit = {
      val t = System.nanoTime()
      buf += name -> (t - t0) / 1e9
      t0 = t
    }
    val (_, manifest) = endToEnd(docs, emb, benchmarkSource, dim, dedupCos,
      contamMax, fractions, tokensPerShard, (name, df) => {
        val forced = df.localCheckpoint(true)
        lap(name)
        forced
      })
    manifest.write.format("noop").mode("overwrite").save()
    lap("pack")
    buf.toSeq
  }
}
