package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation pipeline — the reason this engine
  * has an LLM tier: raw corpus → exact dedup → near-dup drop → quality
  * gate → clean corpus. Every stage is the scale-safe operator built
  * elsewhere ([[Dedup]], [[TextOps]]); this composes them in the canonical
  * order (dedup before quality, so quality never resurrects a duplicate's
  * twin) and is verified end-to-end against a DuckDB oracle of the same
  * composition. The thresholds are fixed engine constants, read by the
  * oracles through [[TextCatalog.qualityGateSql]].
  */
object Curation {

  /** Drop docs shorter than this many tokens. */
  val MinTokens = 20
  /** Drop docs scoring below this [[TextOps.qualityScore]]. */
  val MinQuality = 0.5
  /** Near-dup threshold for the keep-first drop. */
  val NearDupJaccard = 0.8

  /** The quality gate over `(n_tokens, quality_score)` — Column mirror of
    * [[TextCatalog.qualityGateSql]]; the streaming replay flags with it too.
    */
  val qualityGate: Column =
    col("n_tokens") >= MinTokens && col("quality_score") >= MinQuality

  def curate(df: DataFrame, id: String, textCol: String): DataFrame = {
    val base = featuredNarrow(df, id, textCol)
    base.filter(!col("exact_loser"))
      .join(nearLosers(df, base, id, textCol), Seq(id), "left_anti")
      .filter(qualityGate)
      .select(col(id), col("n_tokens"), col("quality_score"))
  }

  /** Resumable curation: every stage persists its survivors under
    * `stageDir/<stage>`, and a re-run resumes from the last stage whose
    * output already exists (checked via the Hadoop FileSystem `_SUCCESS`
    * marker, so the same code short-circuits on HDFS/object stores at
    * cluster scale). The re-run cost of a 100 TB curation job after a
    * downstream-stage failure is then the failed stage only, not the
    * whole dedup chain. The stages are [[curate]]'s chain cut at its
    * boundaries: exact survivors' `(id, text)`, minus the near-dup losers,
    * then the quality gate.
    */
  def curateResumable(df: DataFrame, id: String, textCol: String,
                      stageDir: String): DataFrame = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    // a stageDir binds to one (input, thresholds) run, like a streaming
    // checkpoint dir; the threshold fingerprint is enforced so a re-run
    // under different constants fails fast instead of silently returning
    // stages persisted under the old ones (the input is the caller's
    // responsibility — fingerprinting 100 TB of text is not)
    val params = s"minTokens=$MinTokens,minQuality=$MinQuality,nearDupJaccard=$NearDupJaccard"
    val pMarker = new org.apache.hadoop.fs.Path(stageDir, "_params")
    val fs = pMarker.getFileSystem(conf)
    if (fs.exists(pMarker)) {
      val in = fs.open(pMarker)
      val existing = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      require(existing == params,
        s"stageDir $stageDir was built with [$existing], requested [$params] — use a fresh dir")
    } else {
      val out = fs.create(pMarker, true)
      try out.write(params.getBytes("UTF-8")) finally out.close()
    }
    def path(stage: String) = s"$stageDir/$stage"
    def done(stage: String): Boolean = {
      val marker = new org.apache.hadoop.fs.Path(path(stage), "_SUCCESS")
      marker.getFileSystem(conf).exists(marker)
    }
    def materialize(stage: String, build: => DataFrame): DataFrame = {
      if (!done(stage)) build.write.mode("overwrite").parquet(path(stage))
      spark.read.parquet(path(stage))
    }
    val exact = materialize("exact_dedup",
      exactSurvivorText(df, featuredNarrow(df, id, textCol), id, textCol))
    val near = materialize("near_dedup", exact.join(
      Dedup.nearDupLoserIds(exact, id, textCol, NearDupJaccard), Seq(id), "left_anti"))
    val text: Column = col(textCol)
    materialize("quality_gate", near.select(col(id),
        TextOps.tokenCount(text).as("n_tokens"),
        TextOps.qualityScore(text).as("quality_score"))
      .filter(qualityGate))
  }

  /** The exact-dedup-labelled stats frame every non-resumable entry point
    * shares: `(id, n_tokens, quality_score, exact_loser)` — one fingerprint
    * window, checkpointed. NARROW on purpose (round-13; optimization guide
    * §8 "decide with small rows, move big rows once", §2.3 "shuffle fewer
    * bytes"): the round-12 featuredBase carried the corpus TEXT through the
    * fingerprint exchange and localCheckpoint'ed it — a corpus-volume
    * shuffle plus a corpus-volume materialization for what is a
    * duplicate-count-sized decision. Now only `(id, fp, 2 stats)` enters
    * the window exchange and the pinned frame, and the near-dup chain
    * re-reads the text with one extra narrow scan instead
    * ([[exactSurvivorText]]). Requires unique `id` per row, like the rest
    * of the tier (ADVICE r12).
    */
  private def featuredNarrow(df: DataFrame, id: String, textCol: String): DataFrame = {
    val text: Column = col(textCol)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fingerprint")
    df.select(col(id),
        TextOps.fingerprintMd5(text).as("fingerprint"),
        TextOps.tokenCount(text).as("n_tokens"),
        TextOps.qualityScore(text).as("quality_score"))
      .withColumn("exact_loser", col(id) =!= min(col(id)).over(w))
      .select(col(id), col("n_tokens"), col("quality_score"), col("exact_loser"))
      .localCheckpoint(false)
  }

  /** The exact-dedup SURVIVORS' `(id, text)` for the near-dup chain: a
    * fresh narrow text scan anti-joined against the LOSER ids read off the
    * pinned stats frame — loser-sized (≪ corpus, the tier's premise), so
    * the join broadcasts and the corpus text never shuffles or
    * materializes anywhere in the curation pipeline.
    */
  private def exactSurvivorText(df: DataFrame, base: DataFrame, id: String,
                                textCol: String): DataFrame =
    df.select(col(id), col(textCol))
      .join(base.filter(col("exact_loser")).select(col(id)), Seq(id), "left_anti")

  /** Near-dup loser ids among the exact survivors of `base`. */
  private def nearLosers(df: DataFrame, base: DataFrame, id: String,
                         textCol: String): DataFrame =
    Dedup.nearDupLoserIds(exactSurvivorText(df, base, id, textCol), id, textCol,
      NearDupJaccard)

  /** Every doc labelled with the FIRST pipeline stage that drops it
    * (`exact_dup_loser` → `near_dup_loser` → `quality_fail`) or
    * `survivor` — the single-pass basis for the funnel and for per-stage
    * drop accounting. Unlike unioning the four stage frames (which
    * re-plans each pipeline prefix — the document scan and fingerprint
    * window three times, the LSH verify chain twice), every upstream job
    * here runs once ([[featuredNarrow]] + one LSH chain).
    */
  def exitStages(df: DataFrame, id: String, textCol: String): DataFrame = {
    val base = featuredNarrow(df, id, textCol)
    base.join(nearLosers(df, base, id, textCol).withColumn("near_loser", lit(true)),
        Seq(id), "left")
      .select(col(id),
        when(col("exact_loser"), lit("exact_dup_loser"))
          .when(coalesce(col("near_loser"), lit(false)), lit("near_dup_loser"))
          .when(!qualityGate, lit("quality_fail"))
          .otherwise(lit("survivor")).as("exit_stage"))
  }

  /** The funnel as ONE DataFrame (`stage, n_docs`): each stage's survivor
    * count is the docs that made it PAST every earlier drop — a running
    * subtraction expressed as conditional counts over the exit-stage
    * labels, so the whole funnel is one aggregate row pivoted to four rows,
    * no driver-side actions.
    */
  def funnel(df: DataFrame, id: String, textCol: String): DataFrame = {
    val stage = col("exit_stage")
    exitStages(df, id, textCol)
      .agg(
        count(lit(1)).as("input"),
        count(when(stage =!= "exact_dup_loser", lit(1))).as("exact_dedup"),
        count(when(!stage.isin("exact_dup_loser", "near_dup_loser"), lit(1)))
          .as("near_dedup"),
        count(when(stage === "survivor", lit(1))).as("quality_gate"))
      .select(explode(array(Seq("input", "exact_dedup", "near_dedup", "quality_gate")
        .map(s => struct(lit(s).as("stage"), col(s).as("n_docs"))): _*)).as("f"))
      .select(col("f.stage"), col("f.n_docs"))
      .orderBy("stage")
  }
}
