package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{SpecForms, TextOps}

/** The round-13 per-document fingerprint/scoring kernels must be
  * value-identical to the explode → aggregate chains they replaced (kept
  * here verbatim from the pre-round-13 TextOps as the executable spec).
  * Row-level equality via except() both ways, on the real documents fixture
  * plus adversarial synthetic docs (empty text, null text, single token,
  * repeated tokens, multi-byte and non-BMP characters, punctuation-only).
  */
class DocHashQSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))

  private lazy val synth = Seq(
    (1L, "a b c a b c a b c"),
    (2L, "x"),
    (3L, ""),
    (4L, "the quick brown fox of the thing"),
    (5L, "z z z z z z z z z z z z"),
    (6L, "¿dónde están las llaves? 的是了在我有 le la les"),
    (7L, "!!! ??? ,,, ..."),
    (8L, "der die das und ist ein nicht schön"),
    (9L, null),
    // non-BMP code points (surrogate pairs in UTF-16): the kernels window by
    // code point, the chains by Spark's substr
    (10L, "𝕏 𝕏𝕏 the 𝕐𝕫 and 𝕏"),
    (11L, "emoji 😀😃 party 🎉 de la 👍🏽 ok 😀😃"),
    (12L, "a😀b c𝕏d 😀"),
    (13L, "🎉🎉🎉")
  ).toDF("doc_id", "text")

  // the pre-round-13 simHashAgg, verbatim
  private def chainSimHash(df: DataFrame): DataFrame = {
    val rows = df.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), TextOps.hash60(col("tok")).as("h"))
    val votes = (0 until 60).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$j"))
    val bits = (0 until 60)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    rows.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), bits.as("fp_simhash"))
  }

  // the pre-round-13 rollingHashAgg, verbatim (polyPow re-inlined: it is
  // private[llm], so the spec carries its own copy of the lookup tables)
  private def modpow(b: Long, e: Long): Long = {
    var r = 1L; var bb = b % TextOps.RollP; var ee = e
    while (ee > 0) {
      if ((ee & 1) == 1) r = r * bb % TextOps.RollP
      bb = bb * bb % TextOps.RollP
      ee >>= 1
    }
    r
  }
  private def polyPow(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val powLo = typedlit((0 until 128).map(i => modpow(TextOps.RollB, i)))
    val powHi = typedlit((0 until 128).map(q => modpow(TextOps.RollB, 128L * q)))
    element_at(powHi, (k / 128).cast("int") + 1) *
      element_at(powLo, pmod(k, lit(128)).cast("int") + 1) % TextOps.RollP
  }
  private def chainRolling(df: DataFrame): DataFrame = {
    val rows = df
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("h", TextOps.hash60(col("tok")) % TextOps.RollP)
    val n = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val k = count(lit(1)).over(n) - 1 - col("pos")
    rows
      .withColumn("term", col("h") * polyPow(k) % TextOps.RollP)
      .groupBy(col("doc_id"))
      .agg((sum(col("term").cast("decimal(38,0)")) % TextOps.RollP)
        .cast("long").as("fp_rolling"))
  }

  // the pre-round-13 langIdNgram scoring stage, verbatim (explode + join +
  // aggregate + left-join-back + fill)
  private def chainLangScores(df: DataFrame): DataFrame = {
    val spark2 = df.sparkSession
    import spark2.implicits._
    val normed = df.select(col("doc_id"), TextOps.normText(col("text")).as("nt"))
    val nt = col("nt")
    val tris = when(length(nt) >= 3,
      transform(sequence(lit(1), length(nt) - 2), i => nt.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
    val exploded = normed.select(col("doc_id"), explode(tris).as("tri"))
    val profile = broadcast(TextOps.TrigramProfiles.toDF("lang", "tri", "w"))
    val langs = TextOps.LangMarkers.map(_._1)
    val scoreCols = langs.map(l =>
      sum(when(col("lang") === l, col("w")).otherwise(0L)).as(s"s_$l"))
    val scored = exploded.join(profile, Seq("tri"))
      .groupBy(col("doc_id")).agg(scoreCols.head, scoreCols.tail: _*)
    df.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .na.fill(0L, langs.map(l => s"s_$l"))
  }

  private def kernelLangScores(df: DataFrame): DataFrame = {
    val langs = TextOps.LangMarkers.map(_._1)
    val sc = df.select(col("doc_id"),
      graft.functions.LangScoresQ(TextOps.normText(col("text")),
        TextOps.TrigramProfiles, langs).as("__sc"))
    sc.select(col("doc_id") +: langs.zipWithIndex.map { case (l, i) =>
      element_at(col("__sc"), i + 1).as(s"s_$l") }: _*)
  }

  private def assertRowsEqual(a: DataFrame, b: DataFrame): Unit = {
    assert(a.except(b).isEmpty, "kernel rows missing from chain")
    assert(b.except(a).isEmpty, "chain rows missing from kernel")
    assert(a.count() === b.count())
  }

  test("SimHashQ equals the 60-vote aggregate chain (fixture + synth)") {
    Seq(docs, synth).foreach { df =>
      val kernel = df.filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.SimHashQ(TextOps.tokens(col("text"))).as("fp_simhash"))
      assertRowsEqual(kernel, chainSimHash(df))
    }
  }

  test("RollingHashQ equals the decimal-sum aggregate chain (fixture + synth)") {
    Seq(docs, synth).foreach { df =>
      val kernel = df.filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.RollingHashQ(TextOps.tokens(col("text"))).as("fp_rolling"))
      assertRowsEqual(kernel, chainRolling(df))
    }
  }

  test("RollingHashQ equals the column-level fold") {
    Seq(docs, synth).foreach { df =>
      val both = df.select(
        graft.functions.RollingHashQ(TextOps.tokens(col("text"))).as("k"),
        SpecForms.rollingHash(col("text")).as("c"))
      assert(both.filter(col("k") =!= col("c")).isEmpty)
    }
  }

  test("LangScoresQ equals the explode + profile-join + aggregate chain (fixture + synth)") {
    Seq(docs, synth).foreach { df =>
      assertRowsEqual(kernelLangScores(df), chainLangScores(df))
    }
  }

  test("MinHashQ kernel signatures equal the 64-min aggregate chain (fixture + synth)") {
    import graft.llm.Dedup
    Seq(docs, synth).foreach { df =>
      val viaAgg = graft.llm.SpecForms.minhashSignatures(
        Dedup.shingleRows(df, "doc_id", "text"), "doc_id")
      val viaKernel = Dedup.kernelSignatures(df, "doc_id", "text", 3)
        .select(col("doc_id") +: (0 until 64).map(i =>
          element_at(col("__sig"), i + 1).as(s"sig_$i")): _*)
      assertRowsEqual(viaKernel, viaAgg)
    }
  }

  // generated-document properties (DocGen): each kernel against its chain
  test("property: SimHashDoc equals the 60-vote chain on generated documents") {
    DocGen.check(spark) { df =>
      assertRowsEqual(df.filter(col("text").isNotNull).select(col("doc_id"),
        graft.functions.SimHashQ(TextOps.tokens(col("text"))).as("fp_simhash")),
        chainSimHash(df))
    }
  }

  test("property: RollingHashDoc equals the decimal-sum chain on generated documents") {
    DocGen.check(spark) { df =>
      assertRowsEqual(df.filter(col("text").isNotNull).select(col("doc_id"),
        graft.functions.RollingHashQ(TextOps.tokens(col("text"))).as("fp_rolling")),
        chainRolling(df))
    }
  }

  test("property: LangTriScores equals the profile-join chain on generated documents") {
    DocGen.check(spark) { df =>
      assertRowsEqual(kernelLangScores(df), chainLangScores(df))
    }
  }

  test("property: MinHashSig equals the 64-min aggregate on generated documents") {
    import graft.llm.{Dedup, SpecForms}
    DocGen.check(spark) { df =>
      assertRowsEqual(Dedup.kernelSignatures(df, "doc_id", "text", 3)
          .select(col("doc_id") +: (0 until 64).map(i =>
            element_at(col("__sig"), i + 1).as(s"sig_$i")): _*),
        SpecForms.minhashSignatures(Dedup.shingleRows(df, "doc_id", "text"), "doc_id"))
    }
  }

  test("fingerprint kernel frames carry no exchange") {
    val plan = docs.filter(col("text").isNotNull).select(col("doc_id"),
        graft.functions.SimHashQ(TextOps.tokens(col("text"))).as("s"),
        graft.functions.RollingHashQ(TextOps.tokens(col("text"))).as("r"),
        graft.functions.LangScoresQ(TextOps.normText(col("text")),
          TextOps.TrigramProfiles, TextOps.LangMarkers.map(_._1)).as("l"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"kernel frame plans an exchange:\n$plan")
  }
}
