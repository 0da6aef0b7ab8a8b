package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** Generated `(doc_id, text)` frames for kernel ≡ reference-chain
  * properties: null, empty and whitespace-only text, runs of one repeated
  * token, and mixed-script token soup — precomposed and combining-mark
  * accents, CJK, Cyrillic, Greek, RTL and Devanagari words, non-BMP
  * characters (surrogate pairs in UTF-16), punctuation and digits, joined
  * by spaces, tabs, newlines and no-break spaces. [[check]] runs a property
  * over a few batches with a fixed seed (no shrinking: every evaluation is
  * a Spark job), so a failure reproduces run to run.
  */
object DocGen {

  private val words: Gen[String] = Gen.oneOf(
    "the", "a", "of", "and", "und", "der", "la", "les", "x", "quick", "Brown",
    "dónde", "schön", "ÉCOLE", "naïve",
    "e\u0301cole", "nai\u0308ve", "a\u0308\u0304", "\u0301",
    "的是了", "我有", "привет", "МИР", "γειά", "مرحبا", "שלום", "नमस्ते",
    "𝕏", "𝕐𝕫", "😀😃", "🎉", "👍🏽", "a😀b", "c𝕏d",
    "!!!", "?", ",,,", "...", "42", "3.14")

  private val sep: Gen[String] =
    Gen.frequency(8 -> " ", 1 -> "  ", 1 -> "\t", 1 -> "\n", 1 -> " \u00a0 ")

  private val mixed: Gen[String] = for {
    n <- Gen.choose(1, 30)
    ws <- Gen.listOfN(n, words)
    ss <- Gen.listOfN(n, sep)
  } yield ws.zip(ss).map { case (w, s) => s + w }.mkString

  private val repeated: Gen[String] = for {
    w <- words
    n <- Gen.choose(2, 40)
  } yield Seq.fill(n)(w).mkString(" ")

  private val blank: Gen[String] = Gen.oneOf("", " ", "   ", "\t\n", " \u00a0 ")

  private val doc: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String), 1 -> blank, 2 -> repeated, 6 -> mixed)

  private val batch: Gen[Seq[String]] = Gen.listOfN(40, doc)

  private val params: Test.Parameters = Test.Parameters.default
    .withMinSuccessfulTests(4)
    .withWorkers(1)
    .withInitialSeed(Seed(20261017L))

  /** Run `body` (which asserts) on generated batches; fails with the
    * offending batch on the first violation.
    */
  def check(spark: SparkSession)(body: DataFrame => Unit): Unit = {
    import spark.implicits._
    val prop = Prop.forAllNoShrink(batch) { texts =>
      body(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      Prop.passed
    }
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }
}
