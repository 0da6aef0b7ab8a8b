package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ShingleQ, WinnowQ}
import graft.llm.TextOps

/** The round-12 narrow text kernels must be value-identical to the
  * posexplode → exchange+sort → window-chain compositions they replaced
  * (which remain the executable spec here, verbatim from the pre-round-12
  * Dedup.scala). Set equality both ways (`except`), not just counts, on the
  * real documents fixture plus adversarial synthetic docs (short docs,
  * duplicate grams, single-gram docs at the truncated-frame edge).
  */
class ShingleQSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))

  private lazy val synth = Seq(
    (1L, "a b c a b c a b c"),          // heavy duplicate grams
    (2L, "x"),                          // shorter than any n
    (3L, "one two"),                    // exactly one 2-gram
    (4L, "p q r s t u v w"),            // ordinary doc
    (5L, ""),                           // empty text
    (6L, "z z z z z z z z z z z z")     // all-identical tokens
  ).toDF("doc_id", "text")

  private def chainShingles(df: DataFrame, n: Int): DataFrame = {
    val toks = df.select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until n).map(o => lead("tok", o).over(w).as(s"t$o"))
    toks.select(col("doc_id") +: col("tok") +: leads: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("doc_id"),
        concat_ws("|", col("tok") +: (1 until n).map(o => col(s"t$o")): _*).as("shingle"))
      .distinct()
  }

  private def kernelShingles(df: DataFrame, n: Int): DataFrame =
    df.select(col("doc_id"),
      explode(ShingleQ(TextOps.tokens(col("text")), n, "|", distinct = true)).as("shingle"))

  private def chainWinnowKeys(df: DataFrame, k: Int, w: Int): DataFrame = {
    val Big = 1000000000000L
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val parts = (0 until k).map(j => if (j == 0) col("tok") else lead(col("tok"), j).over(win))
    val keyed = df
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", parts: _*).as("wtext"), parts.last.as("wlast"))
      .filter(col("wlast").isNotNull)
      .select(col("doc_id"), col("pos"),
        concat(md5(col("wtext")),
          lpad((lit(Big) - col("pos")).cast("string"), 13, "0")).as("key"))
    keyed
      .select(col("doc_id"), min(col("key")).over(win.rowsBetween(0, w - 1)).as("min_key"))
      .distinct()
  }

  private def kernelWinnowKeys(df: DataFrame, k: Int, w: Int): DataFrame =
    df.select(col("doc_id"),
      explode(WinnowQ(TextOps.tokens(col("text")), k, w)).as("min_key"))

  private def assertSetEqual(a: DataFrame, b: DataFrame): Unit = {
    assert(a.except(b).isEmpty, "kernel rows missing from chain")
    assert(b.except(a).isEmpty, "chain rows missing from kernel")
    assert(a.count() === b.count()) // both sides distinct ⇒ counts match too
  }

  test("ShingleQ(distinct) equals the lead-window + distinct chain (fixture + synth)") {
    Seq(2, 3, 5).foreach { n =>
      assertSetEqual(kernelShingles(docs, n), chainShingles(docs, n))
      assertSetEqual(kernelShingles(synth, n), chainShingles(synth, n))
    }
  }

  test("property: ShingleGrams equals the lead-window chain on generated documents") {
    DocGen.check(spark) { df =>
      Seq(2, 3).foreach(n => assertSetEqual(kernelShingles(df, n), chainShingles(df, n)))
    }
  }

  test("ShingleQ(non-distinct) positions match the window chain's (start, wtext)") {
    val k = 4
    val kern = docs.select(col("doc_id"),
        posexplode(ShingleQ(TextOps.tokens(col("text")), k, " ", distinct = false))
          .as(Seq("p0", "wtext")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("wtext"))
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val parts = (0 until k).map(j => if (j == 0) col("tok") else lead(col("tok"), j).over(win))
    val chain = docs
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", parts: _*).as("wtext"), parts.last.as("wlast"))
      .filter(col("wlast").isNotNull)
      .select(col("doc_id"), col("pos"), col("wtext"))
    assertSetEqual(kern, chain)
  }

  test("WinnowQ equals the md5-key + min-window + distinct chain (fixture + synth)") {
    Seq((8, 4), (8, 8), (5, 2), (3, 3)).foreach { case (k, w) =>
      assertSetEqual(kernelWinnowKeys(docs, k, w), chainWinnowKeys(docs, k, w))
      assertSetEqual(kernelWinnowKeys(synth, k, w), chainWinnowKeys(synth, k, w))
    }
  }

  test("property: WinnowKeys equals the md5-key + min-window + distinct chain") {
    DocGen.check(spark) { df =>
      Seq((3, 2), (5, 4)).foreach { case (k, w) =>
        assertSetEqual(kernelWinnowKeys(df, k, w), chainWinnowKeys(df, k, w))
      }
    }
  }

  test("kernel frames carry no exchange (the optimization's plan claim)") {
    Seq(kernelShingles(docs, 3), kernelWinnowKeys(docs, 8, 4)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"kernel frame still exchanges:\n$plan")
    }
  }
}
