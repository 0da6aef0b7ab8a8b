package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Tables
import graft.ops.Relational
import graft.shopping.{EnrichCatalog, Views}
import graft.streaming.StreamingCatalog

class ViewsSpec extends SparkSpec {
  lazy val t: Tables = Tables(spark, sf)

  /** The view tail before it ran in one partition: the key windows
    * exchange on the key, the final sort range-partitions. The reference
    * the single-partition tail is held to, row for row and in order.
    */
  private object WindowForm {
    private def withKeyWindows(cube: DataFrame, key: String, withRating: Boolean): DataFrame = {
      val w = Window.partitionBy(key)
      val ordered = Window.partitionBy(key).orderBy(col("cnt").desc, col("category").asc)
      val orders = sum(col("cnt")).over(w)
      val rated =
        if (withRating)
          Seq(round(sum(col("rating_sum")).over(w) / orders, 4).as("avg_rating"))
        else Nil
      cube.select(
        col(key) +:
          col("category") +:
          col("cnt") +:
          orders.as("orders") +:
          round(sum(col("amount_dec")).over(w).cast("double") / orders, 4).as("avg_spend") +:
          (rated :+ row_number().over(ordered).as("__rn")): _*)
    }

    def preferencesFromCube(cube: DataFrame, key: String, withRating: Boolean): DataFrame = {
      val rated = if (withRating) Seq(col("avg_rating")) else Nil
      withKeyWindows(cube, key, withRating).filter(col("__rn") === 1)
        .select(col(key) +: col("orders") +: col("avg_spend") +: rated :+
          col("category").as("top_category"): _*)
        .orderBy(key)
    }

    def topCategoriesFromCube(cube: DataFrame, key: String, k: Int): DataFrame =
      withKeyWindows(cube, key, withRating = false)
        .filter(col("__rn") <= k)
        .groupBy(col(key), col("orders"), col("avg_spend"))
        .agg(Relational.orderedArrayAggDesc(col("cnt"), col("category"))
          .as("top_categories"))
        .orderBy(key)
  }

  test("view derivations plan one shuffle and no range sort") {
    // frames other suites cached would splice their own plans in
    spark.catalog.clearCache()
    val cube = Views.categoryCube(Views.base(t), Seq("location"))
    Seq(
      "preferencesFromCube" -> Views.preferencesFromCube(cube, "location", withRating = true),
      "topCategoriesFromCube" -> Views.topCategoriesFromCube(cube, "location", 3),
      "streamViewState" -> StreamingCatalog.streamViewState(EnrichCatalog.enrichedFrame(t.events))
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      val shuffles = plan.linesIterator.count(l =>
        l.contains("Exchange ") && !l.contains("BroadcastExchange") && !l.contains("ReusedExchange"))
      assert(shuffles === 1, s"$name:\n$plan")
      assert(!plan.contains("rangepartitioning"), s"$name:\n$plan")
    }
  }

  test("the single-partition view tail equals the window form on tied cubes (fixed seeds)") {
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("category", StringType),
      StructField("cnt", LongType), StructField("amount_dec", DecimalType(28, 2)),
      StructField("rating_sum", DoubleType)))
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // counts from 1..3 over up to 6 categories: most keys tie on cnt, so
      // the category tie-break decides the top-k
      val rows = for {
        k <- 0 until 1 + rnd.nextInt(7)
        c <- rnd.shuffle((0 until 6).toList).take(1 + rnd.nextInt(6))
      } yield {
        val cnt = 1L + rnd.nextInt(3)
        Row(s"k$k", s"c$c", cnt, java.math.BigDecimal.valueOf(rnd.nextInt(100000).toLong, 2),
          (cnt * (1 + rnd.nextInt(5))).toDouble)
      }
      val cube = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      def same(what: String, got: DataFrame, want: DataFrame): Unit =
        assert(got.collect().toSeq === want.collect().toSeq, s"seed $seed, $what")
      Seq(true, false).foreach { r =>
        same(s"preferences withRating=$r", Views.preferencesFromCube(cube, "key", r),
          WindowForm.preferencesFromCube(cube, "key", r))
      }
      Seq(1, 3).foreach { k =>
        same(s"top-$k", Views.topCategoriesFromCube(cube, "key", k),
          WindowForm.topCategoriesFromCube(cube, "key", k))
      }
    }
  }

  test("agePreferences: one row per bucket, counts sum to base") {
    val rows = Views.agePreferences(Views.base(t)).collect()
    val buckets = rows.map(_.getString(0))
    assert(buckets.distinct.length === buckets.length)
    assert(rows.map(_.getLong(1)).sum === Views.base(t).count())
    assert(rows.forall(r => !r.isNullAt(4)), "every bucket has a top category")
  }

  test("genderPreferences: 5 market segments") {
    val rows = Views.genderPreferences(Views.base(t)).collect()
    assert(rows.length === 5)
    assert(rows.map(_.getString(0)).toSeq === rows.map(_.getString(0)).toSeq.sorted)
  }

  test("locationPreferences: top_categories has <= 3 entries, ordered by count desc") {
    val rows = Views.locationPreferences(Views.base(t)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cats = r.getSeq[String](3)
      assert(cats.nonEmpty && cats.length <= 3)
      assert(cats.distinct.length === cats.length)
    }
  }

  test("ageGenderCategory: grouped counts sum to base count") {
    val rows = Views.ageGenderCategory(Views.base(t)).collect()
    assert(rows.map(_.getLong(3)).sum === Views.base(t).count())
  }

  test("views derived from a pre-maintained cube equal the batch recompute") {
    // split the facts in two, cube each half, re-aggregate the partial
    // cubes (what incremental maintenance does across micro-batches), and
    // derive the view — must be bit-identical to the one-shot batch view
    val base = Views.base(t)
    val h1 = base.filter(org.apache.spark.sql.functions.col("amount") < 100000)
    val h2 = base.filter(org.apache.spark.sql.functions.col("amount") >= 100000)
    val merged = Views.categoryCube(h1, Seq("age_bucket"))
      .unionByName(Views.categoryCube(h2, Seq("age_bucket")))
      .groupBy("age_bucket", "category")
      .agg(
        org.apache.spark.sql.functions.sum("cnt").as("cnt"),
        org.apache.spark.sql.functions.sum("amount_dec").as("amount_dec"),
        org.apache.spark.sql.functions.sum("rating_sum").as("rating_sum"))
    val fromCube = Views.preferencesFromCube(merged, "age_bucket", withRating = true)
    assert(fromCube.collect().toSeq === Views.agePreferences(Views.base(t)).collect().toSeq)
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle except the declared rows-only set") {
    val rowsOnly = Set(
      "ivf_kmeans_assign",   // oracle appears only after the fit captures
      "kmeans_label_purity", // its centroids (same capture mechanism)
      "semantic_dedup_hier",     // same capture mechanism (two-level fit)
      "pq_codes", "pq_topk",     // same capture mechanism (PQ codebooks)
      "ivfpq_topk",              // same capture mechanism (coarse + codebooks)
      "stream_ivfpq_encode",     // same capture mechanism (shared IVF-PQ fit)
      "stream_ivfpq_index",      // same capture mechanism (shared IVF-PQ fit)
      "embedding_near_dup_hier", // same capture mechanism (two-level fit)
      "embedding_near_dup_tree", // same capture mechanism (depth-3 tree fit)
      "tree_ivfpq_topk",         // same capture mechanism (tree fit + codebooks)
      "ann_recall",              // needs BOTH pq and ivfpq captures
      "semantic_dedup_srp_bucket", // captures its chosen band width
      "embedding_near_dup_srp",  // same capture mechanism (band width)
      "pipeline_end_to_end")     // same capture mechanism (srp band width)
    // subset, not equality: the capture-based oracles APPEAR once another
    // test in the same JVM has run their fit, so `missing` legitimately
    // shrinks below the declared set mid-suite
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert((missing -- rowsOnly).isEmpty,
      s"un-oracled queries beyond the declared set: ${missing -- rowsOnly}")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without queries: $orphaned")
  }
}
