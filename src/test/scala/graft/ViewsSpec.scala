package graft

import org.apache.spark.sql.Row

import graft.engine.Tables
import graft.shopping.Views

class ViewsSpec extends SparkSpec {
  lazy val t: Tables = Tables(spark, sf)

  test("agePreferences: one row per bucket, counts sum to base") {
    val rows = Views.agePreferences(t).collect()
    val buckets = rows.map(_.getString(0))
    assert(buckets.distinct.length === buckets.length)
    assert(rows.map(_.getLong(1)).sum === Views.base(t).count())
    assert(rows.forall(r => !r.isNullAt(4)), "every bucket has a top category")
  }

  test("genderPreferences: 5 market segments") {
    val rows = Views.genderPreferences(t).collect()
    assert(rows.length === 5)
    assert(rows.map(_.getString(0)).toSeq === rows.map(_.getString(0)).toSeq.sorted)
  }

  test("locationPreferences: top_categories has <= 3 entries, ordered by count desc") {
    val rows = Views.locationPreferences(t).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cats = r.getSeq[String](3)
      assert(cats.nonEmpty && cats.length <= 3)
      assert(cats.distinct.length === cats.length)
    }
  }

  test("ageGenderCategory: grouped counts sum to base count") {
    val rows = Views.ageGenderCategory(t).collect()
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
    assert(fromCube.collect().toSeq === Views.agePreferences(t).collect().toSeq)
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
