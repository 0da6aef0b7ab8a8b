package graft.shopping

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.ops.Relational

/** The reference's 4 analytic views (bigquery_views.sql:1-129) rebuilt
  * Spark-first over the driver testdata, with the FIXTURES.md §C role
  * mapping:
  *
  *   age        -> customer.c_acctbal (CASE-bucketed, views.sql:5-12)
  *   gender     -> customer.c_mktsegment
  *   category   -> orders.o_orderpriority
  *   location   -> nation.n_name (via c_nationkey)
  *   amount     -> orders.o_totalprice
  *   rating     -> (o_orderkey % 5) — deterministic double for AVG parity
  *
  * Scale notes (100 TB design point):
  *  - The base is declared as plain inner joins; AQE broadcasts
  *    customer/nation at test scale and falls back to shuffled hash join
  *    when the build side is large. Nothing is hand-pinned.
  *  - Each view is aggregate-first, window-second (one exchange), matching
  *    BigQuery's QUALIFY-over-aggregate semantics (SURVEY.md §4). The window
  *    input is the *aggregated* table (|groups| rows, not |orders|), so the
  *    row_number partition never sees raw-fact cardinality, and the windows,
  *    the top-k fold and the final sort run in the cube's one reduce task
  *    ([[groupTail]]): one fact scan plus one shuffle, two Spark jobs
  *    besides the dimension broadcasts.
  *  - All floats are rounded to 4 decimals and every output is fully sorted:
  *    determinism for the DuckDB oracle (SURVEY.md §7.6).
  *
  * The four views read the [[base]] frame they are handed, so the caller
  * chooses the snapshot: the registered queries and [[graft.engine.ViewRegistry]]
  * pass a fresh `base(t)` (one per registration), and [[Dashboard]] passes
  * its TTL-cached base, so one view TTL window serves all four from one
  * in-memory join.
  */
object Views {

  val AcctbalCuts: Seq[Double]  = Seq(0, 2000, 4000, 6000, 8000)
  val AcctbalLabels: Seq[String] = Seq("A-neg", "B-0-2k", "C-2k-4k", "D-4k-6k", "E-6k-8k", "F-8k+")

  /** The flat "shopping.orders" fact-table analog (SURVEY.md §1.1: one flat
    * fact table feeds every view).
    */
  def base(t: Tables): DataFrame =
    t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .select(
        Relational.bucketize(col("c_acctbal"), AcctbalCuts, AcctbalLabels).as("age_bucket"),
        col("c_mktsegment").as("gender"),
        col("o_orderpriority").as("category"),
        col("n_name").as("location"),
        col("o_totalprice").as("amount"),
        (col("o_orderkey") % 5).cast("double").as("rating"))

  /** Shared SQL text of `base` for the DuckDB oracle. */
  val baseSql: String =
    """SELECT
      |  CASE WHEN c_acctbal < 0 THEN 'A-neg'
      |       WHEN c_acctbal < 2000 THEN 'B-0-2k'
      |       WHEN c_acctbal < 4000 THEN 'C-2k-4k'
      |       WHEN c_acctbal < 6000 THEN 'D-4k-6k'
      |       WHEN c_acctbal < 8000 THEN 'E-6k-8k'
      |       ELSE 'F-8k+' END AS age_bucket,
      |  c_mktsegment AS gender,
      |  o_orderpriority AS category,
      |  n_name AS location,
      |  o_totalprice AS amount,
      |  (o_orderkey % 5) AS rating
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  /** v_age_preferences (bigquery_views.sql:2-43): per-age-bucket stats +
    * top-1 category via aggregate-then-window, left-joined back.
    */
  def agePreferences(b: DataFrame): DataFrame =
    preferences(b, "age_bucket", withRating = true)

  /** v_gender_preferences (bigquery_views.sql:46-72). */
  def genderPreferences(b: DataFrame): DataFrame =
    preferences(b, "gender", withRating = true)

  /** Single-scan core shared by every view: ONE pass over the fact table to
    * `(key..., category) -> (cnt, amount decimal-sum, rating sum)`. Both the
    * per-key stats (re-aggregated rollup — exact, because decimal sums and
    * integral rating sums re-aggregate associatively) and the top-k branch
    * derive from this tiny intermediate, so each view costs one fact scan +
    * one wide shuffle; everything downstream runs at group cardinality.
    * (Round-1 shape paid 2 scans + 2 three-way joins per view.)
    */
  def categoryCube(b: DataFrame, keys: Seq[String]): DataFrame =
    b.groupBy((keys :+ "category").map(col): _*)
      .agg(
        count(lit(1)).as("cnt"),
        sum(Relational.moneyDec(col("amount"))).as("amount_dec"),
        sum(col("rating")).as("rating_sum"))

  /** The group-cardinality tail of a dimension-keyed aggregate: `groups`
    * in one partition, so whatever follows it (windows, a top-k fold, the
    * final global sort) runs in the aggregate's reduce task with no window
    * exchange, no range-sort sampling job and no range exchange.
    *
    * Precondition: `groups` is keyed by dimension-domain values (age
    * buckets, segments, categories, locations — |groups| ≤ ~125 here), never
    * by fact-table keys. Trade-off: the aggregate's final merge runs in one
    * task over (scan tasks × |groups|) partial rows instead of one task per
    * shuffle partition; at dimension cardinality that is a few thousand rows
    * at any fact scale, and it saves three jobs per view. Generic operators
    * whose callers choose the key (`Relational.valueCounts`, `histogram`,
    * `pivotSum`) keep their parallel shape.
    */
  private[shopping] def groupTail(groups: DataFrame): DataFrame = groups.coalesce(1)

  /** Per-key stats AND top-k from ONE cube pass, via windows over the
    * tiny (key, category) intermediate instead of a stats ⟕ top self-join:
    * the round-1 join shape made Catalyst plan the cube twice (column
    * pruning specializes each branch, defeating ReuseExchange), i.e. two
    * fact scans per view. Here the physical plan is scan → cube aggregate →
    * windows in the cube's reduce task ([[groupTail]]) — decimal/integral
    * window sums re-aggregate exactly, so values are identical to the join
    * shape. (Top-k per key always exists — every key row carries a
    * category — so the reference's LEFT join degenerates safely.)
    */
  private def withKeyWindows(cube: DataFrame, key: String, withRating: Boolean): DataFrame = {
    val w = Window.partitionBy(key)
    val ordered = Window.partitionBy(key).orderBy(col("cnt").desc, col("category").asc)
    val orders = sum(col("cnt")).over(w)
    val rated =
      if (withRating)
        Seq(round(sum(col("rating_sum")).over(w) / orders, 4).as("avg_rating"))
      else Nil
    groupTail(cube).select(
      col(key) +:
        col("category") +:
        col("cnt") +:
        orders.as("orders") +:
        round(sum(col("amount_dec")).over(w).cast("double") / orders, 4).as("avg_spend") +:
        (rated :+ row_number().over(ordered).as("__rn")): _*)
  }

  /** Derive a preferences view from an ALREADY-AGGREGATED category cube —
    * the entry point for incrementally-maintained state
    * ([[graft.streaming.Streams.incrementalCube]]): because the cube's
    * counts and decimal sums re-aggregate exactly, a cube maintained by
    * stateful streaming produces bit-identical view output to a batch
    * recompute (asserted in ViewsSpec).
    */
  def preferencesFromCube(cube: DataFrame, key: String, withRating: Boolean): DataFrame = {
    val ranked = withKeyWindows(cube, key, withRating)
    val rated = if (withRating) Seq(col("avg_rating")) else Nil
    ranked.filter(col("__rn") === 1)
      .select(col(key) +: col("orders") +: col("avg_spend") +: rated :+
        col("category").as("top_category"): _*)
      .orderBy(key)
  }

  private def preferences(b: DataFrame, key: String, withRating: Boolean): DataFrame =
    preferencesFromCube(categoryCube(b, Seq(key)), key, withRating)

  /** Top-k ordered category array per key from an ALREADY-AGGREGATED cube —
    * the array-valued sibling of [[preferencesFromCube]], and the top-k
    * derivation for incrementally-maintained state (a cube kept by
    * stateful streaming derives bit-identical arrays to a batch recompute).
    */
  def topCategoriesFromCube(cube: DataFrame, key: String, k: Int): DataFrame =
    withKeyWindows(cube, key, withRating = false)
      .filter(col("__rn") <= k)
      .groupBy(col(key), col("orders"), col("avg_spend"))
      .agg(Relational.orderedArrayAggDesc(col("cnt"), col("category"))
        .as("top_categories"))
      .orderBy(key)

  /** v_location_preferences (bigquery_views.sql:75-100): per-location stats,
    * top-3 categories, re-aggregated into an ordered ARRAY<STRING> — same
    * single-scan window shape, then one fold of the ≤3 rows per location.
    */
  def locationPreferences(b: DataFrame): DataFrame =
    topCategoriesFromCube(categoryCube(b, Seq("location")), "location", 3)

  /** v_age_gender_category (bigquery_views.sql:103-126): 3-key aggregate. */
  def ageGenderCategory(b: DataFrame): DataFrame =
    groupTail(b
      .groupBy(col("age_bucket"), col("gender"), col("category"))
      .agg(count(lit(1)).as("orders"), Relational.moneyAvg(col("amount")).as("avg_spend")))
      .orderBy("age_bucket", "gender", "category")
}
