package graft.shopping

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, Tables}
import graft.ops.Relational

/** Driver-contract registration of the enrichment pipeline (SURVEY §2.4)
  * and the dashboard panels over its output.
  *
  * The batch-deterministic variant pins `processed_time` to the event time
  * so the DuckDB oracle can reproduce it; the live stream uses
  * `current_timestamp()` (graft.streaming.Streams).
  *
  * Every panel function reads the enriched frame `e` it is handed
  * (`Enrich.enrich` over events), so the caller chooses the snapshot: the
  * registered queries enrich a fresh `events` scan per call, and
  * [[Dashboard]] passes its TTL-cached `enrichedOrders` frame, so all of one
  * refresh's panels read the same in-memory snapshot. Enrichment is a pure
  * projection, so a panel over a fresh scan prunes back to the raw columns
  * it uses.
  */
object EnrichCatalog extends Catalog {

  /** Deterministic enriched events table (all 11 derived columns) from any
    * events-shaped input — shared by the batch query and the streaming
    * replay so both produce the identical oracle-comparable frame.
    */
  def enrichedFrame(events: DataFrame): DataFrame =
    Enrich.enrich(events, processedTime = col("ts"))
      .withColumn("ts", Relational.tsStr(col("ts")))
      .withColumn("processed_time", Relational.tsStr(col("processed_time")))

  /** Metric-tile aggregates over the enriched stream
    * (streamlit_app.py:333-352 "Revenus", "Transactions Suspectes", VIP
    * revenue, anomaly rate) — one pass, no round-trips.
    */
  def enrichedMetrics(e: DataFrame): DataFrame =
    e.agg(
      count(lit(1)).as("n_orders"),
      Relational.moneySum(col("value")).as("raw_revenue"),
      sum4(col("final_amount_usd")).as("final_revenue"),
      sum6(col("estimated_profit_usd")).as("total_profit"),
      Relational.countIf(col("is_anomaly")).as("n_anomalies"),
      (Relational.countIf(col("is_anomaly")) * lit(100.0) / count(lit(1))).as("anomaly_rate_pct"),
      Relational.countIf(col("customer_segment") === "VIP").as("n_vip_orders"))

  /** Exact sum for enrichment-derived 4-decimal money doubles: the double →
    * DECIMAL(18,4) cast recovers the exact decimal the pipeline computed, so
    * accumulation is order-independent (see Relational.moneySum).
    */
  private def sum4(c: org.apache.spark.sql.Column) =
    sum(c.cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 4))).cast("double")

  /** Scale-6 variant for profit (amount x tier-discount x margin carries 6
    * decimals; a scale-4 cast would round it).
    */
  private def sum6(c: org.apache.spark.sql.Column) =
    sum(c.cast(org.apache.spark.sql.types.DataTypes.createDecimalType(20, 6))).cast("double")

  /** Segment breakdown (streamlit_app.py:830-836): orders / revenue /
    * average per customer segment, revenue-descending.
    */
  def segmentRevenue(e: DataFrame): DataFrame =
    Views.groupTail(e.groupBy(col("customer_segment"))
      .agg(
        count(lit(1)).as("n_orders"),
        Relational.moneySum(col("value")).as("revenue"),
        Relational.moneyAvg(col("value")).as("avg_order"),
        sum6(col("estimated_profit_usd")).as("total_profit")))
      .orderBy(col("revenue").desc, col("customer_segment"))

  /** VIP ∧ Premium per-category breakdown (streamlit_app.py:703-708):
    * count / revenue / mean amount / mean CLV per category, revenue
    * descending.
    */
  def vipCategoryBreakdown(e: DataFrame): DataFrame = {
    val vip = e.filter(col("customer_segment") === "VIP" && col("amount_category") === "Premium")
    Views.groupTail(vip.groupBy(col("event_type").as("category"))
      .agg(
        count(lit(1)).as("n_orders"),
        Relational.moneySum(col("value")).as("total_revenue"),
        Relational.moneyAvg(col("value")).as("avg_amount"),
        round(sum(col("estimated_clv").cast("decimal(20,4)")).cast("double")
          / count(lit(1)), 4).as("avg_clv")))
      .orderBy(col("total_revenue").desc, col("category"))
  }

  /** Anomaly amount distribution (streamlit_app.py:787-795 nbins=30): the
    * histogram op over the anomalous rows only.
    */
  def anomalyHistogram(e: DataFrame): DataFrame =
    Relational.histogram(e.filter(col("is_anomaly")), col("value"), 10.0)

  /** Satisfaction × amount-tier crosstab (streamlit_app.py:873-894), with
    * the ordinal column order the reference reindexes to.
    */
  def satisfactionPivot(e: DataFrame): DataFrame =
    Relational.pivotSum(
      e.withColumn("one", lit(1L)), "satisfaction_level", "amount_category",
      Seq("Low", "Medium", "High", "Premium"), "one")

  /** Anomalous-transaction analysis per hour (streamlit_app.py:769-800). */
  def anomalyHourly(e: DataFrame): DataFrame =
    Relational.timeBucketAgg(
        e.filter(col("is_anomaly")), col("ts"), "hour",
        Seq(count(lit(1)).as("n_anomalies"),
          Relational.moneySum(col("value")).as("anomaly_value")))
      .select(Relational.tsStr(col("bucket")).as("bucket"),
        col("n_anomalies"), col("anomaly_value"))

  /** Anomaly amount/count per category (streamlit_app.py:769-771), amount
    * descending. `event_type` plays the product category in the enrich tier.
    */
  def anomalyByCategory(e: DataFrame): DataFrame =
    Views.groupTail(e.filter(col("is_anomaly"))
      .groupBy(col("event_type").as("category"))
      .agg(count(lit(1)).as("n_anomalies"),
        Relational.moneySum(col("value")).as("total_amount")))
      .orderBy(col("total_amount").desc, col("category"))

  /** Top-15 anomaly locations (streamlit_app.py:798-801): location joins in
    * from the nation dimension (broadcast — the dim is tiny by contract),
    * keyed deterministically off the customer id.
    */
  def anomalyByLocation(e: DataFrame, nation: DataFrame): DataFrame =
    e.filter(col("is_anomaly"))
      .join(broadcast(nation), pmod(col("user_id"), lit(25)) === col("n_nationkey"))
      .groupBy(col("n_name").as("location"))
      .agg(count(lit(1)).as("n_anomalies"),
        Relational.moneySum(col("value")).as("total_amount"))
      .orderBy(col("total_amount").desc, col("location"))
      .limit(15)

  /** Category × satisfaction crosstab (streamlit_app.py:882-894), columns
    * in the ordinal order the reference reindexes to. The pivot declares
    * the four levels [[Enrich]] can emit, so the output schema is fixed
    * and building the frame runs no level-discovery job; a (category,
    * level) pair absent from the data counts 0.
    */
  def categorySatisfactionPivot(e: DataFrame): DataFrame =
    Views.groupTail(e.groupBy(col("event_type").as("category"))
      .pivot("satisfaction_level", Seq("Very Satisfied", "Satisfied", "Neutral", "Dissatisfied"))
      .count().na.fill(0))
      .orderBy("category")

  /** Amount-tier order counts (streamlit_app.py:950-957 value_counts bar). */
  def amountCategoryCounts(e: DataFrame): DataFrame =
    Relational.valueCounts(e, "amount_category")

  /** Frequency-tier order counts (streamlit_app.py:961-966 pie). */
  def frequencyCategoryCounts(e: DataFrame): DataFrame =
    Relational.valueCounts(e, "frequency_category")

  /** Loyalty-score distribution of VIP ∧ Premium orders
    * (streamlit_app.py:727-733 donut).
    */
  def vipLoyaltyCounts(e: DataFrame): DataFrame =
    Relational.valueCounts(
      e.filter(col("customer_segment") === "VIP" && col("amount_category") === "Premium"),
      "loyalty_score")

  /** Top-10 categories by revenue (streamlit_app.py:440-449): group-sum,
    * revenue-descending, bounded — TakeOrderedAndProject, no global sort.
    */
  def categoryRevenueTop10(e: DataFrame): DataFrame =
    e.groupBy(col("event_type").as("category"))
      .agg(Relational.moneySum(col("value")).as("revenue"))
      .orderBy(col("revenue").desc, col("category"))
      .limit(10)

  /** All-orders amount distribution (streamlit_app.py:455-462 nbins=50):
    * the histogram op bound to the full table, not just the anomaly subset.
    */
  def amountHistogram(e: DataFrame): DataFrame =
    Relational.histogram(e, col("value"), 10.0)

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    // each call enriches a fresh, batch-deterministic events scan
    def panel(f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
      (s, d) => f(Enrich.enrich(Tables(s, d).events, processedTime = col("ts")))
    Map(
      "enriched_orders"    -> ((s, d) => enrichedFrame(Tables(s, d).events).orderBy("event_id")),
      "enriched_metrics"   -> panel(enrichedMetrics),
      "segment_revenue"    -> panel(segmentRevenue),
      "satisfaction_pivot" -> panel(satisfactionPivot),
      "anomaly_hourly"     -> panel(anomalyHourly),
      "anomaly_by_category" -> panel(anomalyByCategory),
      "anomaly_by_location" -> ((s, d) => panel(anomalyByLocation(_, Tables(s, d).nation))(s, d)),
      "category_satisfaction_pivot" -> panel(categorySatisfactionPivot),
      "vip_category_breakdown" -> panel(vipCategoryBreakdown),
      "anomaly_histogram" -> panel(anomalyHistogram),
      "amount_category_counts" -> panel(amountCategoryCounts),
      "frequency_category_counts" -> panel(frequencyCategoryCounts),
      "vip_loyalty_counts" -> panel(vipLoyaltyCounts),
      "category_revenue_top10" -> panel(categoryRevenueTop10),
      "amount_histogram" -> panel(amountHistogram),
    )
  }

  /** The customer-segment CASE in DuckDB SQL — one source of truth for
    * every oracle that groups or filters by segment.
    */
  val segmentCaseSql: String =
    """CASE WHEN user_id % 10 = 0 THEN 'VIP'
      |       WHEN user_id % 10 <= 3 THEN 'Premium'
      |       WHEN user_id % 10 <= 7 THEN 'Regular'
      |       ELSE 'New' END""".stripMargin

  /** The amount-tier CASE in DuckDB SQL — one source of truth for every
    * oracle that buckets by amount category.
    */
  val amountCaseSql: String =
    s"""CASE WHEN value >= ${Enrich.PremiumMin} THEN 'Premium'
       |       WHEN value >= ${Enrich.HighMin} THEN 'High'
       |       WHEN value >= ${Enrich.MediumMin} THEN 'Medium'
       |       ELSE 'Low' END""".stripMargin

  /** The frequency-tier CASE in DuckDB SQL (mirror of derivedSql's). */
  val frequencyCaseSql: String =
    """CASE WHEN user_id % 7 <= 1 THEN 'Rare'
      |       WHEN user_id % 7 <= 4 THEN 'Occasional'
      |       WHEN user_id % 7 = 5 THEN 'Frequent'
      |       ELSE 'Very Frequent' END""".stripMargin

  /** Shared oracle CTE: the enrichment formulas with the SAME declared
    * constants as [[Enrich]] (decimal-exact money math, mirrored verbatim).
    */
  val enrichedSql: String =
    s"""SELECT
       |  event_id, ts, user_id, event_type, value, props,
       |  CAST(json_extract_string(props, '$$.k') AS BIGINT) % 5 + 1 AS rating,
       |  CAST(value AS DECIMAL(18,2)) *
       |    (CASE WHEN value >= ${Enrich.PremiumMin} THEN CAST(${Enrich.DiscountPremium} AS DECIMAL(3,2))
       |          WHEN value >= ${Enrich.HighMin} THEN CAST(${Enrich.DiscountHigh} AS DECIMAL(3,2))
       |          ELSE CAST(1.00 AS DECIMAL(3,2)) END) AS fin
       |FROM events""".stripMargin

  /** The 11 derived columns in DuckDB SQL (over the `e` CTE above). */
  val derivedSql: String =
    s"""strftime(ts, '%Y-%m-%d %H:%M:%S') AS processed_time,
       |  CAST(fin AS DOUBLE) AS final_amount_usd,
       |  $amountCaseSql AS amount_category,
       |  $segmentCaseSql AS customer_segment,
       |  CASE WHEN rating >= 5 THEN 'Very Satisfied'
       |       WHEN rating = 4 THEN 'Satisfied'
       |       WHEN rating = 3 THEN 'Neutral'
       |       ELSE 'Dissatisfied' END AS satisfaction_level,
       |  (value > ${Enrich.AnomalyAmount} OR event_type = 'error') AS is_anomaly,
       |  CAST(fin * CAST(${Enrich.ClvFactor} AS DECIMAL(2,0)) AS DOUBLE) AS estimated_clv,
       |  CASE WHEN user_id % 7 <= 1 THEN 'Rare'
       |       WHEN user_id % 7 <= 4 THEN 'Occasional'
       |       WHEN user_id % 7 = 5 THEN 'Frequent'
       |       ELSE 'Very Frequent' END AS frequency_category,
       |  CAST(fin * CAST(${Enrich.ProfitMargin} AS DECIMAL(3,2)) AS DOUBLE) AS estimated_profit_usd,
       |  CASE WHEN month(ts) IN (12, 1, 2) THEN 'Winter'
       |       WHEN month(ts) IN (3, 4, 5) THEN 'Spring'
       |       WHEN month(ts) IN (6, 7, 8) THEN 'Summer'
       |       ELSE 'Autumn' END AS season_type,
       |  CAST((user_id * 31 + 7) % 101 AS INTEGER) AS loyalty_score""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "enriched_orders" ->
      s"""WITH e AS ($enrichedSql)
         |SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, user_id,
         |  event_type, value, props,
         |  $derivedSql
         |FROM e ORDER BY event_id""".stripMargin,

    "segment_revenue" ->
      s"""WITH e AS ($enrichedSql)
         |SELECT $segmentCaseSql AS customer_segment,
         |  count(*) AS n_orders,
         |  ${Catalog.moneySumSql("value")} AS revenue,
         |  ${Catalog.moneyAvgSql("value")} AS avg_order,
         |  CAST(sum(fin * CAST(${Enrich.ProfitMargin} AS DECIMAL(3,2))) AS DOUBLE) AS total_profit
         |FROM e GROUP BY 1
         |ORDER BY revenue DESC, customer_segment""".stripMargin,

    "vip_category_breakdown" ->
      s"""WITH e AS ($enrichedSql)
         |SELECT event_type AS category,
         |  count(*) AS n_orders,
         |  ${Catalog.moneySumSql("value")} AS total_revenue,
         |  ${Catalog.moneyAvgSql("value")} AS avg_amount,
         |  round(CAST(sum(fin * CAST(${Enrich.ClvFactor} AS DECIMAL(2,0))) AS DOUBLE) / count(*), 4) AS avg_clv
         |FROM e
         |WHERE user_id % 10 = 0 AND value >= ${Enrich.PremiumMin}
         |GROUP BY 1
         |ORDER BY total_revenue DESC, category""".stripMargin,

    "anomaly_histogram" ->
      s"""SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
         |       count(*) AS n,
         |       CAST(floor(value / 10.0) AS BIGINT) * 10.0 AS lo
         |FROM events
         |WHERE value > ${Enrich.AnomalyAmount} OR event_type = 'error'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "satisfaction_pivot" ->
      s"""WITH e AS ($enrichedSql),
         |r AS (SELECT
         |  CASE WHEN rating >= 5 THEN 'Very Satisfied'
         |       WHEN rating = 4 THEN 'Satisfied'
         |       WHEN rating = 3 THEN 'Neutral'
         |       ELSE 'Dissatisfied' END AS satisfaction_level,
         |  $amountCaseSql AS amount_category
         |FROM e)
         |SELECT satisfaction_level,
         |  CAST(sum(CASE WHEN amount_category = 'Low' THEN 1 ELSE 0 END) AS BIGINT) AS "Low",
         |  CAST(sum(CASE WHEN amount_category = 'Medium' THEN 1 ELSE 0 END) AS BIGINT) AS "Medium",
         |  CAST(sum(CASE WHEN amount_category = 'High' THEN 1 ELSE 0 END) AS BIGINT) AS "High",
         |  CAST(sum(CASE WHEN amount_category = 'Premium' THEN 1 ELSE 0 END) AS BIGINT) AS "Premium"
         |FROM r GROUP BY satisfaction_level
         |ORDER BY satisfaction_level""".stripMargin,

    "anomaly_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
         |  count(*) AS n_anomalies,
         |  ${Catalog.moneySumSql("value")} AS anomaly_value
         |FROM events
         |WHERE value > ${Enrich.AnomalyAmount} OR event_type = 'error'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "anomaly_by_category" ->
      s"""SELECT event_type AS category,
         |  count(*) AS n_anomalies,
         |  ${Catalog.moneySumSql("value")} AS total_amount
         |FROM events
         |WHERE value > ${Enrich.AnomalyAmount} OR event_type = 'error'
         |GROUP BY 1 ORDER BY total_amount DESC, category""".stripMargin,

    "anomaly_by_location" ->
      s"""SELECT n_name AS location,
         |  count(*) AS n_anomalies,
         |  ${Catalog.moneySumSql("value")} AS total_amount
         |FROM events JOIN nation ON user_id % 25 = n_nationkey
         |WHERE value > ${Enrich.AnomalyAmount} OR event_type = 'error'
         |GROUP BY 1 ORDER BY total_amount DESC, location LIMIT 15""".stripMargin,

    "category_satisfaction_pivot" ->
      s"""WITH e AS ($enrichedSql)
         |SELECT event_type AS category,
         |  CAST(sum(CASE WHEN rating >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS "Very Satisfied",
         |  CAST(sum(CASE WHEN rating = 4 THEN 1 ELSE 0 END) AS BIGINT) AS "Satisfied",
         |  CAST(sum(CASE WHEN rating = 3 THEN 1 ELSE 0 END) AS BIGINT) AS "Neutral",
         |  CAST(sum(CASE WHEN rating <= 2 OR rating IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "Dissatisfied"
         |FROM e GROUP BY event_type
         |ORDER BY category""".stripMargin,

    "amount_category_counts" ->
      s"""SELECT $amountCaseSql AS amount_category, count(*) AS n
         |FROM events
         |GROUP BY 1 ORDER BY n DESC, amount_category ASC""".stripMargin,

    "frequency_category_counts" ->
      s"""SELECT $frequencyCaseSql AS frequency_category, count(*) AS n
         |FROM events
         |GROUP BY 1 ORDER BY n DESC, frequency_category ASC""".stripMargin,

    "vip_loyalty_counts" ->
      s"""SELECT CAST((user_id * 31 + 7) % 101 AS INTEGER) AS loyalty_score,
         |  count(*) AS n
         |FROM events
         |WHERE user_id % 10 = 0 AND value >= ${Enrich.PremiumMin}
         |GROUP BY 1 ORDER BY n DESC, loyalty_score ASC""".stripMargin,

    "category_revenue_top10" ->
      s"""SELECT event_type AS category,
         |  ${Catalog.moneySumSql("value")} AS revenue
         |FROM events
         |GROUP BY 1 ORDER BY revenue DESC, category LIMIT 10""".stripMargin,

    "amount_histogram" ->
      s"""SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
         |       count(*) AS n,
         |       CAST(floor(value / 10.0) AS BIGINT) * 10.0 AS lo
         |FROM events
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "enriched_metrics" ->
      s"""WITH e AS ($enrichedSql)
         |SELECT count(*) AS n_orders,
         |  ${Catalog.moneySumSql("value")} AS raw_revenue,
         |  CAST(sum(fin) AS DOUBLE) AS final_revenue,
         |  CAST(sum(fin * CAST(${Enrich.ProfitMargin} AS DECIMAL(3,2))) AS DOUBLE) AS total_profit,
         |  count(*) FILTER (WHERE value > ${Enrich.AnomalyAmount} OR event_type = 'error') AS n_anomalies,
         |  count(*) FILTER (WHERE value > ${Enrich.AnomalyAmount} OR event_type = 'error') * CAST(100.0 AS DOUBLE) / count(*) AS anomaly_rate_pct,
         |  count(*) FILTER (WHERE user_id % 10 = 0) AS n_vip_orders
         |FROM e""".stripMargin,
  )
}
