package graft.shopping

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.engine.{Tables, TtlCache}
import graft.ops.{Relational, Serving}

/** The reference dashboard's backend surface (streamlit_app.py entry
  * points EP1/EP2, SURVEY §3), as one session-scoped facade: every fetcher
  * the UI calls per refresh, backed by the engine instead of a warehouse +
  * client-side pandas.
  *
  * Caching mirrors the reference's `@st.cache_data` TTLs (10 s for the live
  * feed, 30 s for views, streamlit_app.py:159,218-269) with two snapshots:
  * the enriched `events` frame (`ordersTtlMs`), which the feed, every metric
  * and distribution tile and every analysis tab read, and the view base
  * `orders ⋈ customer ⋈ nation` (`viewsTtlMs`), which the four views read.
  * Each fetcher hands its snapshot to the [[EnrichCatalog]] or [[Views]]
  * function, so the first call after a TTL expiry rebuilds the snapshot and
  * every panel of one window reads the same data. `fetchPage` is the
  * serving-edge materialization (the only driver-side collect in the
  * library, bounded by `limit`). Failed queries degrade to an empty frame
  * like the reference's warning path (streamlit_app.py:195-216).
  */
final class Dashboard(spark: SparkSession, dataDir: String,
                      ordersTtlMs: Long = 10000, viewsTtlMs: Long = 30000,
                      clock: () => Long = () => System.currentTimeMillis()) {

  private val t = Tables(spark, dataDir)

  private def cached(ttl: Long)(build: => DataFrame) =
    new TtlCache(() => build, ttl, clock)

  private val enrichedOrders = cached(ordersTtlMs) {
    Enrich.enrich(t.events, processedTime = col("ts"))
  }
  private val base = cached(viewsTtlMs)(Views.base(t))

  /** EP1: the live feed — newest `limit` enriched orders. */
  def latestOrders(limit: Int = 1000): DataFrame =
    Serving.topN(enrichedOrders.get(),
      Seq(col("processed_time").desc, col("event_id").desc), limit)

  /** EP2: the four analytic views over the TTL-cached base snapshot. */
  def agePreferences(): DataFrame = Views.agePreferences(base.get()).orderBy("age_bucket")
  def genderPreferences(): DataFrame = Views.genderPreferences(base.get()).orderBy("gender")
  def locationPreferences(): DataFrame =
    Views.locationPreferences(base.get()).orderBy(desc("orders"), col("location"))
  def ageGenderCategory(limit: Int = 50): DataFrame =
    Serving.topN(Views.ageGenderCategory(base.get()), Seq(col("orders").desc,
      col("age_bucket"), col("gender"), col("category")), limit)

  /** The metric tiles (streamlit_app.py:333-352). */
  def metrics(): DataFrame = EnrichCatalog.enrichedMetrics(enrichedOrders.get())

  /** Hourly activity chart (streamlit_app.py:374-379). */
  def hourlyActivity(): DataFrame =
    Relational.timeBucketAgg(enrichedOrders.get(), col("ts"), "hour",
      Seq(count(lit(1)).as("n"), Relational.moneySum(col("value")).as("revenue")))

  /** The analysis tabs (streamlit_app.py:680-894). */
  def segmentRevenue(): DataFrame = EnrichCatalog.segmentRevenue(enrichedOrders.get())
  def satisfactionPivot(): DataFrame = EnrichCatalog.satisfactionPivot(enrichedOrders.get())
  def anomalyHourly(): DataFrame = EnrichCatalog.anomalyHourly(enrichedOrders.get())
  def anomalyByCategory(): DataFrame = EnrichCatalog.anomalyByCategory(enrichedOrders.get())
  def anomalyByLocation(): DataFrame =
    EnrichCatalog.anomalyByLocation(enrichedOrders.get(), t.nation)
  def anomalyHistogram(): DataFrame = EnrichCatalog.anomalyHistogram(enrichedOrders.get())
  def categorySatisfactionPivot(): DataFrame =
    EnrichCatalog.categorySatisfactionPivot(enrichedOrders.get())
  def vipCategoryBreakdown(): DataFrame = EnrichCatalog.vipCategoryBreakdown(enrichedOrders.get())

  /** Distribution tiles (streamlit_app.py:426-462,727,950-966). */
  def topCategoriesByVolume(limit: Int = 10): DataFrame =
    Serving.topN(Relational.valueCounts(enrichedOrders.get(), "event_type"),
      Seq(col("n").desc, col("event_type")), limit)
  def topCategoriesByRevenue(): DataFrame = EnrichCatalog.categoryRevenueTop10(enrichedOrders.get())
  def amountHistogram(): DataFrame = EnrichCatalog.amountHistogram(enrichedOrders.get())
  def amountCategoryCounts(): DataFrame = EnrichCatalog.amountCategoryCounts(enrichedOrders.get())
  def frequencyCategoryCounts(): DataFrame =
    EnrichCatalog.frequencyCategoryCounts(enrichedOrders.get())
  def vipLoyaltyCounts(): DataFrame = EnrichCatalog.vipLoyaltyCounts(enrichedOrders.get())

  /** Filter-widget domains (streamlit_app.py:984,990). */
  def eventTypes(): DataFrame = Serving.distinctValues(enrichedOrders.get(), "event_type")
  def segments(): DataFrame = Serving.distinctValues(enrichedOrders.get(), "customer_segment")

  /** Serving-edge materialization: the bounded driver-side fetch that hands
    * rows to a UI (the reference's `.to_dataframe()` hop).
    */
  def fetchPage(df: DataFrame, limit: Int = 100): Seq[Row] =
    df.limit(limit).collect().toSeq

  /** Degrade-to-empty error path: a failing query yields an empty frame of
    * the declared schema (plus a driver-side warning), never an exception
    * to the UI.
    */
  def orEmpty(schema: StructType)(build: => DataFrame): DataFrame =
    try build catch {
      case e: Throwable =>
        System.err.println(s"[dashboard] query failed, serving empty: ${e.getMessage}")
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }

  /** Drop all caches (the reference's manual invalidation, streamlit_app.py:313). */
  def invalidate(): Unit = { enrichedOrders.invalidate(); base.invalidate() }
}
