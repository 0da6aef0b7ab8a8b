package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Tables, ViewRegistry}
import graft.ops.Serving
import graft.shopping.Dashboard

/** Full refreshes of one session-scoped [[Dashboard]]: every EP1/EP2
  * fetcher, metric tile, analysis tab and distribution tile through
  * `fetchPage`, plus the reference's SQL-over-view-name statements. The
  * injected clock advances 30 s per refresh, past both cache TTLs, so every
  * refresh rebuilds every cache (the worst case the TTLs must cover).
  *
  * `catalog_pass` runs these in its traced tail for the `dashboard.*`
  * layer metrics; every fetched page is checked against its fingerprint.
  */
object DashboardRefresh {
  val ClockStepMs = 30000L
  val PageRows = 100

  /** The multiselect filter menu: (event types, customer segments). The
    * seed picks one entry per refresh; each has a stored fingerprint.
    */
  val FilterMenu: Seq[(Seq[String], Seq[String])] = Seq(
    Seq("purchase") -> Seq("VIP"),
    Seq("purchase", "view") -> Seq("VIP", "Regular"),
    Seq("click") -> Seq("Regular"),
    Seq("click", "error", "signup") -> Seq("New"),
    Seq("view") -> Seq("VIP", "New"),
    Seq("error", "purchase") -> Seq("Regular", "New"),
    Seq("signup", "view", "click") -> Seq("VIP"),
    Seq("click", "error", "purchase", "signup", "view") -> Seq("VIP", "Regular", "New"))

  /** The reference's SQL-over-view-names statements (streamlit_app.py:223-285). */
  val Statements: Seq[(String, String)] = Seq(
    "sql_age" -> "SELECT * FROM v_age_preferences ORDER BY age_bucket",
    "sql_gender" -> "SELECT * FROM v_gender_preferences ORDER BY gender",
    "sql_location_top5" ->
      "SELECT location, orders, avg_spend FROM v_location_preferences ORDER BY orders DESC, location LIMIT 5",
    "sql_age_gender_category" ->
      "SELECT * FROM v_age_gender_category ORDER BY orders DESC, age_bucket, gender, category LIMIT 50")

  private final case class Panel(name: String, group: String, df: () => DataFrame)

  private def panels(spark: SparkSession, dash: Dashboard,
                     filter: (Seq[String], Seq[String])): Seq[Panel] = Seq(
    Panel("latest_orders", "feed", () => dash.latestOrders(1000)),
    Panel("filtered_orders", "feed", () =>
      Serving.whereIn(Serving.whereIn(dash.latestOrders(1000), "event_type", filter._1),
        "customer_segment", filter._2)),
    Panel("age_preferences", "views", () => dash.agePreferences()),
    Panel("gender_preferences", "views", () => dash.genderPreferences()),
    Panel("location_preferences", "views", () => dash.locationPreferences()),
    Panel("age_gender_category", "views", () => dash.ageGenderCategory()),
    Panel("metrics", "tiles", () => dash.metrics()),
    Panel("hourly_activity", "tiles", () => dash.hourlyActivity()),
    Panel("top_categories_volume", "tiles", () => dash.topCategoriesByVolume()),
    Panel("top_categories_revenue", "tiles", () => dash.topCategoriesByRevenue()),
    Panel("amount_histogram", "tiles", () => dash.amountHistogram()),
    Panel("amount_category_counts", "tiles", () => dash.amountCategoryCounts()),
    Panel("frequency_category_counts", "tiles", () => dash.frequencyCategoryCounts()),
    Panel("vip_loyalty_counts", "tiles", () => dash.vipLoyaltyCounts()),
    Panel("event_types", "tiles", () => dash.eventTypes()),
    Panel("segments", "tiles", () => dash.segments()),
    Panel("segment_revenue", "tabs", () => dash.segmentRevenue()),
    Panel("satisfaction_pivot", "tabs", () => dash.satisfactionPivot()),
    Panel("anomaly_hourly", "tabs", () => dash.anomalyHourly()),
    Panel("anomaly_by_category", "tabs", () => dash.anomalyByCategory()),
    Panel("anomaly_by_location", "tabs", () => dash.anomalyByLocation()),
    Panel("anomaly_histogram", "tabs", () => dash.anomalyHistogram()),
    Panel("category_satisfaction_pivot", "tabs", () => dash.categorySatisfactionPivot()),
    Panel("vip_category_breakdown", "tabs", () => dash.vipCategoryBreakdown()),
  ) ++ Statements.map { case (n, q) => Panel(n, "sql", () => spark.sql(q)) }

  /** Set up a fresh session's dashboard, then run `filters.size` full
    * refreshes, one per filter-menu index. With the tracer on, the last
    * refresh's per-group times and job count become `dashboard.*` layers.
    */
  def run(h: Harness, spark: SparkSession, filters: Seq[Int],
          expected: Map[String, String]): Unit = {
    var clockMs = 1700000000000L
    ViewRegistry.registerAll(Tables(spark, h.args.data))
    val dash = new Dashboard(spark, h.args.data, clock = () => clockMs)
    val groupMs = mutable.LinkedHashMap("feed" -> 0.0, "views" -> 0.0, "tiles" -> 0.0,
      "tabs" -> 0.0, "sql" -> 0.0, "fetch" -> 0.0)
    val panelJobs = mutable.LinkedHashMap[String, Double]()
    def jobsNow(): Long = if (h.tracer.on) { h.drain(); h.probe.jobs } else 0L
    filters.foreach { fi =>
      clockMs += ClockStepMs
      groupMs.keys.foreach(groupMs(_) = 0.0)
      h.tracer.span("refresh", "cycle") {
        panels(spark, dash, FilterMenu(fi)).foreach { p =>
          val jobs0 = jobsNow()
          val (rows, s) = h.op(s"dashboard.${p.name}", "shopping")(p.df()) { df =>
            val f0 = System.nanoTime()
            val r = h.tracer.span("fetchPage", "fetch")(dash.fetchPage(df, PageRows))
            groupMs("fetch") += (System.nanoTime() - f0) / 1e6
            r
          }
          groupMs(p.group) += s * 1000
          panelJobs(p.name) = (jobsNow() - jobs0).toDouble
          val key = if (p.name == "filtered_orders") s"dashboard.${p.name}#$fi" else s"dashboard.${p.name}"
          h.result.attempted += 1
          h.check(key, Harness.fingerprint(rows.iterator), expected)
        }
      }
    }
    if (h.tracer.on) {
      val l = h.result.layers
      groupMs.foreach { case (g, ms) => l(s"dashboard.${g}_s") = ms / 1000 }
      l("dashboard.jobs_per_refresh") = panelJobs.values.sum
      h.result.jobCounts("refresh") = panelJobs.values.sum
      panelJobs.foreach { case (n, j) => h.result.jobCounts(s"panel.$n") = j }
    }
  }
}
