package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.engine.Tables
import graft.shopping.Dashboard

/** The dashboard facade: fetchers, TTL snapshots, degrade-to-empty. */
class DashboardSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val dash = new Dashboard(spark, sf)

  /** A temp copy of the sf0.001 tables the dashboard reads. */
  private def tablesCopy(): Path = {
    val dir = Files.createTempDirectory("graft-dashboard")
    Seq("events", "orders", "customer", "nation").foreach { n =>
      Files.copy(Paths.get(s"$sf/$n.parquet"), dir.resolve(s"$n.parquet"))
    }
    dir
  }

  test("latestOrders serves the newest enriched records, bounded") {
    val rows = dash.fetchPage(dash.latestOrders(50), 50)
    assert(rows.length === 50)
    val times = rows.map(_.getAs[java.sql.Timestamp]("processed_time").getTime)
    assert(times === times.sorted.reverse, "newest first")
    assert(rows.head.schema.fieldNames.contains("customer_segment"))
  }

  test("view fetchers return the analytic views") {
    assert(dash.agePreferences().columns.toSeq ===
      Seq("age_bucket", "orders", "avg_spend", "avg_rating", "top_category"))
    assert(dash.locationPreferences().count() > 0)
    assert(dash.ageGenderCategory(10).count() === 10)
    assert(dash.metrics().columns.contains("anomaly_rate_pct"))
    assert(dash.hourlyActivity().count() > 0)
    assert(dash.eventTypes().count() === 5)
  }

  test("analysis-tab fetchers serve the anomaly and VIP breakdowns") {
    assert(dash.anomalyByCategory().columns.toSeq ===
      Seq("category", "n_anomalies", "total_amount"))
    assert(dash.anomalyByLocation().count() <= 15)
    assert(dash.anomalyHistogram().columns.toSeq === Seq("bin", "n", "lo"))
    assert(dash.categorySatisfactionPivot().columns.toSeq ===
      Seq("category", "Very Satisfied", "Satisfied", "Neutral", "Dissatisfied"))
    assert(dash.vipCategoryBreakdown().columns.contains("avg_clv"))
  }

  test("ttl caching reuses the same plan within the window") {
    val d1 = dash.agePreferences()
    val d2 = dash.agePreferences()
    // same underlying cached DataFrame instance feeds both calls
    assert(d1.queryExecution.logical.sameResult(d2.queryExecution.logical))
  }

  test("the first fetch after a TTL expiry reads the rewritten tables") {
    val dir = tablesCopy()
    var now = 0L
    val d = new Dashboard(spark, dir.toString, clock = () => now)
    def orders(): Long = d.fetchPage(d.metrics()).head.getAs[Long]("n_orders")
    def viewOrders(): Long = d.fetchPage(d.agePreferences()).map(_.getAs[Long]("orders")).sum
    val src = Tables(spark, sf)
    d.fetchPage(d.latestOrders())
    assert(orders() === src.events.count())
    assert(viewOrders() === src.orders.count(), "every order joins its customer and nation")

    // a re-export keeps the file's own ts type, so the rebuilt plan matches
    // the cached one; no feed panel runs after it: the tile must refresh
    val events = s"$sf/events.parquet"
    writeParquetFile(spark.read.schema(Tables.eventsSchemaOf(spark, events)).parquet(events).limit(500),
      dir.resolve("events.parquet"))
    now += 10000
    assert(orders() === 500)

    writeParquetFile(src.orders.limit(300), dir.resolve("orders.parquet"))
    now += 30000
    assert(viewOrders() === 300)
    d.invalidate()
  }

  test("every frame-backed panel equals its registered query and reads only its snapshot") {
    val dir = tablesCopy().toString
    var now = 0L
    val d = new Dashboard(spark, dir, clock = () => now)
    def flat(df: DataFrame) = df.withColumn("top_categories", concat_ws(",", col("top_categories")))
    // (registered query, panel, whether Dashboard re-orders or bounds it)
    val panels: Seq[(String, () => DataFrame, Boolean)] = Seq(
      ("enriched_metrics", () => d.metrics(), false),
      ("segment_revenue", () => d.segmentRevenue(), false),
      ("satisfaction_pivot", () => d.satisfactionPivot(), false),
      ("anomaly_hourly", () => d.anomalyHourly(), false),
      ("anomaly_by_category", () => d.anomalyByCategory(), false),
      ("anomaly_by_location", () => d.anomalyByLocation(), false),
      ("anomaly_histogram", () => d.anomalyHistogram(), false),
      ("category_satisfaction_pivot", () => d.categorySatisfactionPivot(), false),
      ("vip_category_breakdown", () => d.vipCategoryBreakdown(), false),
      ("category_revenue_top10", () => d.topCategoriesByRevenue(), false),
      ("amount_histogram", () => d.amountHistogram(), false),
      ("amount_category_counts", () => d.amountCategoryCounts(), false),
      ("frequency_category_counts", () => d.frequencyCategoryCounts(), false),
      ("vip_loyalty_counts", () => d.vipLoyaltyCounts(), false),
      ("v_age_preferences", () => d.agePreferences(), false),
      ("v_gender_preferences", () => d.genderPreferences(), false),
      ("v_location_preferences", () => flat(d.locationPreferences()), true),
      ("v_age_gender_category", () => d.ageGenderCategory(1000), true))
    // registered results first, while no snapshot of this copy is cached
    val expected = panels.map { case (q, _, _) => q -> SparkEntry.queries(q)(spark, dir).collect().toSeq }.toMap
    panels.foreach { case (q, panel, reordered) =>
      now += 30000 // past both TTLs: each panel is the first fetch of a refresh
      val df = panel()
      val others = collectLeaves(df.queryExecution.executedPlan)
        .filterNot(_.isInstanceOf[InMemoryTableScanExec]).map(_.simpleString(200))
      if (q == "anomaly_by_location")
        assert(others.nonEmpty && others.forall(_.contains("nation.parquet")), s"$q: $others")
      else assert(others.isEmpty, s"$q reads more than its snapshot: $others")
      val rows = df.collect().toSeq
      if (reordered) assert(rows.toSet === expected(q).toSet && rows.length === expected(q).length, q)
      else assert(rows === expected(q), q)
    }
    d.invalidate()
  }

  test("orEmpty degrades a failing query to an empty typed frame") {
    val schema = StructType(Seq(StructField("x", StringType)))
    val out = dash.orEmpty(schema)(sys.error("boom"))
    assert(out.schema === schema && out.count() === 0)
  }
}
