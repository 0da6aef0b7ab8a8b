package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.shopping.Views

/** The reference's named-SQL-object surface (SURVEY §1.1: views are
  * `CREATE OR REPLACE VIEW`s the dashboard re-reads by name every poll,
  * streamlit_app.py:223-285): registers the base tables and the four
  * analytic views as temp views so `spark.sql("SELECT ... FROM v_...")`
  * works as the query interface.
  *
  * Temp views are logical — each `spark.sql` re-expands the plan, exactly
  * like BigQuery view inlining, so Catalyst re-optimizes per query with the
  * caller's filters pushed all the way into the scan.
  */
object ViewRegistry {

  def registerTables(t: Tables): Unit =
    Seq(
      "region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings,
    ).foreach { case (n, df) => df.createOrReplaceTempView(n) }

  def registerViews(t: Tables): Unit = {
    val b = Views.base(t)
    Views.agePreferences(b).createOrReplaceTempView("v_age_preferences")
    Views.genderPreferences(b).createOrReplaceTempView("v_gender_preferences")
    Views.locationPreferences(b).createOrReplaceTempView("v_location_preferences")
    Views.ageGenderCategory(b).createOrReplaceTempView("v_age_gender_category")
  }

  def registerAll(t: Tables): Unit = { registerTables(t); registerViews(t) }
}

/** The reference's `@st.cache_data(ttl=...)` semantics (streamlit_app.py:
  * 159,218-269): memoize a materialized DataFrame for `ttlMillis`, rebuild
  * and re-cache on expiry. The clock is injectable for tests.
  */
final class TtlCache(build: () => DataFrame, ttlMillis: Long,
                     clock: () => Long = () => System.currentTimeMillis()) {
  @volatile private var state: Option[(DataFrame, Long)] = None

  /** The cached frame, rebuilt if stale. */
  def get(): DataFrame = synchronized {
    state match {
      case Some((df, at)) if clock() - at < ttlMillis => df
      case prev =>
        prev.foreach(_._1.unpersist())
        val df = build().cache()
        state = Some((df, clock()))
        df
    }
  }

  /** Whether [[get]] would serve the held frame without a rebuild. */
  def isFresh: Boolean = state.exists { case (_, at) => clock() - at < ttlMillis }

  def invalidate(): Unit = synchronized {
    state.foreach(_._1.unpersist())
    state = None
  }
}
