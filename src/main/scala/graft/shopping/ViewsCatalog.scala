package graft.shopping

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}

import graft.engine.{Catalog, Tables}
import graft.engine.Catalog.moneyAvgSql

/** Driver-contract wiring + DuckDB oracles for the 4 reference views.
  *
  * `v_location_preferences` crosses the oracle boundary with its
  * ARRAY<STRING> flattened to a comma-joined string (the driver's pandas
  * sort cannot hash numpy arrays); the array-returning
  * [[Views.locationPreferences]] stays the library API.
  */
object ViewsCatalog extends Catalog {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v_age_preferences"      -> ((s, d) => Views.agePreferences(Views.base(Tables(s, d)))),
    "v_gender_preferences"   -> ((s, d) => Views.genderPreferences(Views.base(Tables(s, d)))),
    "v_location_preferences" -> ((s, d) =>
      Views.locationPreferences(Views.base(Tables(s, d)))
        .withColumn("top_categories", concat_ws(",", col("top_categories")))),
    "v_age_gender_category"  -> ((s, d) => Views.ageGenderCategory(Views.base(Tables(s, d)))),

    // the reference's actual query interface: SQL over registered view names
    // (streamlit_app.py:223-226) — prove the spark.sql surface end-to-end
    "sql_location_top5" -> ((s, d) => {
      graft.engine.ViewRegistry.registerAll(Tables(s, d))
      s.sql("""SELECT location, orders, avg_spend FROM v_location_preferences
              |ORDER BY orders DESC, location LIMIT 5""".stripMargin)
    }),
  )

  private def withBase(sql: String): String =
    s"WITH base AS (\n${Views.baseSql}\n)\n$sql"

  private def prefOracle(key: String): String = withBase(
    s""", stats AS (
       |  SELECT $key, count(*) AS orders,
       |         ${moneyAvgSql("amount")} AS avg_spend,
       |         round(avg(rating), 4) AS avg_rating
       |  FROM base GROUP BY $key
       |), top AS (
       |  SELECT $key, category, count(*) AS category_count
       |  FROM base GROUP BY $key, category
       |  QUALIFY row_number() OVER (PARTITION BY $key
       |    ORDER BY category_count DESC, category ASC) = 1
       |)
       |SELECT s.$key, s.orders, s.avg_spend, s.avg_rating,
       |       t.category AS top_category
       |FROM stats s LEFT JOIN top t USING ($key)
       |ORDER BY s.$key""".stripMargin)

  def oracleSql: Map[String, String] = Map(
    "v_age_preferences"    -> prefOracle("age_bucket"),
    "v_gender_preferences" -> prefOracle("gender"),
    "v_location_preferences" -> withBase(
      s""", stats AS (
         |  SELECT location, count(*) AS orders,
         |         ${moneyAvgSql("amount")} AS avg_spend
         |  FROM base GROUP BY location
         |), top3 AS (
         |  SELECT location, category, count(*) AS category_count
         |  FROM base GROUP BY location, category
         |  QUALIFY row_number() OVER (PARTITION BY location
         |    ORDER BY category_count DESC, category ASC) <= 3
         |)
         |SELECT s.location, s.orders, s.avg_spend,
         |       array_to_string(
         |         array_agg(t.category ORDER BY t.category_count DESC, t.category ASC),
         |         ',') AS top_categories
         |FROM stats s LEFT JOIN top3 t USING (location)
         |GROUP BY s.location, s.orders, s.avg_spend
         |ORDER BY s.location""".stripMargin),
    "v_age_gender_category" -> withBase(
      s"""SELECT age_bucket, gender, category, count(*) AS orders,
         |       ${moneyAvgSql("amount")} AS avg_spend
         |FROM base
         |GROUP BY age_bucket, gender, category
         |ORDER BY age_bucket, gender, category""".stripMargin),

    "sql_location_top5" -> withBase(
      s""", stats AS (
         |  SELECT location, count(*) AS orders,
         |         ${moneyAvgSql("amount")} AS avg_spend
         |  FROM base GROUP BY location
         |)
         |SELECT location, orders, avg_spend FROM stats
         |ORDER BY orders DESC, location LIMIT 5""".stripMargin),
  )
}
