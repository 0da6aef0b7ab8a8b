package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, Tables}

/** Driver-contract registrations for the snapshot-maintenance tier
  * (Cdc.*). The change batch is DERIVED deterministically from the orders
  * table itself so both engines construct bit-identical inputs: keys
  * ending in 3 are updates (price + 1.00), keys ending in 7 deletes, keys
  * ending in 1 re-keyed +100 000 000 as inserts (far above any real key).
  */
object CdcCatalog extends Catalog {

  private val orderCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")

  /** The deterministic change batch: one row per touched key. */
  private[graft] def changeBatch(o: DataFrame): DataFrame = {
    val updates = o.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("is_delete", lit(false))
    val deletes = o.filter(col("o_orderkey") % 10 === 7)
      .withColumn("is_delete", lit(true))
    val inserts = o.filter(col("o_orderkey") % 10 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("is_delete", lit(false))
    updates.unionByName(deletes).unionByName(inserts)
  }

  private def merged(s: SparkSession, d: String): DataFrame = {
    val o = Tables(s, d).orders
    Cdc.mergeUpsert(o, changeBatch(o), "o_orderkey")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MERGE INTO semantics: broadcast anti join + union — the snapshot
    // side never shuffles (the only viable shape at 100 TB). The change
    // batch is held at its sf0.1 size (keys < 150000 — the sf0.1
    // order-key domain; dense keys make this a constant ~45k-row batch at
    // every sf >= 0.1) while the snapshot grows, so the measured cost is
    // linear in the SNAPSHOT scan + output sort — the "batch <= snapshot"
    // contract mergeUpsert's broadcast shape is designed for. CdcSpec
    // pins the unfiltered batch (30% of the table) as a stress input.
    "merge_upsert_smallbatch" -> ((s, d) => {
      val o = Tables(s, d).orders
      Cdc.mergeUpsert(o, changeBatch(o.filter(col("o_orderkey") < 150000L)),
          "o_orderkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          Relational.tsStr(col("o_orderdate")).as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),

    // CDF-style audit: diffing the snapshot against its merged successor
    // must recover exactly the applied change batch
    "snapshot_diff" -> ((s, d) => {
      val o = Tables(s, d).orders
      Cdc.snapshotDiff(o, merged(s, d), "o_orderkey")
        .select(col("o_orderkey"), col("change_type"),
          col("old.o_totalprice").as("old_price"),
          col("new.o_totalprice").as("new_price"))
        .orderBy("o_orderkey")
    }),

    // SCD type-2 compression of the per-user event-type change log:
    // one shuffle on user_id carries both the change-detection and the
    // validity-interval window
    "scd2_history" -> ((s, d) =>
      Cdc.scd2(Tables(s, d).events.select("user_id", "ts", "event_id", "event_type"),
          "user_id", "ts", "event_id", "event_type")
        .select(col("user_id"), col("event_id"), col("event_type"),
          Relational.tsStr(col("valid_from")).as("valid_from"),
          Relational.tsStr(col("valid_to")).as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "valid_from", "event_id")),
  )

  private def changesSqlWhere(extra: String) =
    s"""changes AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |         o_totalprice + 1.0 AS o_totalprice, o_orderdate,
       |         o_orderpriority, false AS is_delete
       |  FROM orders WHERE o_orderkey % 10 = 3$extra
       |  UNION ALL
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |         o_orderdate, o_orderpriority, true
       |  FROM orders WHERE o_orderkey % 10 = 7$extra
       |  UNION ALL
       |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
       |         o_totalprice, o_orderdate, o_orderpriority, false
       |  FROM orders WHERE o_orderkey % 10 = 1$extra
       |)""".stripMargin

  private val changesSql = changesSqlWhere("")

  private val afterSql =
    """after AS (
      |  SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
      |         s.o_orderdate, s.o_orderpriority
      |  FROM orders s
      |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM changes)
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM changes WHERE NOT is_delete
      |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "merge_upsert_smallbatch" ->
      s"""WITH ${changesSqlWhere(" AND o_orderkey < 150000")}, $afterSql
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
         |  o_orderpriority
         |FROM after ORDER BY o_orderkey""".stripMargin,

    "snapshot_diff" ->
      s"""WITH $changesSql, $afterSql
         |SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
         |  CASE WHEN b.o_orderkey IS NULL THEN 'insert'
         |       WHEN a.o_orderkey IS NULL THEN 'delete'
         |       ELSE 'update' END AS change_type,
         |  b.o_totalprice AS old_price, a.o_totalprice AS new_price
         |FROM orders b FULL JOIN after a ON b.o_orderkey = a.o_orderkey
         |WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
         |   OR (b.o_custkey, b.o_orderstatus, b.o_totalprice, b.o_orderdate,
         |       b.o_orderpriority)
         |      IS DISTINCT FROM
         |      (a.o_custkey, a.o_orderstatus, a.o_totalprice, a.o_orderdate,
         |       a.o_orderpriority)
         |ORDER BY o_orderkey""".stripMargin,

    "scd2_history" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lag(event_type) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), chg AS (
        |  SELECT user_id, ts, event_id, event_type FROM flagged
        |  WHERE prev IS NULL OR prev <> event_type
        |)
        |SELECT user_id, event_id, event_type,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(ts) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id),
        |    '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  lead(ts) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM chg
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
  )
}
