package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, Tables}
import graft.engine.Catalog.{moneySumSql, revenueSql}

/** The remaining 14 TPC-H query shapes (Q1/Q3/Q5/Q6/Q10/Q13/Q14/Q18 live in
  * [[OpsCatalog]]), completing the classic 22-query OLAP surface over the
  * driver's synthetic star schema.
  *
  * Schema adaptations (the synthetic tables lack `partsupp`,
  * `l_commitdate`/`l_receiptdate`/`l_shipmode`, `p_container`, `c_phone`),
  * declared once here and mirrored verbatim in each oracle:
  *
  *   - partsupp stand-in: the distinct `(l_partkey, l_suppkey)` pairs of
  *     `lineitem`, with `min(l_extendedprice)` as the supply cost (Q2) and
  *     shipped-quantity/value aggregates standing in for `ps_availqty`
  *     stock math (Q11, Q20).
  *   - "late/problem lineitem" (`l_commitdate < l_receiptdate` in Q4/Q21):
  *     `l_returnflag = 'R'`.
  *   - ship mode (Q12): `l_returnflag` ('A' vs 'R') carries the two-group
  *     CASE-count shape.
  *   - supply cost in the Q9 profit: half the part's retail price, exact
  *     decimal (`0.5 · p_retailprice · l_quantity`).
  *   - country code (Q22): `c_nationkey` itself.
  *
  * Every money aggregate accumulates in exact DECIMAL and casts to double
  * once at the end, so results are partitioning-invariant and hash-exact
  * against DuckDB. Queries with LIMIT order by a total order first.
  */
object TpchCatalog extends Catalog {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q2 minimum-cost supplier: the correlated scalar-min subquery as a
    // min-window over the aggregated ps relation — ONE pass (the
    // aggregate-then-self-join alternative scans lineitem twice), already
    // partitioned by part from the aggregate, so the window adds no
    // exchange; region dims broadcast into the supplier side
    "tpch_q2" -> ((s, d) => {
      val t = Tables(s, d)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
      val wantedParts = t.part
        .filter(col("p_size").between(10, 20) && col("p_type") === "LARGE")
      // the part filter is per-part, so semi-joining it in FRONT of the
      // heavy (partkey, suppkey) aggregate prunes the lineitem shuffle to
      // the wanted parts without changing any min or window result
      val ps = t.lineitem
        .join(wantedParts.select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast("decimal(12,2)")).as("supplycost"))
      val eur = ps
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region.filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
      eur
        .withColumn("min_cost", min(col("supplycost")).over(w))
        .filter(col("supplycost") === col("min_cost"))
        .join(wantedParts, col("l_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"),
          col("supplycost").cast("double").as("supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // Q4 order-priority checking: EXISTS → left semi join (never
    // materializes the match multiplicity), then a small count-per-priority
    "tpch_q4" -> ((s, d) => {
      val t = Tables(s, d)
      t.orders
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        .join(t.lineitem.filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // Q7 volume shipping between two nations, both directions: the big
    // lineitem⋈orders⋈customer⋈supplier chain shuffles on its keys. Each
    // nation dim is pre-filtered to the two wanted nations, so the inner
    // broadcast joins THEMSELVES discard every irrelevant row early; the
    // residual disjunction only rules out the two same-nation pairings
    "tpch_q7" -> ((s, d) => {
      val t = Tables(s, d)
      val pair = Seq("NATION_1", "NATION_2")
      val sn = t.nation.filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))
      val cn = t.nation.filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("cn_key"),
          col("n_name").as("cust_nation"))
      t.lineitem
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(Relational.revenueDec(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // Q8 national market share: NATION_3's share of ECONOMY-part revenue
    // sold into the AMERICA market per order year — both the conditional
    // and total revenue accumulate exact-decimal in ONE aggregate, the
    // share divides once in double
    "tpch_q8" -> ((s, d) => {
      val t = Tables(s, d)
      val cn = t.nation.select(col("n_nationkey").as("cn_key"),
        col("n_regionkey").as("cn_region"))
      val sn = t.nation.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))
      val rev = Relational.revenueDec(col("l_extendedprice"), col("l_discount"))
      t.lineitem
        .join(t.part.filter(col("p_type") === "ECONOMY"),
          col("l_partkey") === col("p_partkey"))
        .join(t.orders
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
        .join(broadcast(t.region.filter(col("r_name") === "AMERICA")),
          col("cn_region") === col("r_regionkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", rev)
            .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(17,4)")))
            .cast("double") /
          sum(rev).cast("double")).as("mkt_share"),
          count(lit(1)).as("n_items"))
        .orderBy("o_year")
    }),

    // Q9 product-type profit: profit = revenue − ½·retail·qty (the
    // declared ps_supplycost stand-in), exact decimal end to end; the
    // substring part filter prunes before the joins
    "tpch_q9" -> ((s, d) => {
      val t = Tables(s, d)
      val cost = lit(new java.math.BigDecimal("0.5")).cast("decimal(2,1)") *
        col("p_retailprice").cast("decimal(12,2)") *
        col("l_quantity").cast("decimal(12,2)")
      val amount = Relational.revenueDec(col("l_extendedprice"), col("l_discount"))
        .cast("decimal(30,6)") - cost.cast("decimal(30,6)")
      t.lineitem
        .join(t.part.filter(col("p_name").contains("bolt")),
          col("l_partkey") === col("p_partkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(amount).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // Q11 important stock: per-part shipped value for one nation's
    // suppliers, kept where it exceeds a fraction of the nation total —
    // the HAVING-vs-scalar-subquery shape as a 1-row global aggregate
    // broadcast-crossed back onto the per-part frame. The checkpoint pins
    // the aggregated frame (≤ |parts| rows) so the heavy join runs once
    // even though two consumers read it, and no row ever funnels through
    // an unkeyed window's single partition
    "tpch_q11" -> ((s, d) => {
      val t = Tables(s, d)
      val perPart = t.lineitem
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation.filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(Relational.moneyDec(col("l_extendedprice"))).as("value_dec"))
        .localCheckpoint()
      val total = perPart.agg(sum(col("value_dec")).as("total_dec"))
      perPart.crossJoin(broadcast(total))
        .filter(col("value_dec").cast("double") >
          col("total_dec").cast("double") * 0.001)
        .select(col("l_partkey"), col("value_dec").cast("double").as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // Q12 shipping-mode priority classes: two-group CASE-count over the
    // orders⋈lineitem join (returnflag carries the mode split), one year
    "tpch_q12" -> ((s, d) => {
      val t = Tables(s, d)
      val high = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      t.lineitem
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(Relational.countIf(high).as("high_line_count"),
          Relational.countIf(!high).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // Q15 top supplier: quarterly revenue per supplier, keep the max — a
    // 1-row global max broadcast-crossed back onto the checkpointed
    // per-supplier frame (≤ |suppliers| rows; lineitem is scanned once,
    // no unkeyed window), decimal equality so no float compare
    "tpch_q15" -> ((s, d) => {
      val t = Tables(s, d)
      val perSupp = t.lineitem
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(Relational.revenueDec(col("l_extendedprice"), col("l_discount"))).as("rev_dec"))
        .localCheckpoint()
      perSupp.crossJoin(broadcast(perSupp.agg(max(col("rev_dec")).as("max_dec"))))
        .filter(col("rev_dec") === col("max_dec"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // Q16 parts/supplier relationship: distinct-supplier counts per
    // (brand, type, size) over the lineitem-derived part-supplier pairs,
    // minus the excluded supplier set (negative balance stands in for the
    // complaints filter) via left anti join
    "tpch_q16" -> ((s, d) => {
      val t = Tables(s, d)
      t.lineitem.select(col("l_partkey"), col("l_suppkey"))
        .join(t.supplier.filter(col("s_acctbal") < 0)
          .select(col("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(t.part.filter(col("p_brand") =!= "Brand#5" &&
            col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 3, 9, 19, 23, 36, 45, 49)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // Q17 small-quantity-order revenue: the correlated per-part average
    // decorrelated into a per-part window (ONE shuffle on partkey and one
    // scan of the Brand#3 lineitems; the aggregate-join-back alternative
    // scans them twice)
    "tpch_q17" -> ((s, d) => {
      val t = Tables(s, d)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("p_partkey")
      t.lineitem
        .join(t.part.filter(col("p_brand") === "Brand#3")
          .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .withColumn("avg_qty",
          sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double") /
            count(lit(1)).over(w))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(col("l_extendedprice").cast("decimal(12,2)"))
          .cast("double") / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_items"))
    }),

    // Q19 disjunctive join predicates: three OR-of-AND branches mixing
    // part and lineitem columns — the join stays an equi-join on partkey
    // with the disjunction as a residual filter (no cartesian fallback)
    "tpch_q19" -> ((s, d) => {
      val t = Tables(s, d)
      val branch = (col("p_brand") === "Brand#1" &&
          col("p_size").between(1, 5) && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" &&
          col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" &&
          col("p_size").between(1, 15) && col("l_quantity").between(20, 30))
      t.lineitem
        .join(t.part, col("l_partkey") === col("p_partkey"))
        .filter(branch)
        .agg(sum(Relational.revenueDec(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Q20 potential part promotion: suppliers who moved > 40 units of any
    // single 'red …' part in 1997 — nested subqueries as part-filter →
    // per-(part,supplier) aggregate → distinct suppliers → semi join into
    // the region's supplier list
    "tpch_q20" -> ((s, d) => {
      val t = Tables(s, d)
      val movers = t.lineitem
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t.part.filter(col("p_name").startsWith("red"))
          .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
        .filter(col("qty") > 40)
        .select(col("l_suppkey")) // no distinct: the semi join below dedups
      t.supplier
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region.filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .join(movers, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy("s_suppkey")
    }),

    // Q21 suppliers who kept orders waiting: the EXISTS/NOT-EXISTS pair
    // collapses into ONE per-order aggregate (distinct suppliers vs
    // distinct problem suppliers), keeping multi-supplier orders whose
    // problem set is exactly one supplier — lineitem is scanned once
    // instead of three times. The count groups by s_name AFTER the
    // supplier join (the oracle's grouping), so same-named suppliers can
    // never make the two engines disagree
    "tpch_q21" -> ((s, d) => {
      val t = Tables(s, d)
      val perOrder = t.lineitem
        .join(t.orders.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("l_returnflag") === "R", col("l_suppkey")))
            .as("n_problem"),
          max(when(col("l_returnflag") === "R", col("l_suppkey")))
            .as("problem_supp"))
        .filter(col("n_supp") > 1 && col("n_problem") === 1)
      perOrder
        .join(t.supplier, col("problem_supp") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // Q22 global sales opportunity: rich inactive customers per country —
    // the positive-balance average broadcasts as a 1-row frame, "inactive"
    // is a left anti join against recent orders (every synthetic customer
    // has SOME order, so the lifetime anti join would be empty), and the
    // country code is the nation key itself
    "tpch_q22" -> ((s, d) => {
      val t = Tables(s, d)
      val codes = Seq(0, 1, 2, 3, 4, 5, 6)
      val cust = t.customer.filter(col("c_nationkey").isin(codes: _*))
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg((sum(Relational.moneyDec(col("c_acctbal"))).cast("double") /
          count(lit(1))).as("avg_bal"))
      cust.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(t.orders
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          Relational.moneySum(col("c_acctbal")).as("totacctbal"))
        .orderBy("cntrycode")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "tpch_q2" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(l_extendedprice AS DECIMAL(12,2))) AS supplycost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |eur AS (
        |  SELECT ps.*, s_acctbal, s_name, n_name
        |  FROM ps
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |mc AS (SELECT l_partkey, min(supplycost) AS min_cost
        |  FROM eur GROUP BY l_partkey)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |  CAST(supplycost AS DOUBLE) AS supplycost
        |FROM eur
        |JOIN mc ON eur.l_partkey = mc.l_partkey AND supplycost = min_cost
        |JOIN part ON eur.l_partkey = p_partkey
        |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "tpch_q7" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |  CAST(sum($revenueSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
         |    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
         |GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "tpch_q8" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(sum(CASE WHEN sn.n_name = 'NATION_3' THEN $revenueSql
         |    ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
         |    / CAST(sum($revenueSql) AS DOUBLE) AS mkt_share,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'AMERICA'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY year(o_orderdate)
         |ORDER BY o_year""".stripMargin,

    "tpch_q9" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(sum(CAST($revenueSql AS DECIMAL(30,6))
         |    - CAST(CAST(0.5 AS DECIMAL(2,1))
         |        * CAST(p_retailprice AS DECIMAL(12,2))
         |        * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(30,6)))
         |    AS DOUBLE) AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name, year(o_orderdate)
         |ORDER BY nation, o_year DESC""".stripMargin,

    "tpch_q11" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'
        |  GROUP BY l_partkey)
        |SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
        |FROM pp
        |WHERE CAST(value_dec AS DOUBLE) >
        |  (SELECT CAST(sum(value_dec) AS DOUBLE) FROM pp) * 0.001
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "tpch_q12" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |    AS high_line_count,
        |  count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
        |    AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "tpch_q15" ->
      s"""WITH r AS (
         |  SELECT l_suppkey, sum($revenueSql) AS rev_dec
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
         |FROM r
         |JOIN supplier ON l_suppkey = s_suppkey
         |WHERE rev_dec = (SELECT max(rev_dec) FROM r)
         |ORDER BY s_suppkey""".stripMargin,

    "tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 3, 9, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "tpch_q17" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'),
        |aq AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      / count(*) AS avg_qty
        |  FROM li GROUP BY l_partkey)
        |SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly,
        |  count(*) AS n_items
        |FROM li
        |JOIN aq USING (l_partkey)
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,

    "tpch_q19" ->
      s"""SELECT CAST(sum($revenueSql) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
         |    AND l_quantity BETWEEN 1 AND 11)
         |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
         |    AND l_quantity BETWEEN 10 AND 20)
         |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "tpch_q20" ->
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red%'
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 40)
        |ORDER BY s_suppkey""".stripMargin,

    "tpch_q21" ->
      """WITH po AS (
        |  SELECT l_orderkey,
        |    count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
        |      AS n_problem,
        |    max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
        |      AS problem_supp
        |  FROM lineitem
        |  WHERE l_orderkey IN
        |    (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |  GROUP BY l_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM po
        |JOIN supplier ON problem_supp = s_suppkey
        |WHERE n_supp > 1 AND n_problem = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "tpch_q22" ->
      s"""WITH cust AS (
         |  SELECT * FROM customer
         |  WHERE c_nationkey IN (0, 1, 2, 3, 4, 5, 6)),
         |ab AS (
         |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         |    / count(*) AS avg_bal
         |  FROM cust WHERE c_acctbal > 0)
         |SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
         |  count(*) AS numcust,
         |  ${moneySumSql("c_acctbal")} AS totacctbal
         |FROM cust, ab
         |WHERE c_acctbal > avg_bal
         |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
         |    WHERE o_orderdate >= TIMESTAMP '2000-01-01')
         |GROUP BY c_nationkey
         |ORDER BY cntrycode""".stripMargin,
  )
}
