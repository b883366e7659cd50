package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.engine.Engine

/** Declared query surface: one entry per implemented operator family from
  * SURVEY.md §2, each paired (in [[SparkEntry.catalog]]) with equivalent
  * DuckDB SQL over the same parquet tables.
  *
  * Oracle-parity numerics: double-summation order differs across engines,
  * so every SUM over doubles goes through an exact fixed-point accumulator —
  * per-row double expressions (deterministic IEEE ops, identical association
  * on both sides) are cast to DECIMAL(30,6), summed exactly, and the total
  * cast back to DOUBLE. Scale 6 matters: the money columns carry exactly two
  * decimal digits, so any product of up to three of them has at most six
  * true decimal digits — the scale-6 cast reconstructs that exact value in
  * both engines (no rounding occurs), whereas a scale-4 cast hits genuine
  * x.xxxx5 ties that Spark rounds half-up and DuckDB half-even.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  /** Exact decimal-accumulated sum of a double expression → double.
    *
    * Semantically `sum(e.cast(DecimalType(30, 6))).cast(DoubleType)` —
    * and bit-identical to it for this file's money/quantity columns —
    * but ~75× faster at scale: Spark's double→decimal Cast routes
    * every row through `Double.toString` + `BigDecimal` (measured
    * 149 s vs 2 s for the q17 avg aggregate over sf10 lineitem), so
    * the row-side conversion is done in pure double/long arithmetic
    * instead: `round(e·10⁶)` (HALF_UP, the same rounding the decimal
    * cast applies) → long, summed via a compact long-backed
    * DECIMAL(18,0) (the aggregation buffer never sees a BigDecimal
    * until a partial exceeds ~9.2·10¹⁸, where it promotes gracefully
    * instead of overflowing), and the exact integer total is rescaled
    * through one decimal division per GROUP, not per row.
    *
    * Exactness domain (why the paths agree bit-for-bit): the true
    * per-row value v has ≤ 6 decimal digits (2-decimal money columns
    * and products of up to three of them — the file-header contract),
    * so v·10⁶ is an integer; |v| stays far below ~4.5·10⁹, so the
    * float error of `e·10⁶` (≤ |v|·10⁶·2⁻⁵²) is orders of magnitude
    * under the 0.5 rounding budget and `round` recovers exactly
    * v·10⁶. Both paths then hold the identical exact rational and
    * cast it to double identically. NOT safe for arbitrary-mantissa
    * doubles (a value adjacent to an x.5·10⁻⁶ tie can round apart) —
    * this helper is scoped to this file's schema on purpose. */
  private def dsum(e: Column): Column =
    dsumDecode(sum(dsumEncode(e)))

  /** [[dsum]] over a window frame — the cast chain must wrap the
    * WINDOWED aggregate, so the two faces share the per-row encode and
    * the per-group decode instead of hand-duplicating the fixed-point
    * contract (r17 advice: the exactness argument lives once, above). */
  private def dsumOver(e: Column,
      w: org.apache.spark.sql.expressions.WindowSpec): Column =
    dsumDecode(sum(dsumEncode(e)).over(w))

  private def dsumEncode(e: Column): Column =
    round(e * lit(1000000.0)).cast("long").cast(DecimalType(18, 0))

  private def dsumDecode(sumCol: Column): Column =
    (sumCol.cast(DecimalType(38, 0)) / lit(1000000)).cast(DoubleType)

  private def ts(s: String): Column = lit(java.sql.Timestamp.valueOf(s))

  // ---------------------------------------------------------------------
  // Q1 — pricing summary (TPC-H Q1 style). Scan → filter (pushed to
  // parquet) → hash agg (partial+final, map-side combine) → small sort.
  // A8/A1-class aggregation; flagship slice 0 of SURVEY §7.2.
  // ---------------------------------------------------------------------
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= ts("2000-06-01 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-06-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // Q6 — forecast revenue: filter-only aggregation (predicate pushdown
  // showcase — all three filters reach the parquet scan).
  // ---------------------------------------------------------------------
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.filter(col("l_shipdate") >= ts("1996-01-01 00:00:00")
        && col("l_shipdate") < ts("1998-01-01 00:00:00")
        && col("l_discount") >= 0.03 && col("l_discount") <= 0.07
        && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q6Sql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.03 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------------
  // Q3 — shipping priority: 3-way join + agg + top-k. The per-order
  // top-10 is TakeOrderedAndProject (no global sort); tie-break on
  // l_orderkey makes the limit deterministic.
  // ---------------------------------------------------------------------
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = ts("1999-01-01 00:00:00")
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < cut)
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > cut)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // Q4 — order priority: EXISTS as a left-semi join with a non-equi
  // conjunct (l_shipdate > o_orderdate).
  // ---------------------------------------------------------------------
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1997-07-01 00:00:00")
        && col("o_orderdate") < ts("1998-07-01 00:00:00"))
    val li = t(s, dir, "lineitem")
    o.join(li, col("o_orderkey") === col("l_orderkey")
        && col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // Q5 — local supplier volume: 6-table join. region/nation are
  // broadcast explicitly (tiny at any scale: ≤ 25 rows); customer/
  // supplier/orders joins are left to Catalyst + AQE, which picks
  // broadcast vs shuffled-hash from runtime sizes.
  // ---------------------------------------------------------------------
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(s, dir, "nation")
    val asiaNations = broadcast(nation
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name")))
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00")
        && col("o_orderdate") < ts("1999-01-01 00:00:00"))
    t(s, dir, "lineitem")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  val q5Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name ASC""".stripMargin

  // ---------------------------------------------------------------------
  // Q7 — window top-N: top-3 customers per nation by balance.
  // row_number over (partition, order with unique tie-break).
  // ---------------------------------------------------------------------
  def q7WindowTopN(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("n_name"))
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("rank_in_nation", row_number().over(w))
      .filter(col("rank_in_nation") <= 3)
      .select(col("n_name"), col("rank_in_nation"), col("c_custkey"),
        col("c_name"), col("c_acctbal"))
      .orderBy(col("n_name"), col("rank_in_nation"))
  }

  val q7Sql: String =
    """SELECT n_name, rank_in_nation, c_custkey, c_name, c_acctbal
      |FROM (
      |  SELECT n_name, c_custkey, c_name, c_acctbal,
      |    ROW_NUMBER() OVER (PARTITION BY n_name
      |                       ORDER BY c_acctbal DESC, c_custkey ASC)
      |      AS rank_in_nation
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey) x
      |WHERE rank_in_nation <= 3
      |ORDER BY n_name, rank_in_nation""".stripMargin

  // ---------------------------------------------------------------------
  // Q8 — ROLLUP with grouping flags (A8 grouping-sets surface).
  // ---------------------------------------------------------------------
  def q8Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))
      .orderBy(col("g_flag"), col("g_status"),
        asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val q8Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
      |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, l_returnflag ASC NULLS FIRST,
      |  l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // Q9 — set operations: nations partitioned by whether they have
  // customers, suppliers, or both (INTERSECT / EXCEPT / UNION ALL).
  // ---------------------------------------------------------------------
  def q9SetOps(s: SparkSession, dir: String): DataFrame = {
    val nation = broadcast(t(s, dir, "nation"))
    val cn = t(s, dir, "customer")
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name")).distinct()
    val sn = t(s, dir, "supplier")
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name")).distinct()
    cn.intersect(sn).withColumn("membership", lit("both"))
      .unionAll(cn.except(sn).withColumn("membership", lit("customers_only")))
      .unionAll(sn.except(cn).withColumn("membership", lit("suppliers_only")))
      .orderBy(col("membership"), col("n_name"))
  }

  val q9Sql: String =
    """WITH cn AS (SELECT DISTINCT n_name FROM customer
      |            JOIN nation ON c_nationkey = n_nationkey),
      |     sn AS (SELECT DISTINCT n_name FROM supplier
      |            JOIN nation ON s_nationkey = n_nationkey)
      |SELECT n_name, 'both' AS membership FROM (SELECT n_name FROM cn INTERSECT SELECT n_name FROM sn)
      |UNION ALL
      |SELECT n_name, 'customers_only' FROM (SELECT n_name FROM cn EXCEPT SELECT n_name FROM sn)
      |UNION ALL
      |SELECT n_name, 'suppliers_only' FROM (SELECT n_name FROM sn EXCEPT SELECT n_name FROM cn)
      |ORDER BY membership, n_name""".stripMargin

  // ---------------------------------------------------------------------
  // Q10 — distinct-count aggregation per segment (A3/A8).
  // ---------------------------------------------------------------------
  def q10DistinctAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        count_distinct(col("c_nationkey")).as("n_nations"),
        dsum(col("c_acctbal")).as("sum_acctbal"),
        min(col("c_acctbal")).as("min_acctbal"),
        max(col("c_acctbal")).as("max_acctbal"))
      .orderBy(col("c_mktsegment"))

  val q10Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers,
      |  COUNT(DISTINCT c_nationkey) AS n_nations,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS sum_acctbal,
      |  MIN(c_acctbal) AS min_acctbal, MAX(c_acctbal) AS max_acctbal
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // Q11 — anti join: customers with no RECENT order. The date filter is
  // applied to the build side before the anti join (and keeps the result
  // non-empty at fixture scale — every customer has *some* order).
  // ---------------------------------------------------------------------
  def q11AntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1998-06-01 00:00:00")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val q11Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // Q13 — customer order-count distribution: left outer join + two-level
  // aggregation.
  // ---------------------------------------------------------------------
  def q13CustDist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))

  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |      GROUP BY c_custkey) x
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------------------------
  // Q14 — promo revenue share: conditional aggregation; share is a
  // double/double division of two decimal-exact sums.
  // ---------------------------------------------------------------------
  def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00")
        && col("l_shipdate") < ts("1998-01-01 00:00:00"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
          .as("promo_revenue"),
        dsum(rev).as("total_revenue"))
      .select(
        (col("promo_revenue") / col("total_revenue") * 100).as("promo_pct"),
        col("promo_revenue"), col("total_revenue"))
  }

  val q14Sql: String =
    """SELECT promo_revenue / total_revenue * 100 AS promo_pct,
      |       promo_revenue, total_revenue
      |FROM (SELECT
      |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
      |       THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
      |       AS DECIMAL(30,6))) AS DOUBLE) AS promo_revenue,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') x""".stripMargin

  // ---------------------------------------------------------------------
  // Q15 — top suppliers by revenue: agg + deterministic top-k.
  // ---------------------------------------------------------------------
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00")
        && col("l_shipdate") < ts("1997-07-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("total_revenue"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(desc("total_revenue"), asc("s_suppkey"))
      .limit(3)

  val q15Sql: String =
    """SELECT s_suppkey, s_name, total_revenue
      |FROM (SELECT l_suppkey,
      |        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue
      |      FROM lineitem
      |      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |        AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
      |      GROUP BY l_suppkey) r
      |JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY total_revenue DESC, s_suppkey ASC
      |LIMIT 3""".stripMargin

  // ---------------------------------------------------------------------
  // Q17 — small-quantity orders: self-aggregation join (the per-part
  // average is computed once, decimal-exact, so the comparison threshold
  // is bit-identical across engines).
  // ---------------------------------------------------------------------
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    // Semi-join reduction (guide §3.2): the avg side's output is only
    // ever consumed through the inner join against the Brand#1 rows,
    // so every non-brand partkey's average is computed and broadcast
    // just to be dropped. Pre-filtering the avg side with the same
    // (broadcast) brand partkey set shrinks the aggregation shuffle
    // and the broadcast relation by the brand selectivity (~1/|brands|)
    // without touching the result: the per-partkey average is over ALL
    // lineitems of that partkey either way (the part join filters
    // whole partkeys, never rows within one).
    val brandParts = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))
    val avgQty = li
      .join(broadcast(brandParts),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("ap_partkey"))
      .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") === "Brand#1")
      .join(avgQty, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(0.7) * col("avg_qty"))
      .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_rows"))
  }

  val q17Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0 AS avg_yearly,
      |       COUNT(*) AS n_rows
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN (SELECT l_partkey AS ap_partkey,
      |        CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_qty
      |      FROM lineitem GROUP BY l_partkey) a
      |  ON l_partkey = ap_partkey
      |WHERE p_brand = 'Brand#1' AND l_quantity < 0.7 * avg_qty""".stripMargin

  // ---------------------------------------------------------------------
  // Q18 — large orders: HAVING over a grouped sum, then joins back to
  // orders/customer; deterministic top-20.
  // ---------------------------------------------------------------------
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150.0)
    big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(20)
  }

  val q18Sql: String =
    """SELECT c_custkey, c_name, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  o_totalprice, sum_qty
      |FROM (SELECT l_orderkey,
      |        CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) > 150.0) b
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // Q10 — returned-item losses: customers ranked by revenue on returned
  // lineitems (flag filter + 3-way join + agg + deterministic top-20).
  // ---------------------------------------------------------------------
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    li.join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00")
            && col("o_orderdate") < ts("1997-07-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  val q10ReturnedSql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey ASC
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // Q19 — discounted revenue under an OR-of-ANDs predicate (the
  // disjunctive-pushdown shape: each conjunct is sargable, the OR forces
  // the optimizer to either push a disjunction or intersect row groups).
  // ---------------------------------------------------------------------
  def q19DisjunctivePredicates(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n_rows"))
  }

  val q19Sql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // ---------------------------------------------------------------------
  // Q22 — DORMANT rich customers: scalar subquery (decimal-exact global
  // average) + anti join on a dated order subset + string ops, grouped by
  // a derived code. "No orders since 1998" rather than "no orders ever" —
  // the latter is vacuously empty at fixture scale (every customer has
  // some order), which would green-light a no-op query.
  // ---------------------------------------------------------------------
  def q22InactiveRich(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    // Scalar subquery as a broadcast crossJoin of the 1-row aggregate:
    // keeps the whole query ONE plan/job (a driver-side collect would
    // split it in two and re-scan customer).
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1998-01-01 00:00:00")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(substring(col("c_name"), 10, 1).as("code"))
      .agg(count(lit(1)).as("n_custs"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("code"))
  }

  val q22Sql: String =
    """SELECT substr(c_name, 10, 1) AS code, COUNT(*) AS n_custs,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal
      |FROM customer
      |WHERE c_acctbal > (
      |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
      |           / COUNT(*)
      |    FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
      |GROUP BY 1 ORDER BY code""".stripMargin

  // ---------------------------------------------------------------------
  // Correlated max: customers holding their nation's top balance
  // (grouped max joined back on equality — the decorrelated form of a
  // correlated scalar subquery).
  // ---------------------------------------------------------------------
  def qNationTopBalance(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val maxPerNation = c.groupBy(col("c_nationkey").as("mn_nationkey"))
      .agg(max(col("c_acctbal")).as("max_bal"))
    c.join(maxPerNation, col("c_nationkey") === col("mn_nationkey")
        && col("c_acctbal") === col("max_bal"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("c_name"),
        col("c_acctbal"))
      .orderBy(col("n_name"), col("c_custkey"))
  }

  val qNationTopBalanceSql: String =
    """SELECT n_name, c_custkey, c_name, c_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_acctbal = (SELECT MAX(c2.c_acctbal) FROM customer c2
      |                   WHERE c2.c_nationkey = customer.c_nationkey)
      |ORDER BY n_name, c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // Window frames: running total + lag per customer. The window sum
  // accumulates in decimal (exact, order-defined by the unique sort key)
  // and casts to double at the end — bit-identical across engines.
  // ---------------------------------------------------------------------
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("order_seq", row_number().over(w))
      .withColumn("prev_totalprice", lag(col("o_totalprice"), 1).over(w))
      .withColumn("running_spend",
        dsumOver(col("o_totalprice"),
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("order_seq"), col("prev_totalprice"),
        col("running_spend"))
      .orderBy(col("o_custkey"), col("order_seq"))
  }

  val qWindowRunningSql: String =
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
      |  ROW_NUMBER() OVER w AS order_seq,
      |  LAG(o_totalprice, 1) OVER w AS prev_totalprice,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
      |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) AS running_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, order_seq""".stripMargin

  // ---------------------------------------------------------------------
  // Window-frame function coverage (§2.6): lead / ntile / first & last
  // over explicit ROWS frames / percent_rank / cume_dist — the navigation
  // and distribution families q7 (rank) and q_window_running (lag +
  // running sum) don't touch. Ordering key (date, orderkey) is unique per
  // partition, so every function is tie-deterministic; percent_rank and
  // cume_dist are exact ratios of ints → bit-identical doubles.
  // ---------------------------------------------------------------------
  def qWindowFrames(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
    val headFrame = w.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val fullFrame = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    t(s, dir, "orders")
      .withColumn("next_totalprice", lead(col("o_totalprice"), 1).over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("first_order", first(col("o_orderkey")).over(headFrame))
      .withColumn("last_order", last(col("o_orderkey")).over(fullFrame))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("next_totalprice"),
        col("quartile"), col("first_order"), col("last_order"),
        col("pct_rank"), col("cume"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val qWindowFramesSql: String =
    """SELECT o_custkey, o_orderkey,
      |  LEAD(o_totalprice, 1) OVER w AS next_totalprice,
      |  CAST(NTILE(4) OVER w AS INT) AS quartile,
      |  FIRST_VALUE(o_orderkey) OVER
      |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS first_order,
      |  LAST_VALUE(o_orderkey) OVER
      |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS last_order,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // CUBE over order status × priority (grouping-sets surface).
  // ---------------------------------------------------------------------
  def qCubeCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_totalprice"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"))
      .orderBy(col("g_status"), col("g_priority"),
        asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  val qCubeCountsSql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_totalprice,
      |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_priority, o_orderstatus ASC NULLS FIRST,
      |  o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // Events: hourly tumbling aggregation (the batch twin of the streaming
  // pipeline in graft.streaming). Hour emitted as a formatted string so
  // both engines hash the same value regardless of timestamp-tz rendering.
  // ---------------------------------------------------------------------
  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy(col("hour"), col("event_type"))

  val qEventsHourlySql: String =
    """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
      |  MIN(value) AS min_value, MAX(value) AS max_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Events: JSON extraction from the props payload (F6 surface) +
  // bucketed aggregation.
  // ---------------------------------------------------------------------
  def qEventsJson(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy(asc_nulls_first("k_bucket"))

  val qEventsJsonSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1
      |ORDER BY k_bucket ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // Events: sessionization in batch — a session break is a >30-minute gap
  // per user. Gap math on integer microseconds (exact in both engines).
  // ---------------------------------------------------------------------
  def qEventsSessions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("ts"), asc("event_id"))
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("is_new", when(col("prev_us").isNull
        || unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L)
        .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("is_new")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"))
  }

  val qEventsSessionsSql: String =
    """SELECT user_id,
      |  CAST(SUM(is_new) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT user_id, value,
      |    CASE WHEN prev_us IS NULL
      |              OR epoch_us(CAST(ts AS TIMESTAMP)) - prev_us > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM (SELECT user_id, ts, value,
      |          LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER
      |            (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |        FROM events) a) b
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // As-of join: attribute each purchase to the user's most recent prior
  // click (inclusive). Right side pre-aggregated to one row per
  // (user, ts) with max_by — the operator's uniqueness contract — so the
  // result is deterministic in both engines. Oracle = DuckDB's NATIVE
  // ASOF LEFT JOIN: a semantically independent implementation, not a
  // transliteration of ours. Timestamps exported as epoch micros (exact
  // integer compare).
  // ---------------------------------------------------------------------
  /** Shared sides for the as-of queries: purchases (left) and clicks
    * deduped to one row per (user, ts) — the operator's uniqueness
    * contract — with max_by(event_id) as the deterministic tie-break. */
  private def asofSides(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value").as("purchase_value"))
    (purchases, clicks)
  }

  private def asofOut(joined: DataFrame): DataFrame =
    joined.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("purchase_value"),
        unix_micros(col("click_ts")).as("click_ts_us"), col("click_value"))
      .orderBy(col("event_id"))

  private val asofCteSql =
    """WITH clicks AS (
      |  SELECT user_id, ts, max_by(value, event_id) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
      |), purchases AS (
      |  SELECT event_id, user_id, ts, value AS purchase_value
      |  FROM events WHERE event_type = 'purchase'
      |)""".stripMargin

  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = asofSides(s, dir)
    asofOut(graft.transform.Temporal
      .asofJoinBackward(purchases, clicks, "user_id", "ts", "ts",
        prefix = "click_"))
  }

  val qAsofJoinSql: String =
    s"""$asofCteSql
      |SELECT p.event_id, p.user_id,
      |  epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us, p.purchase_value,
      |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us, c.click_value
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  /** Forward as-of: EARLIEST click at/after each purchase. DuckDB's
    * native ASOF with the reversed inequality is the oracle. */
  def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = asofSides(s, dir)
    asofOut(graft.transform.Temporal
      .asofJoinForward(purchases, clicks, "user_id", "ts", "ts",
        prefix = "click_"))
  }

  val qAsofForwardSql: String =
    s"""$asofCteSql
      |SELECT p.event_id, p.user_id,
      |  epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us, p.purchase_value,
      |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us, c.click_value
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.ts <= c.ts
      |ORDER BY p.event_id""".stripMargin

  /** Backward as-of with a 1-hour tolerance: stale matches null out.
    * Oracle = native ASOF + CASE-null — an independent formulation of
    * the same semantics. */
  def qAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = asofSides(s, dir)
    asofOut(graft.transform.Temporal
      .asofJoinBackward(purchases, clicks, "user_id", "ts", "ts",
        prefix = "click_", toleranceMicros = Some(3600000000L)))
  }

  val qAsofToleranceSql: String =
    s"""$asofCteSql
      |SELECT p.event_id, p.user_id,
      |  epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us, p.purchase_value,
      |  CASE WHEN epoch_us(CAST(p.ts AS TIMESTAMP))
      |          - epoch_us(CAST(c.ts AS TIMESTAMP)) <= 3600000000
      |       THEN epoch_us(CAST(c.ts AS TIMESTAMP)) END AS click_ts_us,
      |  CASE WHEN epoch_us(CAST(p.ts AS TIMESTAMP))
      |          - epoch_us(CAST(c.ts AS TIMESTAMP)) <= 3600000000
      |       THEN c.click_value END AS click_value
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------------
  // Interval join: events vs 25 synthetic 2-day promo windows derived
  // from nation (start = 2024-01-01 + nationkey days). The operator bins
  // the match into an equi-join (see Temporal.intervalJoin); the oracle
  // is the raw inequality join DuckDB can afford at this scale.
  // ---------------------------------------------------------------------
  def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "nation").select(
      col("n_nationkey").as("iv_id"), col("n_name"),
      expr("timestampadd(DAY, n_nationkey, TIMESTAMP'2024-01-01 00:00:00')")
        .as("start_ts"),
      expr("timestampadd(DAY, n_nationkey + 2, TIMESTAMP'2024-01-01 00:00:00')")
        .as("end_ts"))
    graft.transform.Temporal
      .intervalJoin(t(s, dir, "events"), iv, "ts", "start_ts", "end_ts")
      .groupBy(col("iv_id"), col("n_name"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy(col("iv_id"))
  }

  val qIntervalJoinSql: String =
    """WITH intervals AS (
      |  SELECT n_nationkey AS iv_id, n_name,
      |    TIMESTAMP '2024-01-01' + n_nationkey * INTERVAL 1 DAY AS start_ts,
      |    TIMESTAMP '2024-01-01' + (n_nationkey + 2) * INTERVAL 1 DAY AS end_ts
      |  FROM nation
      |)
      |SELECT iv.iv_id, iv.n_name, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM intervals iv JOIN events e
      |  ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
      |GROUP BY 1, 2
      |ORDER BY iv_id""".stripMargin

  // ---------------------------------------------------------------------
  // Pivot (A8 surface): returnflag × linestatus quantity matrix. Explicit
  // pivot values — no distinct-collect job to discover them, which is the
  // 100 TB-safe way to pivot. Decimal-exact sums cast to double (dsum).
  // ---------------------------------------------------------------------
  def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_quantity")))
      .select(col("l_returnflag"), col("F").as("qty_f"), col("O").as("qty_o"))
      .orderBy(col("l_returnflag"))

  val qPivotSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6)))
      |       FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6)))
      |       FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // Exact percentiles (A1 surface): Spark's exact `percentile` vs
  // DuckDB's quantile_cont — independent implementations of the same
  // linear-interpolation definition. l_quantity is integer-valued and
  // each group holds long runs of every value, so every requested
  // quantile lands exactly ON a value (no FP interpolation residue).
  // Exact percentile sorts within groups — fine at dims scale; at 100 TB
  // use approx_percentile (t-digest) instead; noted here deliberately.
  // ---------------------------------------------------------------------
  def qPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        expr("percentile(l_quantity, 0.9)").as("p90"))
      .orderBy(col("l_returnflag"))

  val qPercentilesSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75,
      |  quantile_cont(l_quantity, 0.9) AS p90
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // Pearson correlation from exact decimal moments (Profile.pearson).
  // Built-in corr() is partition-order-dependent in its last bits; the
  // moment form is bit-reproducible, so both engines compute the SAME
  // double expression over the SAME exact scalars.
  // ---------------------------------------------------------------------
  def qCorr(s: SparkSession, dir: String): DataFrame =
    graft.transform.Profile
      .pearson(t(s, dir, "lineitem"), "l_quantity", "l_extendedprice",
        Seq("l_returnflag"), precision = 12, scale = 2)
      .orderBy(col("l_returnflag"))

  val qCorrSql: String =
    """WITH m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
      |           * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |           * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
      |           * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  (n * sxy - sx * sy)
      |    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS pearson_r
      |FROM m ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // Fixed-width histogram over order totals (Profile.histogram): explicit
  // bounds — no min/max pre-pass job — one grouped count.
  // ---------------------------------------------------------------------
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    graft.transform.Profile
      .histogram(t(s, dir, "orders"), "o_totalprice", 50000.0, 9)
      .orderBy(col("bucket"))

  val qHistogramSql: String =
    """SELECT bucket, bucket * 50000.0 AS lo, COUNT(*) AS n
      |FROM (SELECT CAST(least(floor(o_totalprice / 50000.0), 9) AS BIGINT)
      |        AS bucket
      |      FROM orders WHERE o_totalprice IS NOT NULL)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // Ordered string aggregation (listagg surface): first 5 customer names
  // per nation, sorted then joined — deterministic where a bare
  // string_agg/collect_list is partition-order-dependent.
  // ---------------------------------------------------------------------
  def qListagg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(array_join(slice(sort_array(collect_list(col("c_name"))), 1, 5),
        ",").as("first5"))
      .orderBy(col("c_nationkey"))

  val qListaggSql: String =
    """SELECT c_nationkey,
      |  array_to_string((list(c_name ORDER BY c_name))[1:5], ',') AS first5
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------------
  // Time-based RANGE window frame: trailing 90-day order count + spend
  // per customer at each order — the rolling-aggregate shape row-count
  // frames (q_window_frames) can't express. Ordered on integer epoch
  // seconds so the frame bound arithmetic is exact in both engines;
  // RANGE semantics include equal-timestamp peers identically.
  // ---------------------------------------------------------------------
  def qWindowRange(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(unix_timestamp(col("o_orderdate")))
      .rangeBetween(-7776000L, 0L) // 90 days in seconds, inclusive
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        count(lit(1)).over(w).as("n_trailing"),
        dsumOver(col("o_totalprice"), w).as("sum_trailing"))
      .orderBy(col("o_orderkey"))
  }

  val qWindowRangeSql: String =
    """SELECT o_orderkey, o_custkey,
      |  COUNT(*) OVER w AS n_trailing,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER w AS DOUBLE)
      |    AS sum_trailing
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
      |  RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // Unpivot (wide → long melt, the inverse of q_pivot): three measure
  // columns become (metric, value) rows via Spark's native unpivot —
  // an Expand of 3× the input, immediately collapsed by the partial
  // aggregate, so the wide intermediate never shuffles.
  // ---------------------------------------------------------------------
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .unpivot(
        ids = Array(col("l_orderkey")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount")),
        variableColumnName = "metric", valueColumnName = "value")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("metric"))

  val qUnpivotSql: String =
    """SELECT metric, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      |  UNION ALL
      |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT 'l_discount', l_discount FROM lineitem)
      |GROUP BY metric
      |ORDER BY metric""".stripMargin
}
