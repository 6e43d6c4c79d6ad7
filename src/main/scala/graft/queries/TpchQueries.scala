package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** TPC-H-shaped relational queries: the flagship Q1 rollup and the
  * Q2-Q22 join/aggregate shapes, money sums decimal-exact.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object TpchQueries {

  /** TPC-H discounted revenue Σ extendedprice·(1−discount), decimal-exact
    * (one definition — six query shapes share it, so a precision change
    * cannot silently diverge per query).
    */
  private def discountedRevenue: Column =
    sum(col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("double")

  /** TPC-H Q1-shaped rollup: scan → filter-free agg → sort. Exercises
    * parquet scan, partial+final hash agg, decimal-exact sums.
    */
  private[graft] def pricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        discountedRevenue.as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val specs: Seq[QuerySpec] = Seq(
    // ---- flagship scan+agg+sort -------------------------------------------
    QuerySpec("q1_pricing_summary", (s, dir) => pricingSummary(s, dir),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- full TPC-H Q1 shape: filtered scan (pushdown) + avg columns -------
    QuerySpec("q1_full_pricing", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          discountedRevenue.as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .withColumn("avg_price", col("sum_base_price") / col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- TPC-H Q3 shape: 3-way join, pushed filters, top-10 by revenue -----
    // customer filter and both date filters push into the parquet scans;
    // orders⋈lineitem is the fact-fact shuffle join, customer broadcasts.
    QuerySpec("q3_shipping_priority", (s, dir) => {
      val cust = broadcast(t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) DIV 86400")
            .as("o_day"),
          col("o_orderpriority"))
        .agg(discountedRevenue.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l.l_orderkey,
        |  (CAST(EPOCH_US(o.o_orderdate) AS BIGINT) // 86400000000) AS o_day,
        |  o.o_orderpriority,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l.l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // ---- TPC-H Q5 shape: 6-way join, dims broadcast, region-filtered -------
    QuerySpec("q5_local_supplier", (s, dir) => {
      val region = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      val nation = broadcast(t(s, dir, "nation"))
      val supp = broadcast(t(s, dir, "supplier"))
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(discountedRevenue.as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      """SELECT n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin),

    // ---- TPC-H Q6 shape: pure pushed-filter scan + single aggregate --------
    QuerySpec("q6_forecast_revenue", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,4)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines")),
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // ---- TPC-H Q18 shape: having-filtered fact agg semi-joined back --------
    // big-quantity orders: aggregate lineitem per order, HAVING over the
    // sum, then join orders+customer for the report — the agg output is the
    // small side and broadcasts back against the fact tables.
    QuerySpec("q18_large_orders", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
        .filter(col("sum_qty") > lit(150).cast("decimal(18,2)"))
      t(s, dir, "orders")
        .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").cast("double")
            .as("o_totalprice"),
          col("sum_qty").cast("double").as("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(20)
    },
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c.c_name, o.o_orderkey,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        |  CAST(b.sum_qty AS DOUBLE) AS sum_qty
        |FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 20""".stripMargin),

    // ---- TPC-H Q10 shape: top customers by returned-goods revenue ----------
    QuerySpec("q10_returned_items", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      val cust = broadcast(t(s, dir, "customer"))
      val nat = broadcast(t(s, dir, "nation"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(discountedRevenue.as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // ---- TPC-H Q7 shape: bilateral trade volume between two nations --------
    QuerySpec("q7_volume_shipping", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = broadcast(t(s, dir, "customer"))
      val supp = broadcast(t(s, dir, "supplier"))
      val nat = t(s, dir, "nation")
      val n1 = broadcast(nat.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation")))
      val n2 = broadcast(nat.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .filter(
          (col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(discountedRevenue.as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |  CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        |JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        |   OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // ---- TPC-H Q4 shape: EXISTS → semi join with a non-equi conjunct -------
    // Orders in a quarter having at least one line shipped after the order
    // date. The EXISTS decorrelates to a LEFT SEMI join whose condition
    // carries the correlated l_shipdate > o_orderdate predicate; the date
    // filter prunes the orders side before the shuffle.
    QuerySpec("q4_priority_count", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-04-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(l,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-04-01'
        |  AND o_orderdate < TIMESTAMP '1995-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- TPC-H Q11 shape: HAVING against a scalar over the same agg --------
    // Parts whose discounted revenue exceeds 1.5× the mean per-part share.
    // Exact everywhere: per-line revenue is decimal(18,2)·decimal(18,4) → 6
    // decimal places, summed exactly and carried as integer micro-units
    // (longs), so the threshold comparison 2·rev·n_parts > 3·total is pure
    // integer math in both engines. (Long micro-units hold to ~SF100; past
    // that, widen to decimal or rescale.) The 1-row total broadcasts back
    // over the per-part aggregate — two shuffles total (both keyed on
    // l_partkey, reused).
    QuerySpec("q11_part_concentration", (s, dir) => {
      val revDec = sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
        .cast("decimal(28,6)"))
      val perPart = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg((revDec.cast("decimal(28,6)") * 1000000).cast("long")
          .as("rev_micro"),
          count(lit(1)).as("n_lines"))
      val tot = perPart.agg(sum(col("rev_micro")).as("tot_micro"),
        count(lit(1)).as("n_parts"))
      perPart.crossJoin(broadcast(tot))
        .filter(col("rev_micro") * col("n_parts") * 2 > col("tot_micro") * 3)
        .select(col("l_partkey"),
          round(col("rev_micro").cast("double") / 1e6, 6).as("revenue"),
          col("n_lines"))
        .orderBy(col("l_partkey"))
    },
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
        |      AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS rev_micro,
        |    COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(rev_micro) AS BIGINT) AS tot_micro,
        |  COUNT(*) AS n_parts FROM pp)
        |SELECT l_partkey, ROUND(CAST(rev_micro AS DOUBLE) / 1e6, 6) AS revenue,
        |  n_lines
        |FROM pp CROSS JOIN t
        |WHERE rev_micro * n_parts * 2 > tot_micro * 3
        |ORDER BY l_partkey""".stripMargin),

    // ---- TPC-H Q14 shape: conditional-aggregate ratio over a dim join ------
    // Promo revenue share for one ship month. sum(CASE WHEN promo) / sum —
    // both sums decimal-exact; the single division is the only double step.
    QuerySpec("q14_promo_revenue", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100).cast("double") *
            sum(when(col("p_type") === "PROMO", rev)).cast("double") /
            sum(rev).cast("double"), 6).as("promo_pct"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT
        |  ROUND(CAST(100 AS DOUBLE) *
        |    CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
        |      END) AS DOUBLE) /
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
        |      AS DOUBLE), 6) AS promo_pct,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01'
        |  AND l_shipdate < TIMESTAMP '1995-10-01'""".stripMargin),

    // ---- TPC-H Q15 shape: argmax via scalar-max broadcast ------------------
    // Top revenue supplier for a quarter. The per-supplier aggregate stays
    // decimal so the rev = max(rev) equality is exact (a double tie-compare
    // would be engine-dependent); the 1-row max and the supplier dim
    // broadcast — no second shuffle after the supplier agg.
    QuerySpec("q15_top_supplier", (s, dir) => {
      val r = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
          .as("rev_dec"))
      val mx = r.agg(max(col("rev_dec")).as("max_rev"))
      r.crossJoin(broadcast(mx))
        .filter(col("rev_dec") === col("max_rev"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("rev_dec").cast("double"), 6).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
      """WITH r AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
        |      AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1),
        |mx AS (SELECT MAX(rev) AS m FROM r)
        |SELECT s_suppkey, s_name, ROUND(CAST(rev AS DOUBLE), 6) AS total_revenue
        |FROM r CROSS JOIN mx
        |JOIN supplier ON r.l_suppkey = s_suppkey
        |WHERE r.rev = mx.m
        |ORDER BY s_suppkey""".stripMargin),

    // ---- TPC-H Q17 shape: correlated avg → grouped-agg join decorrelation --
    // Revenue from lines whose quantity is under half their part's average.
    // qty < avg/2 cross-multiplies to 2·qty·n < Σqty — exact longs (the
    // quantities are integral), no double avg on the comparison path. The
    // per-part aggregate joins back on l_partkey (broadcast at these SFs;
    // at 100 TB AQE turns it into a co-partitioned shuffle join on the same
    // key the aggregate already produced).
    QuerySpec("q17_small_qty_revenue", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val perPart = l.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_li"))
      l.join(broadcast(perPart), col("l_partkey") === col("pk"))
        .filter(col("l_quantity").cast("long") * col("n_li") * 2 < col("sum_qty"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice")).as("total_price"))
    },
      """WITH pa AS (
        |  SELECT l_partkey AS pk, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |    COUNT(*) AS n_li
        |  FROM lineitem GROUP BY 1)
        |SELECT COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM lineitem JOIN pa ON l_partkey = pk
        |WHERE CAST(l_quantity AS BIGINT) * n_li * 2 < sum_qty""".stripMargin),

    // ---- TPC-H Q19 shape: disjunctive multi-column join predicate ----------
    // Three OR'ed (brand, size-range, quantity-range) triples. The p_size
    // bounds push to the part scan and the quantity bounds to the lineitem
    // scan (union of the ranges); the residual disjunction evaluates inside
    // the broadcast join's codegen stage.
    QuerySpec("q19_disjunctive_revenue", (s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
        col("p_size"))
      def m(brand: String, sMax: Int, qMin: Int, qMax: Int): Column =
        col("p_brand") === brand && col("p_size").between(1, sMax) &&
          col("l_quantity").between(qMin, qMax)
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey") &&
          (m("Brand#12", 5, 1, 11) || m("Brand#23", 10, 10, 20) ||
            m("Brand#34", 15, 20, 30)))
        .agg(discountedRevenue.as("revenue"), count(lit(1)).as("n_lines"))
    },
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // ---- TPC-H Q22 shape: scalar-avg gate + anti join ----------------------
    // Dormant rich customers: above-average balance (avg over positive
    // balances) with no order since 2000. The average gate is exact:
    // bal·n > total in decimal — no double avg on the comparison path.
    // The recent-orders key set anti-joins (broadcast: it only shrinks with
    // the date filter; at TB scale the anti join shuffles on custkey).
    QuerySpec("q22_dormant_customers", (s, dir) => {
      val cust = t(s, dir, "customer")
      val gate = cust.filter(col("c_acctbal") > 0)
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("tot"),
          count(lit(1)).as("n"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(gate))
        .filter(col("c_acctbal").cast("decimal(18,2)") * col("n") > col("tot"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_custs"),
          dsum(col("c_acctbal")).as("total_acctbal"))
        .orderBy(col("c_nationkey"))
    },
      """WITH gate AS (
        |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS tot, COUNT(*) AS n
        |  FROM customer WHERE c_acctbal > 0),
        |recent AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |SELECT c_nationkey, COUNT(*) AS n_custs,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer CROSS JOIN gate
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > tot
        |  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- TPC-H Q2 shape: regional min-cost supplier (argmin decorrelation) -
    // partsupp is absent from the corpus, so lineitem's (part, supplier)
    // pairs play the supply catalog and the min line price plays supply
    // cost. Argmin without a window: per-pair min, per-part min, equality
    // join back on the exact decimal, min-suppkey tie-break (same
    // decorrelation as q15). EUROPE suppliers resolve through a broadcast
    // semi-join chain, so the fact scan shuffles only on its group keys.
    QuerySpec("q2_min_cost_supplier", (s, dir) => {
      val eurSupp = broadcast(
        t(s, dir, "supplier")
          .join(t(s, dir, "nation"),
            col("s_nationkey") === col("n_nationkey"))
          .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey")))
      val pc = t(s, dir, "lineitem")
        .join(eurSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast("decimal(18,2)")).as("cost"))
      val mc = pc.groupBy(col("l_partkey").as("mk"))
        .agg(min(col("cost")).as("mcost"))
      pc.join(mc, col("l_partkey") === col("mk") &&
            col("cost") === col("mcost"))
        .groupBy(col("l_partkey"), col("cost"))
        .agg(min(col("l_suppkey")).as("best_suppkey"))
        .join(broadcast(t(s, dir, "part").filter(col("p_size") <= 5)),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_brand"), col("best_suppkey"),
          round(col("cost").cast("double"), 6).as("min_cost"))
        .orderBy(col("p_partkey"))
    },
      """WITH eur AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |pc AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM eur)
        |  GROUP BY 1, 2),
        |mc AS (SELECT l_partkey AS mk, MIN(cost) AS mcost FROM pc GROUP BY 1),
        |best AS (
        |  SELECT pc.l_partkey, pc.cost, MIN(pc.l_suppkey) AS best_suppkey
        |  FROM pc JOIN mc ON pc.l_partkey = mc.mk AND pc.cost = mc.mcost
        |  GROUP BY 1, 2)
        |SELECT p_partkey, p_brand, best_suppkey,
        |  ROUND(CAST(cost AS DOUBLE), 6) AS min_cost
        |FROM best JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 5
        |ORDER BY p_partkey""".stripMargin),

    // ---- TPC-H Q8 shape: national market share within a regional market ----
    // Numerator and denominator accumulate as exact decimal micro-units in
    // ONE conditional aggregation pass; the share is a single double
    // division of two exact longs. Customer-region membership is a
    // broadcast semi-join on orders (never widens the fact rows); supplier
    // nation is a broadcast dim join.
    QuerySpec("q8_market_share", (s, dir) => {
      val amerCust = broadcast(
        t(s, dir, "customer")
          .join(t(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .join(t(s, dir, "region").filter(col("r_name") === "AMERICA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey")))
      val suppNat = broadcast(
        t(s, dir, "supplier")
          .join(t(s, dir, "nation"),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(amerCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderdate"))
      val volume = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,4)") -
          col("l_discount").cast("decimal(18,4)"))).cast("decimal(28,6)")
      t(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          (sum(when(col("supp_nation") === "NATION_3", volume)
            .otherwise(lit(0).cast("decimal(28,6)"))).cast("decimal(28,6)")
            * 1000000).cast("long").as("nation_micro"),
          (sum(volume).cast("decimal(28,6)") * 1000000)
            .cast("long").as("total_micro"))
        .select(col("o_year"),
          round(col("nation_micro").cast("double") /
            col("total_micro").cast("double"), 6).as("mkt_share"),
          round(col("total_micro").cast("double") / 1e6, 6)
            .as("total_volume"))
        .orderBy(col("o_year"))
    },
      """WITH amer AS (
        |  SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'AMERICA'),
        |f AS (
        |  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
        |      AS vol,
        |    n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE o_custkey IN (SELECT c_custkey FROM amer)
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'),
        |a AS (
        |  SELECT o_year,
        |    CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(28,6)) * 1000000
        |      AS BIGINT) AS nation_micro,
        |    CAST(CAST(SUM(vol) AS DECIMAL(28,6)) * 1000000 AS BIGINT)
        |      AS total_micro
        |  FROM f GROUP BY 1)
        |SELECT o_year,
        |  ROUND(CAST(nation_micro AS DOUBLE) / CAST(total_micro AS DOUBLE), 6)
        |    AS mkt_share,
        |  ROUND(CAST(total_micro AS DOUBLE) / 1e6, 6) AS total_volume
        |FROM a ORDER BY o_year""".stripMargin),

    // ---- TPC-H Q9 shape: product profit by supplier nation and year --------
    // Profit = revenue − imputed supply cost (retailprice·qty/2 — partsupp
    // has no analog in the corpus), every term exact decimal before the
    // one grouped sum. Part filter prunes the fact early through a
    // broadcast join; only orderkey→year requires the fact-fact shuffle.
    QuerySpec("q9_product_profit", (s, dir) => {
      val redParts = broadcast(t(s, dir, "part")
        .filter(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice")))
      val suppNat = broadcast(
        t(s, dir, "supplier")
          .join(t(s, dir, "nation"),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("nation")))
      val profit = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,4)") -
            col("l_discount").cast("decimal(18,4)"))).cast("decimal(28,6)") -
        (col("p_retailprice").cast("decimal(18,2)") *
          col("l_quantity").cast("decimal(18,2)") *
          lit(0.5).cast("decimal(18,2)")).cast("decimal(28,6)")
      t(s, dir, "lineitem")
        .join(redParts, col("l_partkey") === col("p_partkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(profit).cast("double").as("profit"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("nation"), col("o_year"))
    },
      """SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
        |      AS DECIMAL(28,6)) -
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS DECIMAL(18,2)) *
        |      CAST(0.5 AS DECIMAL(18,2)) AS DECIMAL(28,6))
        |  ) AS DOUBLE) AS profit,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- TPC-H Q12 shape: late-shipment priority counts --------------------
    // No l_shipmode/commitdate in the corpus: "late" = shipped more than
    // 60 days after the order date, mode proxied by l_linestatus. The
    // two-branch CASE aggregation is the Q12 signature; one fact-fact
    // shuffle join, conditional sums share one partial-agg pass.
    QuerySpec("q12_late_shipment_priority", (s, dir) => {
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > expr("o_orderdate + INTERVAL 60 DAY"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- TPC-H Q13 shape: customer order-count distribution ----------------
    // Pre-aggregate orders per customer FIRST (shuffle carries one row per
    // customer, not per order), then the left-outer join against the
    // customer dim and a second tiny aggregation over the counts. The
    // nulls-become-zero outer-join histogram is the Q13 signature.
    QuerySpec("q13_customer_distribution", (s, dir) => {
      val perCust = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      t(s, dir, "customer").select(col("c_custkey"))
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """WITH pc AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        |  WHERE o_orderpriority <> '5-LOW' GROUP BY 1),
        |cc AS (
        |  SELECT COALESCE(n_orders, 0) AS c_count
        |  FROM customer LEFT JOIN pc ON c_custkey = o_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM cc GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // ---- TPC-H Q16 shape: supplier count by part attribute -----------------
    // Distinct-supplier counts per (brand, type, size) with a broadcast
    // anti-join blacklist (negative-balance suppliers) — lineitem plays
    // partsupp as the part↔supplier link. Anti + dim joins broadcast;
    // the only shuffle is the final distinct aggregation on its group keys.
    QuerySpec("q16_supplier_part_types", (s, dir) => {
      val badSupp = broadcast(t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey")))
      val parts = broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          !col("p_type").startsWith("MEDIUM") && col("p_size") <= 9)
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size")))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size <= 9
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // ---- TPC-H Q20 shape: suppliers holding a dominant part share ----------
    // Nested semi-join ladder: small-part filter → per-(part,supplier)
    // 1996 quantity → per-part total → pairs with share > 1/2 (exact
    // decimal compare) → ASIA suppliers that own one. Every membership
    // test is a semi-join, never a fact-widening inner join.
    QuerySpec("q20_promotion_suppliers", (s, dir) => {
      val smallParts = broadcast(t(s, dir, "part")
        .filter(col("p_name").like("small%")).select(col("p_partkey")))
      val ps = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(smallParts, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("pair_qty"))
      val tot = ps.groupBy(col("l_partkey").as("tk"))
        .agg(sum(col("pair_qty")).as("part_qty"))
      val dominant = ps.join(tot,
          col("l_partkey") === col("tk") &&
            col("pair_qty") * 2 > col("part_qty"))
        .select(col("l_suppkey"))
      val asiaNat = broadcast(t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey")))
      t(s, dir, "supplier")
        .join(asiaNat, col("s_nationkey") === col("n_nationkey"), "left_semi")
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    },
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS pair_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND l_partkey IN
        |      (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT l_partkey AS tk, SUM(pair_qty) AS part_qty
        |  FROM ps GROUP BY 1),
        |dominant AS (
        |  SELECT DISTINCT l_suppkey FROM ps
        |  JOIN tot ON l_partkey = tk AND pair_qty * 2 > part_qty)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_nationkey IN (
        |    SELECT n_nationkey FROM nation
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'ASIA')
        |  AND s_suppkey IN (SELECT l_suppkey FROM dominant)
        |ORDER BY s_suppkey""".stripMargin),

    // ---- TPC-H Q21 shape: sole-late supplier in multi-supplier orders ------
    // The EXISTS / NOT-EXISTS pair decorrelates into one per-order
    // aggregation (supplier count + late-supplier count) joined back to the
    // per-(order,supplier) late flags — two hash aggregations sharing the
    // l_orderkey exchange instead of two correlated self-join probes.
    // "Late" = shipped >90 days after the order date (no receipt/commit
    // dates in the corpus).
    QuerySpec("q21_waiting_suppliers", (s, dir) => {
      val ordF = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val perPair = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max((col("l_shipdate") >
          expr("o_orderdate + INTERVAL 90 DAY")).cast("int")).as("supp_late"))
      val perOrder = perPair.groupBy(col("l_orderkey").as("ok"))
        .agg(count(lit(1)).as("n_supps"),
          sum(col("supp_late")).as("n_late_supps"))
      perPair
        .join(perOrder, col("l_orderkey") === col("ok") &&
          col("supp_late") === 1 && col("n_supps") > 1 &&
          col("n_late_supps") === 1)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
    },
      """WITH pp AS (
        |  SELECT l_orderkey, l_suppkey,
        |    MAX(CAST(l_shipdate > o_orderdate + INTERVAL 90 DAY AS INT))
        |      AS supp_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1, 2),
        |po AS (
        |  SELECT l_orderkey AS ok, COUNT(*) AS n_supps,
        |    SUM(supp_late) AS n_late_supps
        |  FROM pp GROUP BY 1)
        |SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM pp
        |JOIN po ON l_orderkey = ok
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE supp_late = 1 AND n_supps > 1 AND n_late_supps = 1
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey""".stripMargin)
  )
}
