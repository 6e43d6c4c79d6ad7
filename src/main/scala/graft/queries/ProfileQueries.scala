package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.metrics.Metrics
import graft.streaming.Streams

import Shared._

/** Data-profiling and privacy queries: column profiles, constraints and
  * functional dependencies, correlation and drift panels, percentiles,
  * k-anonymity, l-diversity and t-closeness.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object ProfileQueries {

  /** Exact-percentile oracle: the DEFINITION (rank = ceil(n·q) in integer
    * arithmetic, value = rank-th smallest) via a plain window — DuckDB can
    * afford the full per-group sort the Spark side exists to avoid.
    */
  private def percentilesOracle(qMicro: Seq[Long]): String = {
    val vals = qMicro.map(q => s"($q)").mkString(", ")
    s"""WITH b AS (
       |  SELECT l_returnflag,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM lineitem),
       |r AS (
       |  SELECT l_returnflag, v,
       |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
       |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM b),
       |q AS (SELECT qm FROM (VALUES $vals) t(qm))
       |SELECT l_returnflag, round(qm / 1000000.0, 6) AS q, v AS value
       |FROM r JOIN q ON rn = (n * qm + 999999) // 1000000
       |ORDER BY l_returnflag, q""".stripMargin
  }

  /** Kendall tau-b replay — shared by the batch query and its
    * Complete-mode contingency-state streaming twin.
    */
  private val kendallTauOracle: String =
    """WITH ct AS (
      |  SELECT l_returnflag AS g,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT) // 1000000 AS x,
      |    CAST(l_quantity AS BIGINT) AS y,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1, 2, 3),
      |cd AS (
      |  SELECT a.g,
      |    CAST(SUM(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END)
      |      AS BIGINT) AS conc,
      |    CAST(SUM(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END)
      |      AS BIGINT) AS disc
      |  FROM ct a JOIN ct b ON a.g = b.g AND b.x > a.x
      |  GROUP BY 1),
      |tx AS (
      |  SELECT g, CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS t_x FROM (
      |    SELECT g, x, CAST(SUM(n) AS BIGINT) AS m FROM ct
      |    GROUP BY 1, 2) GROUP BY 1),
      |ty AS (
      |  SELECT g, CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS t_y FROM (
      |    SELECT g, y, CAST(SUM(n) AS BIGINT) AS m FROM ct
      |    GROUP BY 1, 2) GROUP BY 1),
      |nn AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n FROM ct GROUP BY 1)
      |SELECT nn.g AS l_returnflag, nn.n,
      |  COALESCE(cd.conc, 0) AS concordant,
      |  COALESCE(cd.disc, 0) AS discordant,
      |  tx.t_x, ty.t_y, n * (n - 1) // 2 AS n0,
      |  CASE WHEN n * (n - 1) // 2 > tx.t_x
      |      AND n * (n - 1) // 2 > ty.t_y THEN
      |    ROUND(CAST(COALESCE(cd.conc, 0) - COALESCE(cd.disc, 0)
      |        AS DOUBLE) /
      |      sqrt(CAST(n * (n - 1) // 2 - tx.t_x AS DOUBLE) *
      |        CAST(n * (n - 1) // 2 - ty.t_y AS DOUBLE)), 6) END
      |    AS tau_b
      |FROM nn JOIN tx USING (g) JOIN ty USING (g)
      |LEFT JOIN cd USING (g)
      |ORDER BY 1""".stripMargin

  // ---- l-diversity panel (homogeneity-attack screen) ----------------------
  // Quasi (nation, segment) classes scored by the diversity of their
  // sensitive balance band — k-anonymous classes can still leak when
  // every member shares the sensitive value.
  private val lDiversityCustomer: QuerySpec =
    QuerySpec("l_diversity_customer", (s, dir) =>
      graft.metrics.Metrics.lDiversity(t(s, dir, "customer")
          .withColumn("bal_band",
            expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
              " div 100000")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", Seq(2, 3, 5))
        .orderBy(col("l")),
      // the md5 class/sensitive fingerprints are internal — the oracle
      // groups raw tuples (GROUP BY is null-safe in both engines)
      """WITH b AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      // 100000 AS band
        |  FROM customer),
        |cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(COUNT(DISTINCT band) AS BIGINT) AS l,
        |    CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM b GROUP BY 1, 2),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(sz) AS BIGINT) AS n_rows,
        |  CAST(MIN(l) AS BIGINT) AS min_diversity FROM cls),
        |panel AS (
        |  SELECT u.lv AS l,
        |    CAST(SUM(CASE WHEN cls.l < u.lv THEN 1 ELSE 0 END) AS BIGINT)
        |      AS risk_classes,
        |    CAST(SUM(CASE WHEN cls.l < u.lv THEN sz ELSE 0 END) AS BIGINT)
        |      AS risk_rows
        |  FROM cls, UNNEST([2, 3, 5]) AS u(lv) GROUP BY 1)
        |SELECT CAST(l AS BIGINT) AS l, n_classes, n_rows, min_diversity,
        |  risk_classes, risk_rows,
        |  ROUND(CAST(risk_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |    AS risk_frac
        |FROM panel, tot ORDER BY l""".stripMargin)

  // ---- t-closeness panel (skewness-attack screen) -------------------------
  // The third privacy rung: per (nation, segment) class, the ordered EMD
  // between its balance-band distribution and the table's — l-diverse
  // classes still leak when their sensitive DISTRIBUTION skews far from
  // the global one. Exact-integer cumulative differences, cross-
  // multiplied threshold tests (t = 0.15 / 0.25 / 0.5).
  private val tClosenessCustomer: QuerySpec =
    QuerySpec("t_closeness_customer", (s, dir) =>
      graft.metrics.Metrics.tCloseness(t(s, dir, "customer")
          .withColumn("bal_band",
            expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
              " div 100000")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band",
        Seq(150000L, 250000L, 500000L))
        .orderBy(col("t")),
      // ordered EMD replayed in HUGEINT: the cumulative-difference sum over
      // the class x value scaffold, thresholds in cross-multiplied integer
      // form (the Spark side's exact arithmetic, mirrored)
      """WITH b AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      // 100000 AS sv
        |  FROM customer),
        |cells AS (
        |  SELECT c_nationkey, c_mktsegment, sv,
        |    CAST(COUNT(*) AS HUGEINT) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |gd AS (SELECT sv, CAST(SUM(c) AS HUGEINT) AS g
        |  FROM cells GROUP BY 1),
        |gtot AS (SELECT CAST(SUM(g) AS HUGEINT) AS n,
        |  CAST(COUNT(*) AS HUGEINT) AS m FROM gd),
        |cls AS (SELECT c_nationkey, c_mktsegment,
        |  CAST(SUM(c) AS HUGEINT) AS sz FROM cells GROUP BY 1, 2),
        |scaf AS (
        |  SELECT cls.c_nationkey, cls.c_mktsegment, gd.sv, gd.g,
        |    cls.sz, COALESCE(cells.c, 0) AS c
        |  FROM cls CROSS JOIN gd
        |  LEFT JOIN cells
        |    ON cells.c_nationkey IS NOT DISTINCT FROM cls.c_nationkey
        |    AND cells.c_mktsegment IS NOT DISTINCT FROM cls.c_mktsegment
        |    AND cells.sv IS NOT DISTINCT FROM gd.sv),
        |cum AS (
        |  SELECT c_nationkey, c_mktsegment, sz,
        |    SUM(c * n - g * sz) OVER (
        |      PARTITION BY c_nationkey, c_mktsegment ORDER BY sv) AS d
        |  FROM scaf, gtot),
        |emd AS (
        |  SELECT c_nationkey, c_mktsegment, MAX(sz) AS sz,
        |    SUM(ABS(d)) AS num
        |  FROM cum GROUP BY 1, 2),
        |emd2 AS (
        |  SELECT sz, num,
        |    sz * n * (CASE WHEN m > 1 THEN m - 1 ELSE 1 END) AS den
        |  FROM emd, gtot),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(sz) AS BIGINT) AS n_rows,
        |  ROUND(MAX(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)), 6)
        |    AS max_emd FROM emd2),
        |panel AS (
        |  SELECT u.tm,
        |    CAST(SUM(CASE WHEN num * 1000000 > u.tm * den
        |      THEN 1 ELSE 0 END) AS BIGINT) AS risk_classes,
        |    CAST(SUM(CASE WHEN num * 1000000 > u.tm * den
        |      THEN sz ELSE 0 END) AS BIGINT) AS risk_rows
        |  FROM emd2, UNNEST([150000, 250000, 500000]) AS u(tm)
        |  GROUP BY 1)
        |SELECT ROUND(CAST(tm AS DOUBLE) / 1e6, 6) AS t, n_classes,
        |  n_rows, max_emd, risk_classes, risk_rows,
        |  ROUND(CAST(risk_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |    AS risk_frac
        |FROM panel, tot ORDER BY t""".stripMargin)

  // ---- multi-pair Pearson panel (one scan for the numeric matrix) --------
  private val corrMatrixLineitem: QuerySpec =
    QuerySpec("corr_matrix_lineitem", (s, dir) =>
      graft.metrics.Metrics.corrMatrix(t(s, dir, "lineitem"), Seq(
          ("qty_price", "l_quantity", "l_extendedprice"),
          ("qty_discount", "l_quantity", "l_discount"),
          ("price_tax", "l_extendedprice", "l_tax"),
          ("discount_tax", "l_discount", "l_tax")))
        .orderBy(col("pair")),
      // per-pair NULL exclusion, exact decimal moments, the corr_lineitem
      // formula mirrored per pair
      """WITH u AS (
        |  SELECT 'qty_price' AS pair,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y FROM lineitem
        |  UNION ALL SELECT 'qty_discount',
        |    CAST(l_quantity AS DECIMAL(18,2)),
        |    CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
        |  UNION ALL SELECT 'price_tax',
        |    CAST(l_extendedprice AS DECIMAL(18,2)),
        |    CAST(l_tax AS DECIMAL(18,2)) FROM lineitem
        |  UNION ALL SELECT 'discount_tax',
        |    CAST(l_discount AS DECIMAL(18,2)),
        |    CAST(l_tax AS DECIMAL(18,2)) FROM lineitem),
        |s AS (
        |  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM u WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY pair)
        |SELECT pair, n,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
        |      AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
        |    ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |      (SQRT(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |       SQRT(CAST(n AS DOUBLE) * syy - sy * sy)), 6)
        |  END AS pearson
        |FROM s ORDER BY pair""".stripMargin)

  // ---- WOE / information-value feature panel ------------------------------
  // Value-band bins scored against the high-value-purchase label —
  // which bins separate, and the leakage smell if one separates too
  // well. NULL value rows form the missing-value bin.
  private val woeIvEvents: QuerySpec =
    QuerySpec("woe_iv_events", (s, dir) =>
      graft.metrics.Metrics.woeIv(t(s, dir, "events")
          .withColumn("label",
            col("event_type") === "purchase" && col("value") >= 150.0)
          .withColumn("bin",
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)" +
              " div 5000")),
        "label", "bin")
        .orderBy(col("bin")),
      // Laplace-smoothed adjusted WOE; fractions mirrored verbatim
      """WITH b AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    // 5000 AS bin,
        |    (event_type = 'purchase' AND value >= 150.0) AS y
        |  FROM events),
        |cells AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        |  FROM b GROUP BY bin),
        |tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS p,
        |  CAST(SUM(n_neg) AS BIGINT) AS q,
        |  CAST(COUNT(*) AS BIGINT) AS k FROM cells),
        |f AS (
        |  SELECT bin, n, n_pos, n_neg,
        |    (CAST(n_pos AS DOUBLE) + 0.5)
        |      / (CAST(p AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS gf,
        |    (CAST(n_neg AS DOUBLE) + 0.5)
        |      / (CAST(q AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS bf
        |  FROM cells, tot)
        |SELECT bin, n, n_pos, n_neg,
        |  ROUND(ln(gf / bf), 6) AS woe,
        |  ROUND((gf - bf) * ln(gf / bf), 6) AS iv_contrib
        |FROM f ORDER BY bin""".stripMargin)

  // ---- profiling: approximate functional dependencies --------------------
  // g3 violation mass for three candidate column rules on orders — the
  // schema-rule profiling that precedes cell-level error detection.
  private val fdViolationsOrders: QuerySpec =
    QuerySpec("fd_violations_orders", (s, dir) => {
      val o = t(s, dir, "orders")
      Metrics.fdViolations(o, Seq(
          ("custkey->priority", Seq("o_custkey"), "o_orderpriority"),
          ("orderdate->status", Seq("o_orderdate"), "o_orderstatus"),
          ("priority->status", Seq("o_orderpriority"), "o_orderstatus")))
        .orderBy(col("fd"))
    },
      // g3 replay: per-(lhs,rhs) counts, per-lhs sum+max, one fold per FD —
      // NULL grouped as an ordinary value (SQL GROUP BY semantics).
      """WITH
        |g1 AS (
        |  SELECT SUM(c) AS n, MAX(c) AS keep FROM (
        |    SELECT o_custkey, o_orderpriority, COUNT(*) AS c
        |    FROM orders GROUP BY 1, 2) GROUP BY o_custkey),
        |g2 AS (
        |  SELECT SUM(c) AS n, MAX(c) AS keep FROM (
        |    SELECT o_orderdate, o_orderstatus, COUNT(*) AS c
        |    FROM orders GROUP BY 1, 2) GROUP BY o_orderdate),
        |g3t AS (
        |  SELECT SUM(c) AS n, MAX(c) AS keep FROM (
        |    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS c
        |    FROM orders GROUP BY 1, 2) GROUP BY o_orderpriority),
        |f AS (
        |  SELECT 'custkey->priority' AS fd,
        |    CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN n > keep THEN 1 ELSE 0 END) AS BIGINT)
        |      AS violating_groups,
        |    CAST(SUM(n - keep) AS BIGINT) AS violations,
        |    ROUND(CAST(SUM(n - keep) AS DOUBLE) / SUM(n), 6) AS g3
        |  FROM g1
        |  UNION ALL
        |  SELECT 'orderdate->status',
        |    CAST(COUNT(*) AS BIGINT), CAST(SUM(n) AS BIGINT),
        |    CAST(SUM(CASE WHEN n > keep THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(SUM(n - keep) AS BIGINT),
        |    ROUND(CAST(SUM(n - keep) AS DOUBLE) / SUM(n), 6)
        |  FROM g2
        |  UNION ALL
        |  SELECT 'priority->status',
        |    CAST(COUNT(*) AS BIGINT), CAST(SUM(n) AS BIGINT),
        |    CAST(SUM(CASE WHEN n > keep THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(SUM(n - keep) AS BIGINT),
        |    ROUND(CAST(SUM(n - keep) AS DOUBLE) / SUM(n), 6)
        |  FROM g3t)
        |SELECT * FROM f ORDER BY fd""".stripMargin)

  // ---- QA: Benford first-digit panel over orders -------------------------
  // The numeric-column forensics screen: price cents vs the Benford
  // curve, plus the (deliberately) uniform custkey column — which the
  // panel flags hard, exactly its purpose on synthetic/fabricated data.
  private val benfordOrders: QuerySpec =
    QuerySpec("benford_orders", (s, dir) =>
      graft.metrics.Metrics.benfordDigits(
          t(s, dir, "orders").select(col("o_custkey"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("price_cents")),
          Seq("o_custkey", "price_cents"))
        .orderBy(col("column"), col("digit")),
      // Benford replay: exact string digit extraction, the same ln-ratio
      // expectation expression verbatim, chi-square contributions on the
      // unrounded expectation.
      """WITH base AS (
        |  SELECT 'o_custkey' AS col, o_custkey AS v FROM orders
        |  UNION ALL
        |  SELECT 'price_cents',
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |  FROM orders),
        |f AS (
        |  SELECT col, CAST(substr(CAST(abs(v) AS VARCHAR), 1, 1) AS INT)
        |    AS digit
        |  FROM base WHERE v IS NOT NULL AND v <> 0),
        |c AS (
        |  SELECT col, digit, CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM f GROUP BY 1, 2),
        |t AS (SELECT col, CAST(SUM(n_obs) AS BIGINT) AS n FROM c GROUP BY 1),
        |sc AS (
        |  SELECT t.col, t.n, CAST(d.digit AS INT) AS digit,
        |    COALESCE(c.n_obs, 0) AS n_obs
        |  FROM t CROSS JOIN (SELECT unnest(range(1, 10)) AS digit) d
        |  LEFT JOIN c ON c.col = t.col AND c.digit = d.digit)
        |SELECT sc.col AS "column", sc.digit, CAST(sc.n_obs AS BIGINT) AS n_obs,
        |  ROUND(CAST(sc.n_obs AS DOUBLE) / sc.n, 6) AS frac,
        |  ROUND(ln(1 + 1.0 / sc.digit) / ln(10), 6) AS benford,
        |  ROUND(power(sc.n_obs - sc.n * (ln(1 + 1.0 / sc.digit) / ln(10)), 2)
        |    / (sc.n * (ln(1 + 1.0 / sc.digit) / ln(10))), 6) AS chi2_contrib
        |FROM sc ORDER BY 1, 2""".stripMargin)

  // ---- QA: robust median/MAD outlier panel per event type ----------------
  // Hampel's rule (|x − median| > 3·MAD) with both medians by
  // distributed selection — the robust complement to anomaly_zscore
  // (a fat-finger row shifts mean AND σ and hides itself; it cannot
  // shift the median/MAD pair).
  private val madOutliersEvents: QuerySpec =
    QuerySpec("mad_outliers_events", (s, dir) =>
      graft.metrics.Metrics.madOutliers(
          t(s, dir, "events").withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long")),
          "cents", Seq("event_type"), 3)
        .orderBy(col("event_type")),
      // MAD replay: the exactPercentiles rank convention — type-1 order
      // statistic at rank (n·500000 + 999999) div 1e6 = ceil(n/2) — for
      // both medians; all comparisons exact longs.
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |medr AS (
        |  SELECT event_type, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM b),
        |med AS (
        |  SELECT event_type, v AS med FROM medr
        |  WHERE rn = (n * 500000 + 999999) // 1000000),
        |d AS (
        |  SELECT b.event_type, b.v, abs(b.v - med.med) AS adv, med.med
        |  FROM b JOIN med USING (event_type)),
        |madr AS (
        |  SELECT event_type, adv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adv) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |mad AS (
        |  SELECT event_type, adv AS mad FROM madr
        |  WHERE rn = (n * 500000 + 999999) // 1000000)
        |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(d.med) AS BIGINT) AS median,
        |  CAST(MAX(mad.mad) AS BIGINT) AS mad,
        |  CAST(SUM(CASE WHEN d.adv > mad.mad * 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  ROUND(CAST(SUM(CASE WHEN d.adv > mad.mad * 3 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS outlier_frac
        |FROM d JOIN mad USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  // ---- categorical-association panel (chi2 / Cramér's V / MI) ------------
  // Which metadata columns are redundant vs independent: three declared
  // pairs share ONE corpus scan (the fdCounts explode shape); zero cells
  // are closed-form, cell contributions sum as exact decimals.
  private val assocPanelOrders: QuerySpec =
    QuerySpec("assoc_panel_orders", (s, dir) =>
      graft.metrics.Metrics.assocPanel(t(s, dir, "orders")
          .withColumn("mon", month(col("o_orderdate")))
          .withColumn("band",
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)" +
              " div 5000000")),
        Seq(("priority_month", "o_orderpriority", "mon"),
          ("status_band", "o_orderstatus", "band"),
          ("status_priority", "o_orderstatus", "o_orderpriority")))
        .orderBy(col("pair")),
      // cell contributions are ONE fixed-order double expression mirrored
      // verbatim from the Scala side, summed exactly as DECIMAL(38,12) —
      // partial-agg order cannot move the 6th decimal
      """WITH src AS (
        |  SELECT
        |    CASE WHEN o_orderstatus IS NULL THEN 'N'
        |      ELSE 'v' || o_orderstatus END AS k_st,
        |    CASE WHEN o_orderpriority IS NULL THEN 'N'
        |      ELSE 'v' || o_orderpriority END AS k_pr,
        |    CASE WHEN o_orderdate IS NULL THEN 'N'
        |      ELSE 'v' || CAST(month(o_orderdate) AS VARCHAR) END AS k_mon,
        |    CASE WHEN o_totalprice IS NULL THEN 'N'
        |      ELSE 'v' || CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |        * 100 AS BIGINT) // 5000000 AS VARCHAR) END AS k_band
        |  FROM orders),
        |cells AS (
        |  SELECT pair, ak, bk, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT 'priority_month' AS pair, k_pr AS ak, k_mon AS bk
        |    FROM src
        |    UNION ALL SELECT 'status_band', k_st, k_band FROM src
        |    UNION ALL SELECT 'status_priority', k_st, k_pr FROM src)
        |  GROUP BY 1, 2, 3),
        |ra AS (SELECT pair, ak, CAST(SUM(c) AS BIGINT) AS ra
        |  FROM cells GROUP BY 1, 2),
        |cb AS (SELECT pair, bk, CAST(SUM(c) AS BIGINT) AS cb
        |  FROM cells GROUP BY 1, 2),
        |tot AS (SELECT pair, CAST(SUM(ra) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS r_levels FROM ra GROUP BY 1),
        |totc AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c_levels
        |  FROM cb GROUP BY 1),
        |j AS (
        |  SELECT cells.pair, n, r_levels, c_levels,
        |    CAST(c AS DOUBLE) AS od, CAST(n AS DOUBLE) AS nd,
        |    CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) AS rcd
        |  FROM cells JOIN ra USING (pair, ak) JOIN cb USING (pair, bk)
        |  JOIN tot USING (pair) JOIN totc USING (pair)),
        |terms AS (
        |  SELECT pair, n, r_levels, c_levels,
        |    SUM(CAST((od * nd - rcd) * (od * nd - rcd) / (nd * rcd)
        |      - rcd / nd AS DECIMAL(38,12))) AS chid,
        |    SUM(CAST((od / nd) * ((ln(od * nd) - ln(rcd)) / ln(2))
        |      AS DECIMAL(38,12))) AS mid
        |  FROM j GROUP BY 1, 2, 3, 4)
        |SELECT pair, n, r_levels, c_levels,
        |  (r_levels - 1) * (c_levels - 1) AS dof,
        |  ROUND(CAST(chid AS DOUBLE) + CAST(n AS DOUBLE), 6) AS chi2,
        |  CASE WHEN LEAST(r_levels, c_levels) > 1 THEN
        |    ROUND(sqrt((CAST(chid AS DOUBLE) + CAST(n AS DOUBLE))
        |      / CAST(n * (LEAST(r_levels, c_levels) - 1) AS DOUBLE)), 6)
        |  END AS cramers_v,
        |  ROUND(CAST(mid AS DOUBLE), 6) AS mi_bits
        |FROM terms ORDER BY pair""".stripMargin)

  // ---- join-key skew profiler (pre-flight shuffle advisor) ---------------
  // The key-mass distribution of user_id — the column every sessionize/
  // RFM/attribution job shuffles on: max/top-10 share, exact p50/p99 key
  // mass, Gini concentration, and the salt factor that levels the
  // hottest key against an average partition at 32-way parallelism.
  private val skewProfileEvents: QuerySpec =
    QuerySpec("skew_profile_events", (s, dir) =>
      graft.metrics.Metrics.skewProfile(t(s, dir, "events"),
        Seq("user_id"), 32),
      // gini over runs of equal masses: 2·Σ i·x = Σ m·(2·c·below + c·(c+1));
      // exact integers end-to-end, one float division per output stat
      """WITH km AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS m
        |  FROM events GROUP BY user_id),
        |mc AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS c FROM km GROUP BY m),
        |cum AS (SELECT m, c,
        |  CAST(SUM(c) OVER (ORDER BY m) AS BIGINT) AS ck FROM mc),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS k,
        |  CAST(SUM(m * c) AS BIGINT) AS t,
        |  CAST(MAX(m) AS BIGINT) AS mx FROM mc),
        |agg AS (SELECT
        |    SUM(CAST(m AS HUGEINT) * (2 * c * (ck - c) + c * (c + 1)))
        |      AS g2,
        |    SUM(CAST(m AS HUGEINT)
        |      * GREATEST(0, LEAST(c, 10 - (k - ck)))) AS top10
        |  FROM cum, tot),
        |pct AS (SELECT
        |    MAX(CASE WHEN (k * 500000 + 999999) // 1000000 > ck - c
        |      AND (k * 500000 + 999999) // 1000000 <= ck THEN m END)
        |      AS p50,
        |    MAX(CASE WHEN (k * 990000 + 999999) // 1000000 > ck - c
        |      AND (k * 990000 + 999999) // 1000000 <= ck THEN m END)
        |      AS p99
        |  FROM cum, tot)
        |SELECT t AS n_rows, k AS n_keys, mx AS max_mass,
        |  ROUND(CAST(mx AS DOUBLE) / CAST(t AS DOUBLE), 6) AS max_share,
        |  ROUND(CAST(top10 AS DOUBLE) / CAST(t AS DOUBLE), 6)
        |    AS top10_share,
        |  p50 AS p50_mass, p99 AS p99_mass,
        |  ROUND(CAST(g2 - (k + 1) * CAST(t AS HUGEINT) AS DOUBLE)
        |    / CAST(CAST(k AS HUGEINT) * t AS DOUBLE), 6) AS gini,
        |  (mx * 32 + t - 1) // t AS salt_factor
        |FROM tot, agg, pct""".stripMargin)

  // ---- exact per-group percentiles by distributed selection --------------
  // p50/p90/p99 of the line-item price in exact cents, per return flag —
  // located via a bucket histogram + a narrowed second pass, never a
  // global sort (see Metrics.exactPercentiles).
  private val percentilesLineitem: QuerySpec =
    QuerySpec("percentiles_lineitem", (s, dir) => {
      val l = t(s, dir, "lineitem").withColumn("cents",
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      Metrics.exactPercentiles(l, "cents",
          Seq(500000L, 900000L, 990000L), Seq("l_returnflag"), 12)
        .orderBy(col("l_returnflag"), col("q"))
    },
      percentilesOracle(
        Seq(500000L, 900000L, 990000L)))

  // ---- k-anonymity quasi-identifier risk panel ----------------------------
  private val kAnonymityCustomer: QuerySpec =
    QuerySpec("k_anonymity_customer", (s, dir) =>
      Metrics.kAnonymity(t(s, dir, "customer")
          .withColumn("bal_band",
            expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
              " div 100000")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), Seq(2, 5, 10))
        .orderBy(col("k")),
      // classes replay as a plain GROUP BY on the raw quasi columns (the md5
      // fingerprint is a shuffle-width detail, not a semantic)
      """WITH q AS (
        |  SELECT c_nationkey AS a, c_mktsegment AS b,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000
        |      AS c
        |  FROM customer),
        |cls AS (
        |  SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM q GROUP BY 1, 2, 3),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(sz) AS BIGINT) AS n_rows,
        |    CAST(MIN(sz) AS BIGINT) AS min_class_size
        |  FROM cls)
        |SELECT CAST(u.k AS BIGINT) AS k, t.n_classes, t.n_rows,
        |  t.min_class_size,
        |  CAST(COUNT(*) FILTER (cls.sz < u.k) AS BIGINT) AS risk_classes,
        |  CAST(COALESCE(SUM(sz) FILTER (cls.sz < u.k), 0) AS BIGINT)
        |    AS risk_rows,
        |  ROUND(CAST(COALESCE(SUM(sz) FILTER (cls.sz < u.k), 0) AS DOUBLE)
        |    / CAST(t.n_rows AS DOUBLE), 6) AS risk_frac
        |FROM cls, UNNEST([2, 5, 10]) AS u(k), tot t
        |GROUP BY u.k, t.n_classes, t.n_rows, t.min_class_size
        |ORDER BY k""".stripMargin)

  // ---- PSI drift panel (where the distribution mass moved) ---------------
  private val psiDriftOrders: QuerySpec =
    QuerySpec("psi_drift_orders", (s, dir) =>
      Metrics.psiDrift(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", col("o_orderkey") % 2 === 0),
        "cents", "side", 10)
        .orderBy(col("bin")),
      // reference deciles via the exactPercentiles rank convention
      // (rank = (n*q + 999999) // 1e6); smoothing/float expressions mirror
      // psiDrift verbatim (the benford bit-parity rule)
      """WITH b AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS v, (o_orderkey % 2 = 0) AS s
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |refr AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM b WHERE NOT s),
        |edges AS (
        |  SELECT u.i AS i, r.v AS e
        |  FROM UNNEST(range(1, 10)) AS u(i) JOIN refr r
        |    ON r.rn = (r.n * (u.i * 100000) + 999999) // 1000000),
        |binned AS (
        |  SELECT b.v, b.s,
        |    (SELECT COUNT(*) FROM edges e WHERE b.v > e.e) AS bin
        |  FROM b),
        |cnt AS (
        |  SELECT bin, CAST(COUNT(*) FILTER (NOT s) AS BIGINT) AS n_ref,
        |    CAST(COUNT(*) FILTER (s) AS BIGINT) AS n_cur
        |  FROM binned GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_ref) AS BIGINT) AS nr,
        |    CAST(SUM(n_cur) AS BIGINT) AS nc FROM cnt),
        |f AS (
        |  SELECT u.i AS bin, COALESCE(c.n_ref, 0) AS n_ref,
        |    COALESCE(c.n_cur, 0) AS n_cur, t.nr, t.nc
        |  FROM UNNEST(range(0, 10)) AS u(i)
        |  LEFT JOIN cnt c ON c.bin = u.i CROSS JOIN tot t)
        |SELECT bin, n_ref, n_cur,
        |  ROUND(CAST(n_ref AS DOUBLE) / CAST(nr AS DOUBLE), 6) AS frac_ref,
        |  ROUND(CAST(n_cur AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS frac_cur,
        |  ROUND((CAST(n_cur + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE)
        |       - CAST(n_ref + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))
        |    * (ln(CAST(n_cur + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))
        |       - ln(CAST(n_ref + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))),
        |    6) AS psi_contrib
        |FROM f ORDER BY bin""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    // ---- STREAMING join-key skew monitor (per-key class-size state — the
    // k-anonymity state relation; the histogram/gini fold replays on
    // drain) — watch the hot key grow as ingest accumulates ------------------
    QuerySpec("streaming_skew_profile_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val cls = graft.metrics.Metrics.kAnonymityCounts(stream,
        Seq("user_id"))
      val drained = Streams.runToMemory(cls, "stream_skew",
        OutputMode.Complete())
      graft.metrics.Metrics.skewFromSizes(drained, 32)
    },
      // skew twin: the k-anonymity class-size state + histogram fold
      skewProfileEvents.oracleSql),

    lDiversityCustomer,

    // ---- STREAMING l-diversity ((class, sensitive) cell state) -------------
    QuerySpec("streaming_l_diversity_customer", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "customer"), dir, "customer")
        .withColumn("bal_band",
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 100000"))
      val counts = graft.metrics.Metrics.lDiversityCounts(stream,
        Seq("c_nationkey", "c_mktsegment"), "bal_band")
      val drained = Streams.runToMemory(counts, "stream_ldiv",
        OutputMode.Complete())
      graft.metrics.Metrics.lDiversityFromCounts(drained, Seq(2, 3, 5))
        .orderBy(col("l"))
    },
      // l-diversity twin: (class, sensitive) cell state + panel fold
      lDiversityCustomer.oracleSql),

    tClosenessCustomer,

    // ---- STREAMING t-closeness ((class, ordered sensitive) cell state) -----
    QuerySpec("streaming_t_closeness_customer", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "customer"), dir, "customer")
        .withColumn("bal_band",
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 100000"))
      val counts = graft.metrics.Metrics.tClosenessCounts(stream,
        Seq("c_nationkey", "c_mktsegment"), "bal_band")
      val drained = Streams.runToMemory(counts, "stream_tclose",
        OutputMode.Complete())
      graft.metrics.Metrics.tClosenessFromCounts(drained,
          Seq(150000L, 250000L, 500000L))
        .orderBy(col("t"))
    },
      // t-closeness twin: (class, ordered sensitive) cell state + EMD fold
      tClosenessCustomer.oracleSql),

    // ---- STREAMING WOE/IV panel (bin-count state) ---------------------------
    QuerySpec("streaming_woe_iv_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
        .withColumn("label",
          col("event_type") === "purchase" && col("value") >= 150.0)
        .withColumn("bin",
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)" +
            " div 5000"))
      val counts = graft.metrics.Metrics.woeBinCounts(stream, "label",
        "bin")
      val drained = Streams.runToMemory(counts, "stream_woe",
        OutputMode.Complete())
      graft.metrics.Metrics.woeFromCounts(drained).orderBy(col("bin"))
    },
      // WOE twin: bin-count state + smoothed fold
      woeIvEvents.oracleSql),

    // ---- STREAMING Pearson panel (exact decimal-moment state) ---------------
    QuerySpec("streaming_corr_matrix_lineitem", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "lineitem"), dir, "lineitem")
      val moments = graft.metrics.Metrics.corrMoments(stream, Seq(
        ("qty_price", "l_quantity", "l_extendedprice"),
        ("qty_discount", "l_quantity", "l_discount"),
        ("price_tax", "l_extendedprice", "l_tax"),
        ("discount_tax", "l_discount", "l_tax")))
      val drained = Streams.runToMemory(moments, "stream_corr",
        OutputMode.Complete())
      graft.metrics.Metrics.corrFromMoments(drained).orderBy(col("pair"))
    },
      // Pearson twin: exact decimal-moment state + fold (cast after sums)
      corrMatrixLineitem.oracleSql),

    // ---- format-conformance profile (regex validity panel) -----------------
    // Two real contracts plus one deliberately failing rule so violation
    // accounting is exercised non-zero; anchored portable patterns only.
    QuerySpec("conformance_customer", (s, dir) =>
      graft.metrics.Metrics.conformanceProfile(t(s, dir, "customer"), Seq(
          ("name_format", "c_name", "^Customer#[0-9]+$"),
          ("segment_enum", "c_mktsegment",
            "^(AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY)$"),
          ("name_digits_only", "c_name", "^[0-9]+$")))
        .orderBy(col("rule")),
      // anchored patterns keep rlike/regexp_matches on the shared subset
      """WITH u AS (
        |  SELECT 'name_format' AS rule, c_name IS NULL AS nl,
        |    regexp_matches(CAST(c_name AS VARCHAR),
        |      '^Customer#[0-9]+$') AS ok
        |  FROM customer
        |  UNION ALL
        |  SELECT 'segment_enum', c_mktsegment IS NULL,
        |    regexp_matches(CAST(c_mktsegment AS VARCHAR),
        |      '^(AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY)$')
        |  FROM customer
        |  UNION ALL
        |  SELECT 'name_digits_only', c_name IS NULL,
        |    regexp_matches(CAST(c_name AS VARCHAR), '^[0-9]+$')
        |  FROM customer)
        |SELECT rule, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN nl THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(SUM(CASE WHEN NOT nl AND ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_match,
        |  CAST(COUNT(*) - SUM(CASE WHEN nl THEN 1 ELSE 0 END)
        |    - SUM(CASE WHEN NOT nl AND ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violation,
        |  CASE WHEN COUNT(*) - SUM(CASE WHEN nl THEN 1 ELSE 0 END) > 0
        |    THEN ROUND(CAST(COUNT(*)
        |        - SUM(CASE WHEN nl THEN 1 ELSE 0 END)
        |        - SUM(CASE WHEN NOT nl AND ok THEN 1 ELSE 0 END)
        |        AS DOUBLE)
        |      / CAST(COUNT(*) - SUM(CASE WHEN nl THEN 1 ELSE 0 END)
        |        AS DOUBLE), 6)
        |  END AS violation_rate
        |FROM u GROUP BY rule ORDER BY rule""".stripMargin),

    corrMatrixLineitem,

    woeIvEvents,

    // ---- joinability discovery (which column pairs CAN join) ---------------
    // Value-overlap between orders and customer columns — the FK edge
    // riProfile audits is the one this report discovers.
    QuerySpec("joinability_orders_customer", (s, dir) =>
      graft.metrics.Metrics.joinability(
          t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority"),
          t(s, dir, "customer"),
          Seq("c_custkey", "c_nationkey", "c_mktsegment"))
        .orderBy(col("col_a"), col("col_b")),
      // values compare as strings (cross-type joinability is the point);
      // only pairs with >=1 shared value appear
      """WITH va AS (
        |  SELECT DISTINCT col_a, v FROM (
        |    SELECT 'o_orderkey' AS col_a,
        |      CAST(o_orderkey AS VARCHAR) AS v FROM orders
        |    UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)
        |    FROM orders
        |    UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        |    UNION ALL SELECT 'o_orderpriority', o_orderpriority
        |    FROM orders) u WHERE v IS NOT NULL),
        |vb AS (
        |  SELECT DISTINCT col_b, v FROM (
        |    SELECT 'c_custkey' AS col_b,
        |      CAST(c_custkey AS VARCHAR) AS v FROM customer
        |    UNION ALL SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR)
        |    FROM customer
        |    UNION ALL SELECT 'c_mktsegment', c_mktsegment
        |    FROM customer) u WHERE v IS NOT NULL),
        |na AS (SELECT col_a, CAST(COUNT(*) AS BIGINT) AS n_a
        |  FROM va GROUP BY 1),
        |nb AS (SELECT col_b, CAST(COUNT(*) AS BIGINT) AS n_b
        |  FROM vb GROUP BY 1),
        |j AS (
        |  SELECT col_a, col_b, CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM va JOIN vb USING (v) GROUP BY 1, 2)
        |SELECT col_a, col_b, n_a, n_b, n_common,
        |  ROUND(CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
        |    AS containment_a,
        |  ROUND(CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
        |    AS containment_b,
        |  ROUND(CAST(n_common AS DOUBLE)
        |    / CAST(n_a + n_b - n_common AS DOUBLE), 6) AS jaccard
        |FROM j JOIN na USING (col_a) JOIN nb USING (col_b)
        |ORDER BY col_a, col_b""".stripMargin),

    // ---- referential-integrity profile (the silent-join-loss audit) --------
    // Two real FK edges plus one deliberately broken edge (active-customer
    // subset as parent, every-11th FK nulled) so orphan and null-FK
    // accounting is exercised, not just asserted zero.
    QuerySpec("ri_profile_orders", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nullable = ord.withColumn("ck",
        when(col("o_custkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")))
      graft.metrics.Metrics.riProfile(Seq(
          ("orderkey->orders", li, "l_orderkey", ord, "o_orderkey"),
          ("custkey->customer", ord, "o_custkey", cust, "c_custkey"),
          ("nullable->active_customer", nullable, "ck",
            cust.filter(col("c_custkey") % 7 =!= 0), "c_custkey")))
        .orderBy(col("fk"))
    },
      // orphan = non-null child key missing from the parent key set;
      // NULL FKs legal (excluded from the rate's denominator)
      """WITH e1c AS (
        |  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |e1p AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderkey IS NOT NULL),
        |e2c AS (
        |  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |e2p AS (SELECT DISTINCT c_custkey AS k FROM customer
        |  WHERE c_custkey IS NOT NULL),
        |e3c AS (
        |  SELECT CASE WHEN o_custkey % 11 = 0 THEN NULL
        |    ELSE o_custkey END AS k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |e3p AS (SELECT DISTINCT c_custkey AS k FROM customer
        |  WHERE c_custkey % 7 <> 0 AND c_custkey IS NOT NULL),
        |panel AS (
        |  SELECT 'orderkey->orders' AS fk, ch.k, ch.c,
        |    CASE WHEN p.k IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM e1c ch LEFT JOIN e1p p ON ch.k = p.k
        |  UNION ALL
        |  SELECT 'orderkey->orders', p.k, NULL, 1
        |  FROM e1p p WHERE p.k NOT IN (SELECT k FROM e1c WHERE k IS NOT NULL)
        |  UNION ALL
        |  SELECT 'custkey->customer', ch.k, ch.c,
        |    CASE WHEN p.k IS NULL THEN 0 ELSE 1 END
        |  FROM e2c ch LEFT JOIN e2p p ON ch.k = p.k
        |  UNION ALL
        |  SELECT 'custkey->customer', p.k, NULL, 1
        |  FROM e2p p WHERE p.k NOT IN (SELECT k FROM e2c WHERE k IS NOT NULL)
        |  UNION ALL
        |  SELECT 'nullable->active_customer', ch.k, ch.c,
        |    CASE WHEN p.k IS NULL THEN 0 ELSE 1 END
        |  FROM e3c ch LEFT JOIN e3p p ON ch.k = p.k
        |  UNION ALL
        |  SELECT 'nullable->active_customer', p.k, NULL, 1
        |  FROM e3p p WHERE p.k NOT IN (SELECT k FROM e3c WHERE k IS NOT NULL))
        |SELECT fk,
        |  CAST(SUM(COALESCE(c, 0)) AS BIGINT) AS n_child,
        |  CAST(SUM(CASE WHEN k IS NULL THEN c ELSE 0 END) AS BIGINT)
        |    AS null_fk_rows,
        |  CAST(SUM(CASE WHEN k IS NOT NULL AND hit = 0 THEN c ELSE 0 END)
        |    AS BIGINT) AS orphan_rows,
        |  CAST(SUM(CASE WHEN k IS NOT NULL AND hit = 0 AND c IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS orphan_keys,
        |  CASE WHEN SUM(COALESCE(c, 0))
        |      - SUM(CASE WHEN k IS NULL THEN c ELSE 0 END) > 0 THEN
        |    ROUND(CAST(SUM(CASE WHEN k IS NOT NULL AND hit = 0 THEN c
        |        ELSE 0 END) AS DOUBLE)
        |      / CAST(SUM(COALESCE(c, 0))
        |        - SUM(CASE WHEN k IS NULL THEN c ELSE 0 END) AS DOUBLE), 6)
        |  END AS orphan_rate,
        |  CAST(SUM(hit) AS BIGINT) AS parent_keys,
        |  CAST(SUM(CASE WHEN hit = 1 AND c IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS unreferenced_parent_keys
        |FROM panel GROUP BY fk ORDER BY fk""".stripMargin),

    // ---- candidate-key discovery (uniqueness profiling) --------------------
    // Which combos can key a join/partition/dedup: one scan for all four
    // declared candidates (the fd explode shape), exact duplicate masses.
    QuerySpec("key_candidates_orders", (s, dir) =>
      graft.metrics.Metrics.keyCandidates(t(s, dir, "orders"), Seq(
          ("orderkey", Seq("o_orderkey")),
          ("custkey", Seq("o_custkey")),
          ("cust_date", Seq("o_custkey", "o_orderdate")),
          ("status_priority", Seq("o_orderstatus", "o_orderpriority"))))
        .orderBy(col("combo")),
      // one scan for all combos; GROUP BY is null-safe in both engines, so
      // the SQL groups raw tuples while Spark groups the injective encoding
      """WITH u AS (
        |  SELECT 'orderkey' AS combo, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY o_orderkey
        |  UNION ALL
        |  SELECT 'custkey', CAST(COUNT(*) AS BIGINT)
        |  FROM orders GROUP BY o_custkey
        |  UNION ALL
        |  SELECT 'cust_date', CAST(COUNT(*) AS BIGINT)
        |  FROM orders GROUP BY o_custkey, o_orderdate
        |  UNION ALL
        |  SELECT 'status_priority', CAST(COUNT(*) AS BIGINT)
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |SELECT combo, CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(c - 1) AS BIGINT) AS duplicates,
        |  CAST(MAX(c) AS BIGINT) AS max_group,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
        |    AS uniqueness,
        |  MAX(c) = 1 AS is_key
        |FROM u GROUP BY combo ORDER BY combo""".stripMargin),

    // ---- exact-sums Pearson correlation per group (order-free decimals) ----
    QuerySpec("corr_lineitem", (s, dir) =>
      Metrics.exactCorrelation(
          t(s, dir, "lineitem"), "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy(col("l_returnflag")),
      """WITH s AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
        |      AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
        |      AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
        |      AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    (SQRT(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |     SQRT(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr_xy
        |FROM s ORDER BY l_returnflag""".stripMargin),

    // ---- robust stats: median + median-absolute-deviation per group --------
    QuerySpec("mad_orders", (s, dir) =>
      Metrics.medianAbsoluteDeviation(
          t(s, dir, "orders"), "o_orderstatus", "o_totalprice")
        .orderBy(col("o_orderstatus")),
      """WITH m AS (
        |  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o.o_orderstatus, COUNT(*) AS n,
        |  ROUND(MIN(m.med), 6) AS median,
        |  ROUND(quantile_cont(abs(o.o_totalprice - m.med), 0.5), 6) AS mad
        |FROM orders o JOIN m ON o.o_orderstatus = m.o_orderstatus
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin),

    // ---- scale-path quantile binning (broadcast boundaries, no per-group
    // global sort — the 100 TB alternative to the ntile query) ---------------
    QuerySpec("quantile_bin_orders", (s, dir) =>
      Metrics.quantileBin(t(s, dir, "orders"), "o_orderpriority", "o_totalprice")
        .groupBy(col("o_orderpriority"), col("bin"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"), col("bin")),
      """WITH q AS (
        |  SELECT o_orderpriority,
        |    quantile_cont(o_totalprice, 0.25) AS q1,
        |    quantile_cont(o_totalprice, 0.5) AS q2,
        |    quantile_cont(o_totalprice, 0.75) AS q3
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o.o_orderpriority,
        |  1 + CAST(o.o_totalprice > q.q1 AS INT)
        |    + CAST(o.o_totalprice > q.q2 AS INT)
        |    + CAST(o.o_totalprice > q.q3 AS INT) AS bin,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders o JOIN q ON o.o_orderpriority = q.o_orderpriority
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- data-validation column profile (one pass + stack unpivot) ---------
    QuerySpec("profile_customer", (s, dir) =>
      Metrics.profileColumns(t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
        .orderBy(col("column_name")),
      """SELECT * FROM (
        |  SELECT 'c_custkey' AS column_name,
        |    CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    COUNT(DISTINCT c_custkey) AS n_distinct,
        |    CAST(MIN(c_custkey) AS VARCHAR) AS min_val,
        |    CAST(MAX(c_custkey) AS VARCHAR) AS max_val
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_name',
        |    CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT c_name), MIN(c_name), MAX(c_name)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey',
        |    CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT c_nationkey),
        |    CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_mktsegment',
        |    CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT c_mktsegment), MIN(c_mktsegment), MAX(c_mktsegment)
        |  FROM customer)
        |ORDER BY column_name""".stripMargin),

    // ---- data-quality expectations: one-pass rule violation counts ---------
    QuerySpec("constraints_orders", (s, dir) => {
      val orders = t(s, dir, "orders")
      val rowRules = Metrics.constraintViolations(orders, Seq(
        "nonpositive_price" -> (col("o_totalprice") <= 0.0),
        "null_custkey" -> col("o_custkey").isNull,
        "unknown_priority" -> !col("o_orderpriority").isin(
          "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        "null_orderdate" -> col("o_orderdate").isNull))
      rowRules
        .unionByName(
          Metrics.uniquenessViolations(orders, "o_orderkey", "dup_orderkey"))
        .orderBy(col("rule"))
    },
      """SELECT * FROM (
        |  SELECT 'dup_orderkey' AS rule,
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations FROM orders
        |  UNION ALL SELECT 'nonpositive_price',
        |    CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL SELECT 'null_custkey',
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL SELECT 'unknown_priority',
        |    CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH',
        |      '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW') THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM orders
        |  UNION ALL SELECT 'null_orderdate',
        |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders)
        |ORDER BY rule""".stripMargin),

    fdViolationsOrders,

    benfordOrders,

    // ---- STREAMING g3 FD drift -------------------------------------------
    // fd_violations' streaming twin (the welch/proportion/drift
    // convention): the per-(fd, lhs, rhs) count table — the ONLY
    // corpus-mass state — runs as one Complete-mode aggregation over the
    // union of key-serialized projections; the per-lhs fold runs over
    // the drained state. Oracle = the batch fd_violations SQL verbatim.
    QuerySpec("streaming_fd_violations_orders", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "orders"), dir, "orders")
      val counts = graft.metrics.Metrics.fdCounts(stream, Seq(
        ("custkey->priority", Seq("o_custkey"), "o_orderpriority"),
        ("orderdate->status", Seq("o_orderdate"), "o_orderstatus"),
        ("priority->status", Seq("o_orderpriority"), "o_orderstatus")))
      val drained = Streams.runToMemory(counts, "stream_fd",
        OutputMode.Complete())
      graft.metrics.Metrics.fdFromCounts(drained).orderBy(col("fd"))
    },
      // the g3 fold over the drained count state = the batch fdViolations
      // algebra (spec-pinned composition) — same SQL
      fdViolationsOrders.oracleSql),

    // ---- STREAMING Benford first-digit forensics ---------------------------
    // benford_orders' streaming twin (the fd/welch/proportion
    // convention): the per-(column, first-digit) counts — the ONLY
    // corpus-mass state, associative — run as one Complete-mode
    // aggregation; the panel fold (totals, digit scaffold, chi-square)
    // runs over the drained state. Oracle = the batch SQL verbatim.
    QuerySpec("streaming_benford_orders", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "orders"), dir, "orders")
        .select(col("o_custkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("price_cents"))
      val counts = graft.metrics.Metrics.benfordCounts(stream,
        Seq("o_custkey", "price_cents"))
      val drained = Streams.runToMemory(counts, "stream_benford",
        OutputMode.Complete())
      graft.metrics.Metrics.benfordFromCounts(drained)
        .orderBy(col("column"), col("digit"))
    },
      // the Benford fold over the drained digit-count state = the batch
      // panel algebra (spec-pinned composition) — same SQL
      benfordOrders.oracleSql),

    madOutliersEvents,

    // ---- STREAMING robust median/MAD outlier panel --------------------------
    // per-(group, value) counts as Complete-mode state (the exact-
    // percentile twin's state shape); median, MAD, and the Hampel flags
    // replay on the drained value dictionary — exact, shares the batch
    // oracle verbatim. NULLs are filtered BEFORE the state agg (the batch
    // operator's non-null contract).
    QuerySpec("streaming_mad_outliers_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
        .withColumn("cents",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .filter(col("cents").isNotNull)
      val counts = graft.metrics.Metrics.valueCounts(stream, "cents",
        Seq("event_type"))
      val drained = Streams.runToMemory(counts, "stream_mad",
        OutputMode.Complete())
      graft.metrics.Metrics.madFromCounts(drained, Seq("event_type"), 3)
        .orderBy(col("event_type"))
    },
      // MAD twin: value-dictionary state + median/MAD rank-pick fold ≡
      // the batch panel (madFromCounts ∘ valueCounts spec-pinned)
      madOutliersEvents.oracleSql),

    // ---- BOUNDED-state streaming MAD (five bounded passes) -----------------
    // Closes the value-dictionary precondition class entirely: median and
    // MAD each run the two-pass bucket narrowing (bucket-histogram state,
    // then a stream-static narrowed pass), and the flag pass holds one
    // counter row per group — five bounded-state streaming queries where
    // the single-pass twin holds the whole value dictionary. Exact: every
    // piece's composition with the batch selection is spec-pinned.
    QuerySpec("streaming_mad_bounded_events", (s, dir) => {
      import graft.metrics.Metrics
      val batch = t(s, dir, "events")
      def stream = Streams.corpusStream(batch, dir, "events")
        .withColumn("cents",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .filter(col("cents").isNotNull)
      val g = Seq("event_type")
      def drain(df: DataFrame, p: String) =
        Streams.runToMemory(df, p, OutputMode.Complete())
      // median: bucket-histogram state + narrowed value-count state
      val hist1 = drain(Metrics.bucketCounts(stream, "cents", g, 12), "smb1")
      val t1 = Metrics.percentileTargets(hist1, Seq(500000L), g)
        .localCheckpoint(true)
      val n1 = stream.withColumn("__b", shiftright(col("cents"), 12))
        .join(broadcast(t1.select(col("event_type"), col("__b")).distinct()),
          Seq("event_type", "__b"))
      val med = Metrics.percentilesFromNarrowedCounts(
          drain(Metrics.valueCounts(n1, "cents", g), "smb2"), t1, g, 12)
        .select(col("event_type"), col("value").as("__med"))
        .localCheckpoint(true)
      // MAD: the same two bounded passes over |x − median|
      def devStream = stream.join(broadcast(med), g)
        .withColumn("__adv", abs(col("cents") - col("__med")))
      val hist2 = drain(Metrics.bucketCounts(devStream, "__adv", g, 12),
        "smb3")
      val t2 = Metrics.percentileTargets(hist2, Seq(500000L), g)
        .localCheckpoint(true)
      val n2 = devStream.withColumn("__b", shiftright(col("__adv"), 12))
        .join(broadcast(t2.select(col("event_type"), col("__b")).distinct()),
          Seq("event_type", "__b"))
      val mad = Metrics.percentilesFromNarrowedCounts(
          drain(Metrics.valueCounts(n2, "__adv", g), "smb4"), t2, g, 12)
        .select(col("event_type"), col("value").as("__mad"))
        .localCheckpoint(true)
      // flags: ONE counter row per group as state
      val mm = med.join(mad, g).localCheckpoint(true)
      val flags = stream.join(broadcast(mm), g)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("__med")).as("median"), max(col("__mad")).as("mad"),
          sum(when(abs(col("cents") - col("__med")) > col("__mad") * 3, 1L)
            .otherwise(0L)).as("n_outliers"))
      drain(flags, "smb5")
        .withColumn("outlier_frac",
          round(col("n_outliers").cast("double") / col("n"), 6))
        .orderBy(col("event_type"))
    },
      // BOUNDED MAD twin: five bounded-state passes ≡ the same batch panel
      madOutliersEvents.oracleSql),

    assocPanelOrders,

    // ---- STREAMING association panel (cell-count state, panel fold) --------
    QuerySpec("streaming_assoc_orders", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "orders"), dir, "orders")
        .withColumn("mon", month(col("o_orderdate")))
        .withColumn("band",
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)" +
            " div 5000000"))
      val counts = graft.metrics.Metrics.assocCounts(stream,
        Seq(("priority_month", "o_orderpriority", "mon"),
          ("status_band", "o_orderstatus", "band"),
          ("status_priority", "o_orderstatus", "o_orderpriority")))
      val drained = Streams.runToMemory(counts, "stream_assoc",
        OutputMode.Complete())
      graft.metrics.Metrics.assocFromCounts(drained).orderBy(col("pair"))
    },
      // association twin: cell-count state + panel fold ≡ the batch panel
      assocPanelOrders.oracleSql),

    skewProfileEvents,

    percentilesLineitem,

    // ---- STREAMING exact percentiles, BOUNDED state (two-pass) -------------
    // exactPercentiles' two-pass selection with each pass's aggregation as
    // Complete-mode streaming state: pass 1 accumulates the high-bit
    // BUCKET histogram (O(range/2^12) state per group — no value
    // dictionary), its drained fold names each quantile's target (bucket,
    // offset); pass 2 re-streams the source narrowed to target buckets
    // (a stream-static broadcast join; ≈ n/2^12 of the mass, the same
    // fraction the batch second pass re-reads) and accumulates value
    // counts only there. Exact, unbounded-domain safe — the state bound
    // is the batch operator's own, not a domain precondition.
    QuerySpec("streaming_percentiles_bounded_lineitem", (s, dir) => {
      val batch = t(s, dir, "lineitem")
      def stream = Streams.corpusStream(batch, dir, "lineitem")
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      val qs = Seq(500000L, 900000L, 990000L)
      val b1 = Metrics.bucketCounts(stream, "cents", Seq("l_returnflag"), 12)
      val hist = Streams.runToMemory(b1, "stream_pctb1", OutputMode.Complete())
      // |groups|·|quantiles| rows; referenced twice (bucket filter + pick)
      val targets = Metrics.percentileTargets(hist, qs, Seq("l_returnflag"))
        .localCheckpoint(true)
      val tb = targets.select(col("l_returnflag"), col("__b")).distinct()
      val narrowed = stream
        .withColumn("__b", shiftright(col("cents"), 12))
        .join(broadcast(tb), Seq("l_returnflag", "__b"))
      val v2 = Metrics.valueCounts(narrowed, "cents", Seq("l_returnflag"))
      val picks = Streams.runToMemory(v2, "stream_pctb2", OutputMode.Complete())
      Metrics.percentilesFromNarrowedCounts(picks, targets,
          Seq("l_returnflag"), 12)
        .orderBy(col("l_returnflag"), col("q"))
    },
      // bounded-state twin: bucket-histogram state + narrowed second pass
      // ≡ the batch two-pass selection (composition spec-pinned) — same SQL
      percentilesLineitem.oracleSql),

    // ---- STREAMING exact percentiles (value-dictionary state) --------------
    // per-(group, value) counts as Complete-mode state; the type-1 rank
    // pick replays on the drained dictionary — exact and single-pass, for
    // bounded-domain metrics (cents, counts, durations) where the value
    // dictionary is itself dictionary-scale; the two-pass BOUNDED twin
    // above is the unbounded-domain deployment
    QuerySpec("streaming_percentiles_lineitem", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "lineitem"), dir, "lineitem")
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      val counts = Metrics.valueCounts(stream, "cents", Seq("l_returnflag"))
      val drained = Streams.runToMemory(counts, "stream_pct",
        OutputMode.Complete())
      Metrics.percentilesFromCounts(drained,
          Seq(500000L, 900000L, 990000L), Seq("l_returnflag"))
        .orderBy(col("l_returnflag"), col("q"))
    },
      // exact-percentile twin: value-dictionary state + rank-pick fold —
      // same generated SQL as percentiles_lineitem
      percentilesLineitem.oracleSql),

    // ---- Spearman rank correlation (monotone association) ------------------
    QuerySpec("spearman_lineitem", (s, dir) =>
      Metrics.spearmanCorr(t(s, dir, "lineitem")
          .withColumn("cents",
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long"))
          .withColumn("qty", col("l_quantity").cast("long")),
        "cents", "qty"),
      // doubled average ranks (2·cum_before + cnt + 1) keep fractional tie
      // ranks integral; moment expression mirrors spearmanCorr verbatim
      """WITH b AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS a,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        |ca AS (SELECT a AS v, COUNT(*) AS c FROM b GROUP BY 1),
        |ra AS (
        |  SELECT v, 2 * (SUM(c) OVER (ORDER BY v)) - c + 1 AS r FROM ca),
        |cb AS (SELECT q AS v, COUNT(*) AS c FROM b GROUP BY 1),
        |rb AS (
        |  SELECT v, 2 * (SUM(c) OVER (ORDER BY v)) - c + 1 AS r FROM cb),
        |j AS (
        |  SELECT CAST(ra.r AS DECIMAL(38,0)) AS x,
        |    CAST(rb.r AS DECIMAL(38,0)) AS y
        |  FROM b JOIN ra ON b.a = ra.v JOIN rb ON b.q = rb.v),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
        |    SUM(y * y) AS syy, SUM(x * y) AS sxy
        |  FROM j)
        |SELECT n,
        |  CASE WHEN sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) > 0.0
        |  THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS rho
        |FROM s""".stripMargin),

    // ---- Kendall tau-b concordance between two banded metrics --------------
    // Price band (cents div 1e6) vs quantity per return flag: exact C/D
    // pair masses over the contingency dictionary self-join, marginal tie
    // correction, the mirrored tau the only float.
    QuerySpec("kendall_tau_lineitem", (s, dir) =>
      Metrics.kendallTauB(t(s, dir, "lineitem")
          .withColumn("price_band",
            expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 " +
              "AS BIGINT) div 1000000"))
          .withColumn("qty", col("l_quantity").cast("long")),
        "price_band", "qty", Seq("l_returnflag"))
        .orderBy(col("l_returnflag")),
      // Kendall tau-b: contingency-dictionary self-join + tie margins
      kendallTauOracle),

    // ---- STREAMING Kendall tau-b (contingency cells as Complete state) ----
    QuerySpec("streaming_kendall_tau_lineitem", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "lineitem"), dir, "lineitem")
        .withColumn("x", expr(
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 1000000"))
        .withColumn("y", col("l_quantity").cast("long"))
      val counts = stream.groupBy(col("l_returnflag"), col("x"), col("y"))
        .agg(count(lit(1)).as("n"))
      val drained = Streams.runToMemory(counts, "stream_tau",
        OutputMode.Complete())
      Metrics.kendallTauFromCounts(drained, "x", "y", "n",
          Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    },
      // tau-b twin: contingency cells as Complete-mode state, fold on
      // drain (FromCounts ∘ cell-counts spec-pinned) — batch SQL verbatim
      kendallTauOracle),

    // ---- exact two-sample KS drift (distributed prefix sum, no sort) ------
    // Did the price distribution move between the even- and odd-key halves?
    // The supremum is exact (cross-multiplied integer form); prefix sums
    // run bucket-local with window-free base offsets from the bucket table.
    QuerySpec("ks_drift_orders", (s, dir) =>
      Metrics.ksDrift(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", col("o_orderkey") % 2 === 0),
        "cents", "side"),
      // single-node replay of the exact KS supremum: one plain window prefix
      // sum (the bucketed two-pass structure is a distribution detail — the
      // statistic is bucket-independent)
      """WITH v AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS v, (o_orderkey % 2 = 0) AS s
        |  FROM orders),
        |tot AS (
        |  SELECT COUNT(*) FILTER (NOT s) AS n_a,
        |    COUNT(*) FILTER (s) AS n_b FROM v),
        |g AS (
        |  SELECT v, COUNT(*) FILTER (NOT s) AS ca,
        |    COUNT(*) FILTER (s) AS cb
        |  FROM v GROUP BY v),
        |c AS (
        |  SELECT v, SUM(ca) OVER (ORDER BY v) AS cuma,
        |    SUM(cb) OVER (ORDER BY v) AS cumb FROM g),
        |d AS (
        |  SELECT v, abs(cuma * n_b - cumb * n_a) AS diff FROM c, tot),
        |m AS (SELECT MAX(diff) AS ks_num FROM d)
        |SELECT t.n_a, t.n_b, CAST(m.ks_num AS VARCHAR) AS ks_num,
        |  MIN(d.v) AS at_value,
        |  ROUND(CAST(m.ks_num AS DOUBLE) /
        |    (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE)), 6) AS ks
        |FROM d, m, tot t WHERE d.diff = m.ks_num
        |GROUP BY t.n_a, t.n_b, m.ks_num""".stripMargin),

    // ---- QQ drift table: exact quantile pairs across the two halves -------
    // The incident-doc view of the drift triad (KS locates the sup, PSI
    // bins the mass, QQ shows the levels). Type-1 selection per side.
    QuerySpec("qq_drift_orders", (s, dir) =>
      Metrics.qqDrift(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", col("o_orderkey") % 2 === 0),
        "cents", "side",
        Seq(100000L, 250000L, 500000L, 750000L, 900000L, 990000L))
        .orderBy(col("q")),
      // per-side type-1 rank picks with the exactPercentiles rank rule
      """WITH v AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS v, (o_orderkey % 2 = 0) AS s
        |  FROM orders),
        |n AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |q AS (SELECT UNNEST([100000, 250000, 500000, 750000, 900000,
        |  990000]) AS qm),
        |r AS (SELECT n.s, q.qm,
        |  (n.n * q.qm + 999999) // 1000000 AS rk FROM n, q),
        |w AS (SELECT s, v,
        |  ROW_NUMBER() OVER (PARTITION BY s ORDER BY v) AS rn FROM v),
        |sel AS (
        |  SELECT r.s, r.qm, MIN(w.v) AS value
        |  FROM r JOIN w ON w.s = r.s AND w.rn = r.rk
        |  GROUP BY 1, 2)
        |SELECT ROUND(CAST(a.qm AS DOUBLE) / 1e6, 6) AS q,
        |  a.value AS value_a, b.value AS value_b,
        |  b.value - a.value AS diff
        |FROM (SELECT * FROM sel WHERE NOT s) a
        |JOIN (SELECT * FROM sel WHERE s) b USING (qm)
        |ORDER BY q""".stripMargin),

    kAnonymityCustomer,

    // ---- STREAMING k-anonymity (re-identification risk of the accumulated
    // stream; class-size state, Complete mode, panel fold on drain) ----------
    QuerySpec("streaming_k_anonymity_customer", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "customer"), dir, "customer")
        .withColumn("bal_band",
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 100000"))
      val counts = Metrics.kAnonymityCounts(stream,
        Seq("c_nationkey", "c_mktsegment", "bal_band"))
      val drained = Streams.runToMemory(counts, "stream_kanon",
        OutputMode.Complete())
      Metrics.kAnonymityFromCounts(drained, Seq(2, 5, 10))
        .orderBy(col("k"))
    },
      // k-anonymity twin: class-count state + drained fold ≡ the batch
      // panel, so the oracle is the batch SQL verbatim
      kAnonymityCustomer.oracleSql),

    // ---- STREAMING PSI drift (frozen reference edges, live binning) --------
    // the production monitoring shape: reference decile edges are pinned
    // from the blessed snapshot (a bins-1-long bounded collect — control
    // plane), the stream bins both sides as Complete-mode state, the panel
    // folds on drain; ≡ the batch panel, oracle shared verbatim
    QuerySpec("streaming_psi_drift_orders", (s, dir) => {
      val orders = t(s, dir, "orders")
      val batch = orders
        .withColumn("cents",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .withColumn("side", col("o_orderkey") % 2 === 0)
      val edges = Metrics.exactPercentiles(
          batch.filter(!col("side")).select(col("cents"))
            .filter(col("cents").isNotNull),
          "cents", (1 until 10).map(i => i * 100000L))
        .orderBy(col("q")).select(col("value"))
        .collect().map(_.getLong(0)).toSeq
      val stream = Streams.corpusStream(orders, dir, "orders")
        .withColumn("cents",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .withColumn("side", col("o_orderkey") % 2 === 0)
      val counts = Metrics.psiBinCounts(stream, "cents", "side", edges)
      val drained = Streams.runToMemory(counts, "stream_psi",
        OutputMode.Complete())
      Metrics.psiFromCounts(drained, 10).orderBy(col("bin"))
    },
      // PSI twin: frozen-edge bin counts + drained fold ≡ the batch panel
      psiDriftOrders.oracleSql),

    psiDriftOrders
  )
}
