package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.metrics.Metrics
import graft.sample.Samplers
import graft.streaming.Streams

import Shared._

/** Online-experiment queries: A/B and sequential tests, power and MDE, SRM
  * guard, FDR control, delta-method ratios, bootstrap intervals and
  * post-stratification.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object ExperimentQueries {

  /** DCT-pHash oracle: replays [[graft.scale.Multimodal.dctPhash]] over
    * the stub-decoded grid entirely in SQL — the grid is four chained
    * VARCHAR md5s (hex-pair bytes), the DCT multiplies the IDENTICAL
    * quantized cosine table (interpolated from the Scala constant, so the
    * two engines cannot drift), the 60 AC coefficients threshold at their
    * lower median (list_sort[30] = 30th smallest), and the banding /
    * hamming verify matches the Spark plan bit for bit. All arithmetic is
    * exact integers: pixel ≤ 255, table entry ≤ 1024, coefficient ≤
    * 1.7e10 — nothing approaches BIGINT range.
    */
  /** Mechanically generated Poisson-bootstrap replay: per replicate b,
    * the weight CASE ladder over the SAME [[graft.sample.Samplers
    * .PoissonCdf]] literals (interpolated as decimal text), the 2B sums
    * in one materialized aggregate, replicates unrolled by UNION ALL in
    * replicate order so the double folds accumulate in the same order
    * the engine's explode emits.
    */
  private def bootstrapOracleSql(reps: Int): String =
    bootstrapOracleSqlFor(reps, "orders", "o_orderkey",
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
      "CAST(1 AS BIGINT)", "mean")

  private def bootstrapRatioOracleSql(reps: Int): String =
    bootstrapOracleSqlFor(reps, "events", "event_id",
      "CASE WHEN event_type = 'purchase' THEN " +
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END",
      "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)", "ratio")

  /** The bootstrap replay, parameterized over table / id / numerator /
    * denominator expressions (the mean form is den = 1): same integer
    * CDF ladder, same window arithmetic, replicates unrolled by UNION
    * ALL against the one materialized aggregate.
    */
  private def bootstrapOracleSqlFor(reps: Int, table: String,
      idExpr: String, numExpr: String, denExpr: String,
      label: String): String = {
    val cdf = graft.sample.Samplers.PoissonCdf16
    def w(b: Int): String = {
      val u = s"((CAST(('0x' || substring(md5(CAST(id AS VARCHAR)" +
        s" || ':c${b / 3}'), 1, 15)) AS BIGINT) >> ${(b % 3) * 16})" +
        " & 65535)"
      cdf.zipWithIndex.foldRight("8") { case ((t, k), acc) =>
        s"CASE WHEN $u < $t THEN $k ELSE $acc END"
      }
    }
    val sums = (0 until reps).map { b =>
      s"SUM(CAST(xn AS HUGEINT) * ${w(b)}) AS wn$b, " +
        s"SUM(CAST(xd AS HUGEINT) * ${w(b)}) AS wd$b"
    }.mkString(",\n    ")
    val union = (0 until reps).map { b =>
      s"SELECT n, sn, sd, wn$b AS wn, wd$b AS wd FROM a"
    }.mkString("\n  UNION ALL ")
    s"""WITH v AS (
       |  SELECT $idExpr AS id, $numExpr AS xn, $denExpr AS xd
       |  FROM $table
       |  WHERE $numExpr IS NOT NULL AND $denExpr IS NOT NULL),
       |a AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(xn AS HUGEINT)) AS sn, SUM(CAST(xd AS HUGEINT)) AS sd,
       |    $sums
       |  FROM v),
       |r AS (
       |  $union),
       |m AS (
       |  SELECT n, sn, sd, CAST(wn AS DOUBLE) / CAST(wd AS DOUBLE) AS m,
       |    CAST(ROUND(CAST(wn AS DOUBLE) / CAST(wd AS DOUBLE) * 1e6)
       |      AS HUGEINT) AS q
       |  FROM r WHERE wd > 0)
       |SELECT n,
       |  ROUND(CAST(sn AS DOUBLE) / CAST(sd AS DOUBLE), 6) AS $label,
       |  CAST(COUNT(*) AS BIGINT) AS reps,
       |  ROUND(sqrt(CAST(CAST(COUNT(*) AS HUGEINT) * SUM(q * q)
       |    - SUM(q) * SUM(q) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) - 1.0)))
       |    / 1e6, 6) AS boot_se,
       |  ROUND(MIN(m), 6) AS ci_lo, ROUND(MAX(m), 6) AS ci_hi
       |FROM m GROUP BY n, sn, sd""".stripMargin
  }

  /** pass@k replay — shared by the batch query and the streaming
    * twin (the drained per-task counts ARE the batch dictionary).
    */
  /** Delta-method ratio-metric replay: six exact decimal moment sums
    * per side (the welch-moments casting discipline), then the
    * Var(R) = (s²x − 2R·sxy + R²·s²y)/(n·ȳ²) algebra in the identical
    * operation order, NULL-gated on side mass / ΣY = 0 / non-positive
    * variance, decisions on rounded doubles.
    */
  private def ratioDeltaOracleSql: String =
    """WITH u AS (
      |  SELECT user_id % 3 AS arm, (user_id % 2 = 0) AS side,
      |    CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
      |      AS DECIMAL(18,2)) AS x,
      |    CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
      |      AS DECIMAL(18,2)) AS y
      |  FROM events),
      |g AS (
      |  SELECT arm,
      |    CAST(COUNT(*) FILTER (NOT side) AS BIGINT) AS n_a,
      |    CAST(COUNT(*) FILTER (side) AS BIGINT) AS n_b,
      |    CAST(SUM(x) FILTER (NOT side) AS DOUBLE) AS sxa,
      |    CAST(SUM(x) FILTER (side) AS DOUBLE) AS sxb,
      |    CAST(SUM(y) FILTER (NOT side) AS DOUBLE) AS sya,
      |    CAST(SUM(y) FILTER (side) AS DOUBLE) AS syb,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) FILTER (NOT side)
      |      AS DOUBLE) AS qxa,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) FILTER (side)
      |      AS DOUBLE) AS qxb,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) FILTER (NOT side)
      |      AS DOUBLE) AS qya,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) FILTER (side)
      |      AS DOUBLE) AS qyb,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) FILTER (NOT side)
      |      AS DOUBLE) AS pxa,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) FILTER (side)
      |      AS DOUBLE) AS pxb
      |  FROM u GROUP BY arm),
      |a AS (
      |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
      |    sxa / sya AS ra, sxb / syb AS rb
      |  FROM g),
      |v AS (
      |  SELECT *,
      |    ((qxa - sxa * sxa / na) / (na - 1.0)
      |      - 2.0 * ra * ((pxa - sxa * sya / na) / (na - 1.0))
      |      + ra * ra * ((qya - sya * sya / na) / (na - 1.0)))
      |      / (na * (sya / na) * (sya / na)) AS va,
      |    ((qxb - sxb * sxb / nb) / (nb - 1.0)
      |      - 2.0 * rb * ((pxb - sxb * syb / nb) / (nb - 1.0))
      |      + rb * rb * ((qyb - syb * syb / nb) / (nb - 1.0)))
      |      / (nb * (syb / nb) * (syb / nb)) AS vb
      |  FROM a),
      |z AS (
      |  SELECT *, (n_a >= 2 AND n_b >= 2 AND sya <> 0.0 AND syb <> 0.0
      |    AND va + vb > 0.0) AS ok
      |  FROM v)
      |SELECT arm, n_a, n_b,
      |  CASE WHEN sya <> 0.0 THEN ROUND(ra, 6) END AS r_a,
      |  CASE WHEN syb <> 0.0 THEN ROUND(rb, 6) END AS r_b,
      |  CASE WHEN sya <> 0.0 AND syb <> 0.0 THEN ROUND(ra - rb, 6) END
      |    AS delta,
      |  CASE WHEN ok THEN ROUND(sqrt(va + vb), 6) END AS se_delta,
      |  CASE WHEN ok THEN ROUND((ra - rb) / sqrt(va + vb), 6) END AS z
      |FROM z ORDER BY arm""".stripMargin

  /** Quantile-treatment-effect replay: the (b − 1)-indexed Poisson
    * ladder (b = 0 is the unweighted point replicate) reweights the
    * per-(type, side, rep) value dictionaries; type-1 quantile = the
    * dictionary row covering rank ceil(p·n) (pure integer target), then
    * the same pivot/delta/micro-quantized-panel algebra as the Spark
    * side, gates on n_a/n_b >= 2.
    */
  private def quantileEffectOracleSql(reps: Int): String = {
    val cdf = graft.sample.Samplers.PoissonCdf16
    val w = {
      val u = "((CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)" +
        " || ':c' || CAST((b - 1) // 3 AS VARCHAR)), 1, 15)) AS BIGINT)" +
        " >> CAST(((b - 1) % 3) * 16 AS INT)) & 65535)"
      cdf.zipWithIndex.foldRight("8") { case ((t, k), acc) =>
        s"CASE WHEN $u < $t THEN $k ELSE $acc END"
      }
    }
    s"""WITH u AS (
       |  SELECT event_type, (user_id % 2 = 0) AS side, value AS v,
       |    event_id
       |  FROM events WHERE value IS NOT NULL),
       |wts AS (
       |  SELECT event_type, side, v, CAST(b - 1 AS INT) AS rep,
       |    CASE WHEN b = 0 THEN 1 ELSE $w END AS w
       |  FROM u, UNNEST(range(0, ${reps + 1})) AS t(b)),
       |vc AS MATERIALIZED (
       |  SELECT event_type, side, rep, v, CAST(SUM(w) AS BIGINT) AS c
       |  FROM wts WHERE w > 0 GROUP BY 1, 2, 3, 4),
       |cum AS (
       |  SELECT *,
       |    CAST(SUM(c) OVER (PARTITION BY event_type, side, rep
       |      ORDER BY v) AS BIGINT) AS cum,
       |    CAST(SUM(c) OVER (PARTITION BY event_type, side, rep)
       |      AS BIGINT) AS n
       |  FROM vc),
       |qs AS (SELECT * FROM (VALUES (1, 2), (9, 10)) AS q(num, den)),
       |pick AS (
       |  SELECT event_type, num, den, side, rep, v AS qv, n
       |  FROM cum, qs
       |  WHERE cum - c < (num * n + den - 1) // den
       |    AND cum >= (num * n + den - 1) // den),
       |pt AS (
       |  SELECT event_type, num, den,
       |    MAX(CASE WHEN NOT side THEN n END) AS n_a,
       |    MAX(CASE WHEN side THEN n END) AS n_b,
       |    MAX(CASE WHEN NOT side THEN qv END) AS q_a,
       |    MAX(CASE WHEN side THEN qv END) AS q_b
       |  FROM pick WHERE rep = -1 GROUP BY 1, 2, 3),
       |pr AS (
       |  SELECT event_type, num, den, rep,
       |    MAX(CASE WHEN NOT side THEN qv END) AS qa,
       |    MAX(CASE WHEN side THEN qv END) AS qb
       |  FROM pick WHERE rep >= 0 GROUP BY 1, 2, 3, 4),
       |rd AS (
       |  SELECT event_type, num, den, d,
       |    CAST(ROUND(d * 1e6) AS HUGEINT) AS q
       |  FROM (SELECT event_type, num, den, ROUND(qb - qa, 6) AS d
       |        FROM pr WHERE qa IS NOT NULL AND qb IS NOT NULL)),
       |panel AS (
       |  SELECT event_type, num, den,
       |    CAST(COUNT(*) AS BIGINT) AS n_reps,
       |    CASE WHEN COUNT(*) > 1 THEN
       |      ROUND(sqrt(CAST(CAST(COUNT(*) AS HUGEINT) * SUM(q * q)
       |        - SUM(q) * SUM(q) AS DOUBLE)
       |        / (CAST(COUNT(*) AS DOUBLE)
       |           * (CAST(COUNT(*) AS DOUBLE) - 1.0))) / 1e6, 6)
       |    END AS boot_se,
       |    ROUND(MIN(d), 6) AS ci_lo, ROUND(MAX(d), 6) AS ci_hi
       |  FROM rd GROUP BY 1, 2, 3)
       |SELECT pt.event_type,
       |  ROUND(CAST(num AS DOUBLE) / den, 4) AS quantile,
       |  n_a, n_b, q_a, q_b,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN ROUND(q_b - q_a, 6) END
       |    AS delta,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN n_reps END AS n_reps,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN boot_se END AS boot_se,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN ci_lo END AS ci_lo,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN ci_hi END AS ci_hi
       |FROM pt LEFT JOIN panel USING (event_type, num, den)
       |ORDER BY event_type, quantile""".stripMargin
  }

  /** SRM chi-square replay: two conditional counts per arm, expected
    * halves via the same multiply-then-divide literal order, a-term +
    * b-term, rounded 6; the flag compares the ROUNDED chi2 to the
    * alpha=0.001 df=1 literal so both engines decide identically.
    */
  private def srmGuardOracleSql: String =
    """WITH s AS (
      |  SELECT user_id % 3 AS arm, (user_id % 2 = 0) AS side
      |  FROM events),
      |g AS (
      |  SELECT arm,
      |    CAST(COUNT(*) FILTER (NOT side) AS BIGINT) AS n_a,
      |    CAST(COUNT(*) FILTER (side) AS BIGINT) AS n_b
      |  FROM s GROUP BY arm),
      |d AS (
      |  SELECT arm, n_a, n_b, n_a + n_b AS n,
      |    CAST(n_a + n_b AS DOUBLE) * 1.0 / 2.0 AS ea,
      |    CAST(n_a + n_b AS DOUBLE) * 1.0 / 2.0 AS eb
      |  FROM g),
      |c AS (
      |  SELECT arm, n_a, n_b, n, ea,
      |    ROUND((CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea)
      |        / ea
      |      + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb)
      |        / eb, 6) AS x2
      |  FROM d)
      |SELECT arm, n_a, n_b, ROUND(ea, 6) AS expected_a,
      |  CASE WHEN n >= 100 THEN x2 END AS chi2,
      |  CASE WHEN n >= 100 THEN x2 > 10.827566 END AS srm
      |FROM c ORDER BY arm""".stripMargin

  /** Post-stratification replay (stratum-keyed decimal moments,
    * micro-quantized cross-strata roll-up) over the planted +2-lift
    * fixture - shared by the batch query and the streaming twin.
    */
  private def postStratOracleSql: String =
    """WITH s AS (
          |  SELECT user_id % 3 AS arm, event_type AS st,
          |    (user_id % 2 = 0) AS side,
          |    CAST(value + (CASE WHEN user_id % 2 = 0 THEN 2.0
          |      ELSE 0.0 END) AS DECIMAL(18,2)) AS v
          |  FROM events),
          |m AS (
          |  SELECT arm, st,
          |    COUNT(*) FILTER (NOT side) AS n_a,
          |    COUNT(*) FILTER (side) AS n_b,
          |    CAST(SUM(v) FILTER (NOT side) AS DECIMAL(38,2)) AS sa,
          |    CAST(SUM(v) FILTER (side) AS DECIMAL(38,2)) AS sb,
          |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
          |      AS DECIMAL(38,4)) AS qa,
          |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
          |      AS DECIMAL(38,4)) AS qb
          |  FROM s GROUP BY arm, st),
          |k AS (
          |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
          |    CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
          |    CAST(qa AS DOUBLE) AS qad, CAST(qb AS DOUBLE) AS qbd,
          |    n_a + n_b AS nk
          |  FROM m),
          |t AS (
          |  SELECT *,
          |    (qad - sad * sad / na) / (na - 1.0) AS va,
          |    (qbd - sbd * sbd / nb) / (nb - 1.0) AS vb,
          |    sad / na - sbd / nb AS dk
          |  FROM k),
          |q AS (
          |  SELECT arm, n_a, n_b, nk, sa, sb, qa, qb,
          |    (n_a >= 2 AND n_b >= 2) AS ok,
          |    CAST(ROUND(dk * 1e6) AS DECIMAL(38,0)) * nk AS dq,
          |    CAST(ROUND((va / na + vb / nb) * 1e12) AS DECIMAL(38,0))
          |      * nk * nk AS vq
          |  FROM t),
          |g AS (
          |  SELECT arm,
          |    CAST(SUM(n_a) AS BIGINT) AS n_a,
          |    CAST(SUM(n_b) AS BIGINT) AS n_b,
          |    COUNT(*) AS n_strata, MIN(ok) AS allok,
          |    CAST(SUM(nk) AS DOUBLE) AS nn,
          |    CAST(SUM(dq) AS DOUBLE) AS dsum,
          |    CAST(SUM(vq) AS DOUBLE) AS vsum,
          |    CAST(CAST(SUM(sa) AS DECIMAL(38,2)) AS DOUBLE) AS gsa,
          |    CAST(CAST(SUM(sb) AS DECIMAL(38,2)) AS DOUBLE) AS gsb,
          |    CAST(CAST(SUM(qa) AS DECIMAL(38,4)) AS DOUBLE) AS gqa,
          |    CAST(CAST(SUM(qb) AS DECIMAL(38,4)) AS DOUBLE) AS gqb
          |  FROM q GROUP BY arm),
          |f AS (
          |  SELECT *,
          |    CAST(n_a AS DOUBLE) AS gna, CAST(n_b AS DOUBLE) AS gnb,
          |    dsum / 1e6 / nn AS dps,
          |    vsum / 1e12 / (nn * nn) AS seps2
          |  FROM g),
          |f2 AS (
          |  SELECT *,
          |    (gqa - gsa * gsa / gna) / (gna - 1.0) / gna
          |      + (gqb - gsb * gsb / gnb) / (gnb - 1.0) / gnb AS seu2
          |  FROM f),
          |f3 AS (
          |  SELECT *,
          |    (n_a >= 2 AND n_b >= 2 AND seu2 > 0.0) AS oku,
          |    (allok AND seps2 > 0.0) AS okps
          |  FROM f2)
          |SELECT arm, n_a, n_b, n_strata,
          |  CASE WHEN oku THEN ROUND(gsa / gna - gsb / gnb, 6) END
          |    AS delta,
          |  CASE WHEN oku THEN ROUND(sqrt(seu2), 6) END AS se,
          |  CASE WHEN okps THEN ROUND(dps, 6) END AS delta_ps,
          |  CASE WHEN okps THEN ROUND(sqrt(seps2), 6) END AS se_ps,
          |  CASE WHEN okps THEN ROUND(dps / sqrt(seps2), 6) END AS z_ps,
          |  CASE WHEN okps AND oku
          |    THEN ROUND((1.0 - seps2 / seu2) * 100.0, 4) END
          |    AS var_reduction_pct
          |FROM f3 ORDER BY arm""".stripMargin

  /** Reliability-bin + ECE replay: 10 equal-width confidence bins per
    * event type over the flat-0.6-accuracy sweep fixture; ECE/MCE from
    * the exact |correct − conf-mass| decimal reduction — shared by the
    * batch query and the streaming twin.
    */
  private def calibrationOracleSql: String =
    """WITH c AS (
      |  SELECT event_type,
      |    (event_id % 97) / 96.0 AS s,
      |    (user_id % 5 < 3) AS y
      |  FROM events),
      |b AS (
      |  SELECT event_type,
      |    LEAST(CAST(FLOOR(s * 10) AS INT), 9) AS bin,
      |    CAST(ROUND(s, 6) AS DECIMAL(18,6)) AS c6,
      |    CASE WHEN y THEN 1 ELSE 0 END AS yy
      |  FROM c WHERE s IS NOT NULL AND y IS NOT NULL
      |    AND s >= 0.0 AND s <= 1.0),
      |g AS (
      |  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(yy) AS BIGINT) AS corr,
      |    CAST(SUM(c6) AS DECIMAL(38,6)) AS conf
      |  FROM b GROUP BY event_type, bin),
      |p AS (
      |  SELECT event_type, bin, n,
      |    ROUND(CAST(conf AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |      AS avg_conf,
      |    ROUND(CAST(corr AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |      AS accuracy,
      |    ROUND(CAST(CAST(corr AS DECIMAL(38,6)) - conf AS DOUBLE)
      |      / CAST(n AS DOUBLE), 6) AS gap,
      |    ABS(CAST(corr AS DECIMAL(38,6)) - conf) AS agap
      |  FROM g),
      |su AS (
      |  SELECT event_type,
      |    ROUND(CAST(SUM(agap) AS DOUBLE)
      |      / CAST(SUM(n) AS DOUBLE), 6) AS ece,
      |    ROUND(MAX(CAST(agap AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |      AS mce
      |  FROM p GROUP BY event_type)
      |SELECT p.event_type, p.bin, p.n, p.avg_conf, p.accuracy, p.gap,
      |  su.ece, su.mce
      |FROM p JOIN su ON p.event_type = su.event_type
      |ORDER BY p.event_type, p.bin""".stripMargin

  /** LORD++ online-FDR replay: the mSPRT p-stream over the planted-lift
    * segment panel (arrival order = (event_type, segment)), then the
    * SEQUENTIAL wealth walk as a recursive CTE carrying the rejection-
    * time list — exact integer decision (nano-gamma budget sums vs
    * micro-quantized p), matching [[graft.metrics.Metrics.onlineFdrLord]]'s
    * monotone fixed point term for term. Shared by the batch query and
    * the streaming twin.
    */
  private def onlineFdrOracleSql: String =
    """WITH RECURSIVE s AS (
      |  SELECT event_type, user_id % 7 AS segment,
      |    (user_id % 2 = 0) AS side,
      |    CAST(value + (CASE WHEN user_id % 7 < 2 AND user_id % 2 = 0
      |      THEN 40.0 ELSE 0.0 END) AS DECIMAL(18,2)) AS v
      |  FROM events),
      |g AS (
      |  SELECT event_type, segment,
      |    COUNT(*) FILTER (NOT side) AS n_a,
      |    COUNT(*) FILTER (side) AS n_b,
      |    CAST(SUM(v) FILTER (NOT side) AS DOUBLE) AS sa,
      |    CAST(SUM(v) FILTER (side) AS DOUBLE) AS sb,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
      |      AS DOUBLE) AS qa,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
      |      AS DOUBLE) AS qb
      |  FROM s GROUP BY event_type, segment),
      |d AS (
      |  SELECT event_type, segment, n_a, n_b, sa, sb, qa, qb,
      |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
      |  FROM g),
      |v AS (
      |  SELECT *,
      |    ((qa - sa * sa / na) / (na - 1.0)) / na
      |      + ((qb - sb * sb / nb) / (nb - 1.0)) / nb AS vv,
      |    sa / na - sb / nb AS delta
      |  FROM d),
      |st AS (
      |  SELECT *,
      |    0.5 * ln(vv / (vv + 25.0))
      |      + delta * delta * 25.0 / (2.0 * vv * (vv + 25.0)) AS llr,
      |    (n_a >= 100 AND n_b >= 100 AND vv > 0.0) AS ok
      |  FROM v),
      |h AS (
      |  SELECT event_type, segment,
      |    CASE WHEN ok THEN ROUND(LEAST(1.0, exp(-llr)), 6) END AS p
      |  FROM st),
      |hh AS (SELECT * FROM h WHERE p IS NOT NULL),
      |r AS (
      |  SELECT *,
      |    CAST(ROW_NUMBER() OVER (ORDER BY event_type, segment)
      |      AS BIGINT) AS t
      |  FROM hh),
      |walk(t, taus) AS (
      |  SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[])
      |  UNION ALL
      |  SELECT r.t,
      |    CASE WHEN CAST(ROUND(r.p * 1000000.0) AS BIGINT) * 200000
      |      <= 5 * (
      |        CAST(FLOOR(1000000000.0 /
      |          CAST(r.t * (r.t + 1) AS DOUBLE)) AS BIGINT)
      |        + COALESCE(CAST(FLOOR(1000000000.0 /
      |            CAST((r.t - w.taus[1]) * (r.t - w.taus[1] + 1)
      |              AS DOUBLE)) AS BIGINT), 0)
      |        + COALESCE(2 * list_sum(list_transform(w.taus[2:],
      |            tau -> CAST(FLOOR(1000000000.0 /
      |              CAST((r.t - tau) * (r.t - tau + 1) AS DOUBLE))
      |              AS BIGINT))), 0))
      |    THEN list_append(w.taus, r.t) ELSE w.taus END
      |  FROM walk w JOIN r ON r.t = w.t + 1),
      |fin AS (SELECT taus FROM walk ORDER BY t DESC LIMIT 1),
      |ft AS (
      |  SELECT r.*, list_filter(fin.taus, tau -> tau < r.t) AS fl
      |  FROM r, fin),
      |b AS (
      |  SELECT *,
      |    CAST(FLOOR(1000000000.0 / CAST(t * (t + 1) AS DOUBLE))
      |      AS BIGINT)
      |    + COALESCE(CAST(FLOOR(1000000000.0 /
      |        CAST((t - fl[1]) * (t - fl[1] + 1) AS DOUBLE))
      |        AS BIGINT), 0)
      |    + COALESCE(2 * list_sum(list_transform(fl[2:],
      |        tau -> CAST(FLOOR(1000000000.0 /
      |          CAST((t - tau) * (t - tau + 1) AS DOUBLE))
      |          AS BIGINT))), 0) AS sbudget
      |  FROM ft)
      |SELECT event_type, segment, p AS p_always, t,
      |  ROUND(CAST(sbudget AS DOUBLE)
      |    * (5.0 / (2.0 * 100.0) / 1000000000.0), 9) AS alpha_t,
      |  CAST(ROUND(p * 1000000.0) AS BIGINT) * 200000 <= 5 * sbudget
      |    AS reject
      |FROM b ORDER BY event_type, segment""".stripMargin

  /** Conversion-rate mSPRT replay (τ = 0.1, α = 0.05, minN = 100): the
    * event-level four-count moments, then the fixed-order mixture
    * statistic on the Wald rate variance — shared by the batch query
    * and the streaming twin.
    */
  private def sequentialProportionOracleSql: String =
    """WITH u AS (
      |  SELECT user_id % 3 AS arm, (user_id % 2 = 0) AS side,
      |    (event_type = 'purchase' AND value >= 150.0) AS success
      |  FROM events),
      |g AS (
      |  SELECT arm,
      |    COUNT(*) FILTER (NOT side) AS n_a,
      |    COUNT(*) FILTER (side) AS n_b,
      |    COUNT(*) FILTER (NOT side AND success) AS k_a,
      |    COUNT(*) FILTER (side AND success) AS k_b
      |  FROM u GROUP BY arm),
      |v AS (
      |  SELECT arm, n_a, n_b, k_a, k_b,
      |    CAST(k_a AS DOUBLE) / n_a AS pa,
      |    CAST(k_b AS DOUBLE) / n_b AS pb
      |  FROM g),
      |w AS (
      |  SELECT *, pa * (1.0 - pa) / n_a + pb * (1.0 - pb) / n_b AS vv,
      |    pa - pb AS delta
      |  FROM v),
      |st AS (
      |  SELECT *, 0.5 * ln(vv / (vv + 0.01))
      |    + delta * delta * 0.01 / (2.0 * vv * (vv + 0.01)) AS llr,
      |    (n_a >= 100 AND n_b >= 100 AND vv > 0.0) AS ok
      |  FROM w),
      |p AS (
      |  SELECT arm, n_a, n_b, k_a, k_b, ROUND(pa, 6) AS p_a,
      |    ROUND(pb, 6) AS p_b, ROUND(delta, 6) AS delta,
      |    CASE WHEN ok THEN ROUND(llr, 6) END AS log_lr,
      |    CASE WHEN ok THEN ROUND(LEAST(1.0, exp(-llr)), 6) END
      |      AS p_always
      |  FROM st)
      |SELECT arm, n_a, n_b, k_a, k_b, p_a, p_b, delta, log_lr,
      |  p_always, p_always < 0.05 AS reject
      |FROM p ORDER BY arm""".stripMargin

  /** Mixture-mSPRT replay (τ = 5, α = 0.05, minN = 100): the ab_test
    * moment CTEs, then the fixed-order mixture statistic — shared by the
    * batch query and the streaming twin (the drained Complete-mode state
    * IS the batch aggregate).
    */
  private def sequentialAbOracleSql: String =
    """WITH s AS (
      |  SELECT event_type, (user_id % 2 = 0) AS side,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    COUNT(*) FILTER (NOT side) AS n_a,
      |    COUNT(*) FILTER (side) AS n_b,
      |    CAST(SUM(v) FILTER (NOT side) AS DOUBLE) AS sa,
      |    CAST(SUM(v) FILTER (side) AS DOUBLE) AS sb,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
      |      AS DOUBLE) AS qa,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
      |      AS DOUBLE) AS qb
      |  FROM s GROUP BY event_type),
      |d AS (
      |  SELECT event_type, n_a, n_b, sa, sb, qa, qb,
      |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
      |  FROM g),
      |v AS (
      |  SELECT *,
      |    ((qa - sa * sa / na) / (na - 1.0)) / na
      |      + ((qb - sb * sb / nb) / (nb - 1.0)) / nb AS vv,
      |    sa / na - sb / nb AS delta
      |  FROM d),
      |st AS (
      |  SELECT *,
      |    0.5 * ln(vv / (vv + 25.0))
      |      + delta * delta * 25.0 / (2.0 * vv * (vv + 25.0)) AS llr,
      |    (n_a >= 100 AND n_b >= 100 AND vv > 0.0) AS ok
      |  FROM v),
      |p AS (
      |  SELECT event_type, n_a, n_b,
      |    ROUND(sa / na, 6) AS mean_a, ROUND(sb / nb, 6) AS mean_b,
      |    ROUND(delta, 6) AS delta,
      |    CASE WHEN ok THEN ROUND(llr, 6) END AS log_lr,
      |    CASE WHEN ok THEN ROUND(LEAST(1.0, exp(-llr)), 6) END
      |      AS p_always
      |  FROM st)
      |SELECT event_type, n_a, n_b, mean_a, mean_b, delta, log_lr,
      |  p_always, p_always < 0.05 AS reject
      |FROM p ORDER BY event_type""".stripMargin

  // ---- ONE-SCAN Poisson bootstrap: SE + envelope for the corpus mean ----
  // All 32 replicates accumulate as 64 associative sums in a single
  // pass (the bootstrap that distributes); every multiplicity is an
  // md5 draw through the literal Poisson(1) CDF ladder.
  private val bootstrapCiOrders: QuerySpec =
    QuerySpec("bootstrap_ci_orders", (s, dir) =>
      Samplers.poissonBootstrap(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")),
        "o_orderkey", "cents", 32),
      bootstrapOracleSql(32))

  // ---- Welch two-sample t-test per event type ---------------------------
  // Did the mean event value move between the even- and odd-user halves?
  // Exact decimal moments in one conditional hash-agg; t and
  // Welch-Satterthwaite dof as fixed-order doubles.
  private val abTestEvents: QuerySpec =
    QuerySpec("ab_test_events", (s, dir) =>
      Metrics.welchTTest(t(s, dir, "events")
          .withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
        .orderBy(col("event_type")),
      """WITH s AS (
        |  SELECT event_type, (user_id % 2 = 0) AS side,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    COUNT(*) FILTER (NOT side) AS n_a,
        |    COUNT(*) FILTER (side) AS n_b,
        |    CAST(SUM(v) FILTER (NOT side) AS DOUBLE) AS sa,
        |    CAST(SUM(v) FILTER (side) AS DOUBLE) AS sb,
        |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
        |      AS DOUBLE) AS qa,
        |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
        |      AS DOUBLE) AS qb
        |  FROM s GROUP BY event_type),
        |d AS (
        |  SELECT event_type, n_a, n_b, sa, sb, qa, qb,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
        |  FROM g),
        |v AS (
        |  SELECT *,
        |    ((qa - sa * sa / na) / (na - 1.0)) / na AS sea,
        |    ((qb - sb * sb / nb) / (nb - 1.0)) / nb AS seb
        |  FROM d)
        |SELECT event_type, n_a, n_b,
        |  ROUND(sa / na, 6) AS mean_a,
        |  ROUND(sb / nb, 6) AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
        |    ROUND((sa / na - sb / nb) / sqrt(sea + seb), 6) END AS t_stat,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
        |    ROUND((sea + seb) * (sea + seb) /
        |      (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 6)
        |    END AS dof
        |FROM v ORDER BY event_type""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    // ---- exact Mann-Whitney U rank-sum (nonparametric two-sample drift) ----
    // Does purchase-event value stochastically dominate the rest? Doubled
    // midranks keep U exact; auc IS P(purchase > other) + half-ties; the
    // whole statistic lives on the value dictionary (no corpus join-back).
    QuerySpec("mann_whitney_events", (s, dir) =>
      Metrics.mannWhitneyU(t(s, dir, "events")
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", col("event_type") === "purchase"),
        "cents", "side"),
      // doubled midranks via one cumulative over the value dictionary; the
      // exact integers travel as strings (the ks_drift pandas-bridge rule)
      """WITH v AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    (event_type = 'purchase') AS s
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |g AS (
        |  SELECT v, CAST(COUNT(*) AS HUGEINT) AS c,
        |    CAST(COUNT(*) FILTER (NOT s) AS HUGEINT) AS ca
        |  FROM v GROUP BY v),
        |r AS (
        |  SELECT v, c, ca, 2 * SUM(c) OVER (ORDER BY v) - c + 1 AS r2
        |  FROM g),
        |m AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(c - ca) AS BIGINT) AS n_b,
        |    SUM(ca * r2) AS ra2, SUM(c * c * c - c) AS tie_t
        |  FROM r),
        |u AS (
        |  SELECT n_a, n_b, tie_t,
        |    ra2 - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1) AS u2,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nn
        |  FROM m),
        |w AS (
        |  SELECT n_a, n_b, tie_t, u2, nn,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 3.0 *
        |      ((nn + 1.0) - CAST(tie_t AS DOUBLE) / (nn * (nn - 1.0)))
        |      AS var2
        |  FROM u)
        |SELECT n_a, n_b, CAST(u2 AS VARCHAR) AS u2_a,
        |  CAST(tie_t AS VARCHAR) AS tie_t,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    ROUND(CAST(u2 AS DOUBLE) /
        |      (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
        |  END AS auc,
        |  CASE WHEN var2 > 0 THEN
        |    ROUND((CAST(u2 AS DOUBLE) -
        |      CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / sqrt(var2), 6)
        |  END AS z
        |FROM w""".stripMargin),

    bootstrapCiOrders,

    // ---- Poisson bootstrap for a RATIO metric (value share) ---------------
    // Revenue share of purchase events with its bootstrap envelope: both
    // numerator and denominator resample together per replicate — the
    // per-row-ratio bootstrap would weight rows equally, this one does
    // not.
    QuerySpec("bootstrap_ratio_events", (s, dir) =>
      Samplers.poissonBootstrapRatio(t(s, dir, "events")
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("pnum",
            when(col("event_type") === "purchase", col("cents"))
              .otherwise(0L)),
        "event_id", "pnum", "cents", 32),
      bootstrapRatioOracleSql(32)),

    // ---- STREAMING bootstrap: the 2B-sum state as Complete-mode agg --------
    // A continuously-maintained CI over the ingest: every state column is
    // an associative sum; the summary fold replays on drain.
    QuerySpec("streaming_bootstrap_ci_orders", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "orders"), dir, "orders")
        .withColumn("cents",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .withColumn("__den1", lit(1L))
      val sums = Samplers.bootstrapRatioSums(stream, "o_orderkey",
        "cents", "__den1", 32)
      val drained = Streams.runToMemory(sums, "stream_boot",
        OutputMode.Complete())
      Samplers.bootstrapFromSums(drained, 32, "mean")
    },
      // bootstrap twin: the 2B-sum state is associative, fold on drain
      bootstrapCiOrders.oracleSql),

    // ---- two-arm experiment power advisor ----------------------------------
    // "How many users per arm before this A/B can detect a 1/2/5% move"
    // priced from the metric's measured variance — one moment hash-agg.
    QuerySpec("power_advisor_events", (s, dir) =>
      Metrics.powerAdvisor(t(s, dir, "events")
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long")),
        "cents", Seq("event_type"), Seq(0.01, 0.02, 0.05))
        .orderBy(col("event_type"), col("mde")),
      // moment hash-agg + delta scaffold; the z constants are literals in
      // both engines so the pre-ceil double is identical
      """WITH v AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM v GROUP BY 1),
        |e AS (SELECT m.*, UNNEST([0.01, 0.02, 0.05]) AS mde FROM m),
        |c AS (
        |  SELECT event_type, n, mde,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_,
        |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var_
        |  FROM e)
        |SELECT event_type, n, ROUND(mean_, 6) AS mean,
        |  CASE WHEN n > 1 THEN ROUND(var_, 6) END AS variance, mde,
        |  CASE WHEN n > 1 AND mean_ <> 0.0 THEN
        |    CAST(CEIL(2.0 * var_ * ((1.959964 + 0.841621)
        |      * (1.959964 + 0.841621))
        |      / ((mde * mean_) * (mde * mean_))) AS BIGINT)
        |  END AS n_per_arm
        |FROM c ORDER BY event_type, mde""".stripMargin),

    abTestEvents,

    // ---- ALWAYS-VALID sequential A/B test (mixture-mSPRT) -----------------
    // The continuous-monitoring companion the fixed-horizon Welch panel
    // lacks: Λ over the same six-moment state, p = min(1, 1/Λ) valid at
    // every intermediate drain (Johari et al. KDD'17). Same side/group
    // fabric as ab_test_events.
    QuerySpec("sequential_ab_events", (s, dir) =>
      Metrics.sequentialAbTest(t(s, dir, "events")
          .withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
        .orderBy(col("event_type")),
      sequentialAbOracleSql),

    // ---- STREAMING always-valid sequential A/B ----------------------------
    // The op the mSPRT exists for: the moments are Complete-mode state and
    // the mixture statistic is licensed at EVERY drain — the twin shares
    // the batch oracle verbatim (state = batch aggregate).
    QuerySpec("streaming_sequential_ab_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val moments = Metrics.welchMoments(
        stream.withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
      val drained = Streams.runToMemory(moments, "stream_seqab",
        OutputMode.Complete())
      Metrics.sequentialAbFromMoments(drained, Seq("event_type"))
        .orderBy(col("event_type"))
    },
      sequentialAbOracleSql),

    // ---- STREAMING Welch A/B panel ----------------------------------------
    // The six conditional decimal moments are associative sums — legal
    // Complete-mode streaming state; the t/dof algebra runs over the
    // drained |groups|-row state table. Oracle = the batch ab_test SQL
    // (the state IS the batch aggregate, micro-batch-order-free).
    QuerySpec("streaming_ab_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val moments = Metrics.welchMoments(
        stream.withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
      val drained = Streams.runToMemory(moments, "stream_ab",
        OutputMode.Complete())
      Metrics.welchFromMoments(drained, Seq("event_type"))
        .orderBy(col("event_type"))
    },
      // the streaming panel's Complete-mode state IS the batch moment
      // aggregate (associative sums, micro-batch-order-free) — same SQL
      abTestEvents.oracleSql),

    // ---- two-proportion z-test per arm (conversion-rate A/B) --------------
    // Unit = user, success = any purchase >= 150, side = even/odd user,
    // stratified by arm — the proportions half of the A/B panel
    // (ab_test_events covers means).
    QuerySpec("proportion_test_events", (s, dir) => {
      val units = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
          col("value") >= 150.0, 1L).otherwise(0L)).as("__s"))
        .select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side"),
          (col("__s") === 1L).as("success"))
      Metrics.proportionZTest(units, "success", "side", Seq("arm"))
        .orderBy(col("arm"))
    },
      """WITH sec AS (
        |  SELECT user_id, event_type, value,
        |    epoch_us(ts) // 1000000 AS s
        |  FROM events),
        |u AS (
        |  SELECT user_id, user_id % 3 AS arm,
        |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150
        |      THEN 1 ELSE 0 END) AS sc
        |  FROM sec GROUP BY user_id),
        |g AS (
        |  SELECT arm,
        |    COUNT(*) FILTER (user_id % 2 <> 0) AS n_a,
        |    COUNT(*) FILTER (user_id % 2 = 0) AS n_b,
        |    COUNT(*) FILTER (user_id % 2 <> 0 AND sc = 1) AS k_a,
        |    COUNT(*) FILTER (user_id % 2 = 0 AND sc = 1) AS k_b
        |  FROM u GROUP BY arm),
        |d AS (
        |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |    CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        |    CAST(k_a + k_b AS DOUBLE) /
        |      (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
        |  FROM g),
        |v AS (
        |  SELECT *, pp * (1.0 - pp) * (1.0 / na + 1.0 / nb) AS vv FROM d)
        |SELECT arm, n_a, n_b, k_a, k_b,
        |  CASE WHEN n_a >= 1 THEN ROUND(pa, 6) END AS p_a,
        |  CASE WHEN n_b >= 1 THEN ROUND(pb, 6) END AS p_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND vv > 0.0
        |    THEN ROUND((pa - pb) / sqrt(vv), 6) END AS z
        |FROM v ORDER BY arm""".stripMargin),

    // ---- minimum detectable effect at current traffic ----------------------
    // The planning row an experimenter reads BEFORE peeking at the
    // delta: MDE = 2.801585 * SE(delta) (alpha .05 two-sided, 80%
    // power), absolute and relative to the pooled mean.
    QuerySpec("mde_events", (s, dir) =>
      Metrics.minDetectableEffect(t(s, dir, "events")
          .withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
        .orderBy(col("event_type")),
      """WITH s AS (
        |  SELECT event_type, (user_id % 2 = 0) AS side,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    COUNT(*) FILTER (NOT side) AS n_a,
        |    COUNT(*) FILTER (side) AS n_b,
        |    CAST(SUM(v) FILTER (NOT side) AS DOUBLE) AS sa,
        |    CAST(SUM(v) FILTER (side) AS DOUBLE) AS sb,
        |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
        |      AS DOUBLE) AS qa,
        |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
        |      AS DOUBLE) AS qb
        |  FROM s GROUP BY event_type),
        |d AS (
        |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE)
        |    AS nb
        |  FROM g),
        |v AS (
        |  SELECT *,
        |    ((qa - sa * sa / na) / (na - 1.0)) / na
        |      + ((qb - sb * sb / nb) / (nb - 1.0)) / nb AS vv,
        |    (sa + sb) / (na + nb) AS pm
        |  FROM d),
        |z AS (
        |  SELECT *, (n_a >= 2 AND n_b >= 2 AND vv > 0.0) AS ok
        |  FROM v)
        |SELECT event_type, n_a, n_b,
        |  ROUND(sa / na, 6) AS mean_a, ROUND(sb / nb, 6) AS mean_b,
        |  CASE WHEN ok THEN ROUND(sqrt(vv), 6) END AS se_diff,
        |  CASE WHEN ok THEN ROUND(2.801585 * sqrt(vv), 6) END
        |    AS mde_abs,
        |  CASE WHEN ok AND pm <> 0.0 THEN
        |    ROUND(2.801585 * sqrt(vv) / pm, 6) END AS mde_rel
        |FROM z ORDER BY event_type""".stripMargin),

    // ---- sample-ratio-mismatch guard (assignment-count chi-square) ---------
    // The FIRST check a real A/B platform runs: Pearson chi-square of
    // the n_a:n_b assignment counts against the declared 50/50 design
    // at the strict alpha=0.001 SRM literal (Fabijan KDD'19) — the
    // validity gate the whole mSPRT/CUPED/MDE panel silently assumes.
    QuerySpec("srm_guard_events", (s, dir) =>
      Metrics.srmGuard(
        t(s, dir, "events").select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side")),
        "side", Seq("arm"))
        .orderBy(col("arm")),
      srmGuardOracleSql),

    // ---- STREAMING SRM guard (the two assignment counts as state) ----------
    QuerySpec("streaming_srm_guard_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = Metrics.srmCounts(
        stream.select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side")),
        "side", Seq("arm"))
      val drained = Streams.runToMemory(counts, "stream_srm",
        OutputMode.Complete())
      Metrics.srmFromCounts(drained, Seq("arm"))
        .orderBy(col("arm"))
    },
      srmGuardOracleSql),

    // ---- Benjamini-Hochberg FDR over a segment dashboard -------------------
    // 35 always-valid p-values (mSPRT per event_type x user-mod-7
    // segment) through the step-up FDR control: global p-rank via the
    // range scaffold, adjusted p as the two-phase suffix min, reject
    // on the rounded adjusted p. The multiple-testing guard every
    // many-segment dashboard needs.
    QuerySpec("fdr_bh_events", (s, dir) => {
      val tests = Metrics.sequentialAbTest(
        t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 7).as("segment"),
          (col("user_id") % 2 === 0).as("side"), col("value")),
        "value", "side", Seq("event_type", "segment"))
      Metrics.benjaminiHochberg(tests, Seq("event_type", "segment"),
        "p_always")
        .orderBy(col("event_type"), col("segment"))
    },
      // BH FDR: the mSPRT p panel per (event_type, segment), then the
      // textbook step-up — rank over (p, ids), q = min(1, m*p/i),
      // adjusted p as the descending running min, reject on rounded
      """WITH s AS (
        |  SELECT event_type, user_id % 7 AS segment,
        |    (user_id % 2 = 0) AS side,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |g AS (
        |  SELECT event_type, segment,
        |    COUNT(*) FILTER (NOT side) AS n_a,
        |    COUNT(*) FILTER (side) AS n_b,
        |    CAST(SUM(v) FILTER (NOT side) AS DOUBLE) AS sa,
        |    CAST(SUM(v) FILTER (side) AS DOUBLE) AS sb,
        |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
        |      AS DOUBLE) AS qa,
        |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
        |      AS DOUBLE) AS qb
        |  FROM s GROUP BY event_type, segment),
        |d AS (
        |  SELECT event_type, segment, n_a, n_b, sa, sb, qa, qb,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
        |  FROM g),
        |v AS (
        |  SELECT *,
        |    ((qa - sa * sa / na) / (na - 1.0)) / na
        |      + ((qb - sb * sb / nb) / (nb - 1.0)) / nb AS vv,
        |    sa / na - sb / nb AS delta
        |  FROM d),
        |st AS (
        |  SELECT *,
        |    0.5 * ln(vv / (vv + 25.0))
        |      + delta * delta * 25.0 / (2.0 * vv * (vv + 25.0)) AS llr,
        |    (n_a >= 100 AND n_b >= 100 AND vv > 0.0) AS ok
        |  FROM v),
        |h AS (
        |  SELECT event_type, segment,
        |    CASE WHEN ok THEN ROUND(LEAST(1.0, exp(-llr)), 6) END AS p
        |  FROM st),
        |hh AS (SELECT * FROM h WHERE p IS NOT NULL),
        |r AS (
        |  SELECT *,
        |    CAST(ROW_NUMBER() OVER (ORDER BY p, event_type, segment)
        |      AS BIGINT) AS rank,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m
        |  FROM hh),
        |q AS (
        |  SELECT *, LEAST(1.0, CAST(m AS DOUBLE) * p / rank) AS qv
        |  FROM r),
        |a AS (
        |  SELECT *, MIN(qv) OVER (ORDER BY rank DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS padj
        |  FROM q)
        |SELECT event_type, segment, p AS p_always, rank,
        |  ROUND(padj, 6) AS p_adj, ROUND(padj, 6) <= 0.05 AS reject
        |FROM a ORDER BY event_type, segment""".stripMargin),

    // ---- LORD online FDR over the arriving segment stream -------------------
    // The ONLINE companion to fdr_bh_events: hypotheses arrive in the
    // declared (event_type, segment) order, each spends the LORD++
    // wealth budget alpha_t (gamma_j = 1/(j(j+1)) schedule, W0 = alpha/2),
    // and a rejection re-injects wealth over the future. Two segments
    // per event type carry a planted +40 lift on side B, so the early
    // rejections are real and the later null segments face budgets that
    // reflect the earned wealth. Exact integer decision (nano-gamma sums
    // vs micro-p), monotone fixed-point evaluation of the sequential
    // recursion.
    QuerySpec("online_fdr_events", (s, dir) => {
      val tests = Metrics.sequentialAbTest(
        t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 7).as("segment"),
          (col("user_id") % 2 === 0).as("side"),
          (col("value") + when((col("user_id") % 7) < 2 &&
            col("user_id") % 2 === 0, lit(40.0))
            .otherwise(lit(0.0))).as("value")),
        "value", "side", Seq("event_type", "segment"))
      Metrics.onlineFdrLord(tests, Seq("event_type", "segment"),
        "p_always")
        .orderBy(col("event_type"), col("segment"))
    },
      onlineFdrOracleSql),

    // ---- STREAMING LORD twin (the welch moment sums as state) --------------
    // The shape online FDR exists for: the mSPRT panel drained from a
    // stream, then the LORD walk over the drained hypothesis dictionary
    // — welchMoments / sequentialAbFromMoments / onlineFdrLord shared
    // with the batch path verbatim.
    QuerySpec("streaming_online_fdr_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val units = stream.select(col("event_type"),
        (col("user_id") % 7).as("segment"),
        (col("user_id") % 2 === 0).as("side"),
        (col("value") + when((col("user_id") % 7) < 2 &&
          col("user_id") % 2 === 0, lit(40.0))
          .otherwise(lit(0.0))).as("value"))
      val moments = Metrics.welchMoments(units, "value", "side",
        Seq("event_type", "segment"))
      val drained = Streams.runToMemory(moments, "stream_lord",
        OutputMode.Complete())
      Metrics.onlineFdrLord(
        Metrics.sequentialAbFromMoments(drained,
          Seq("event_type", "segment")),
        Seq("event_type", "segment"), "p_always")
        .orderBy(col("event_type"), col("segment"))
    },
      onlineFdrOracleSql),

    // ---- delta-method ratio-metric z-test (Deng et al. KDD'18) -------------
    // Revenue-per-click per arm: most production metrics are ratios of
    // unit sums, where a naive per-unit t-test is wrong (undefined on
    // y=0 units, mis-weighted elsewhere). Six exact decimal moments per
    // side in one hash-agg, then the delta-method variance.
    QuerySpec("ratio_delta_events", (s, dir) =>
      Metrics.ratioMetricDelta(
        t(s, dir, "events").select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side"),
          when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0)).as("x"),
          when(col("event_type") === "click", lit(1.0))
            .otherwise(lit(0.0)).as("y")),
        "x", "y", "side", Seq("arm"))
        .orderBy(col("arm")),
      ratioDeltaOracleSql),

    // ---- STREAMING ratio-metric twin (the 12 moment sums as state) ---------
    QuerySpec("streaming_ratio_delta_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val units = stream.select((col("user_id") % 3).as("arm"),
        (col("user_id") % 2 === 0).as("side"),
        when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)).as("x"),
        when(col("event_type") === "click", lit(1.0))
          .otherwise(lit(0.0)).as("y"))
      val moments =
        Metrics.ratioDeltaMoments(units, "x", "y", "side", Seq("arm"))
      val drained = Streams.runToMemory(moments, "stream_ratio",
        OutputMode.Complete())
      Metrics.ratioDeltaFromMoments(drained, Seq("arm"))
        .orderBy(col("arm"))
    },
      ratioDeltaOracleSql),

    // ---- quantile treatment effect with Poisson-bootstrap CI ---------------
    // The heavy-tail leg of the A/B panel: P50/P90 deltas per event
    // type (latency/revenue metrics are READ at quantiles, where the
    // mean test answers the wrong question). Type-1 quantiles over the
    // per-(type, side, rep) value dictionaries; CI from the one-scan
    // Poisson replicate machinery.
    QuerySpec("quantile_effect_events", (s, dir) =>
      Metrics.quantileTreatmentEffect(
        t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 2 === 0).as("side"),
          col("value"), col("event_id")),
        "value", "side", "event_id", Seq("event_type"))
        .orderBy(col("event_type"), col("quantile")),
      quantileEffectOracleSql(32)),

    // ---- STREAMING QTE twin (the replicate value dictionaries as state) ----
    QuerySpec("streaming_quantile_effect_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      // the twin PROVES the replicate dictionary is legal Complete-mode
      // state; it runs 8 replicates (the batch panel runs 32) because
      // the state the memory sink re-emits per drain is (reps+1)× the
      // value dictionary — the mechanism is identical, the drain mass
      // is a quarter
      val counts = Metrics.qteReplicateCounts(
        stream.select(col("event_type"),
          (col("user_id") % 2 === 0).as("side"),
          col("value"), col("event_id")),
        "value", "side", "event_id", Seq("event_type"), 8)
      val drained = Streams.runToMemory(counts, "stream_qte",
        OutputMode.Complete())
      Metrics.qteFromCounts(drained, Seq("event_type"),
        Seq((1, 2), (9, 10)))
        .orderBy(col("event_type"), col("quantile"))
    },
      quantileEffectOracleSql(8)),

    // ---- reliability diagram + expected calibration error ------------------
    // The calibration audit every scored classifier/judge pipeline gets:
    // 10 equal-width confidence bins per event type, per-bin mean
    // confidence vs empirical accuracy, ECE as the exact
    // sum|correct_b - conf-mass_b|/N reduction (no per-bin float
    // division in the statistic), MCE alongside. The planted fixture is
    // a flat-0.6-accuracy scorer whose confidence sweeps [0,1] — textbook
    // overconfidence above 0.6, underconfidence below.
    QuerySpec("calibration_events", (s, dir) =>
      Metrics.expectedCalibrationError(
        t(s, dir, "events").select(col("event_type"),
          ((col("event_id") % 97) / lit(96.0)).as("score"),
          (col("user_id") % 5 < 3).as("correct")),
        "score", "correct", Seq("event_type"))
        .orderBy(col("event_type"), col("bin")),
      calibrationOracleSql),

    // ---- STREAMING calibration twin (bin counts as state) -------------------
    QuerySpec("streaming_calibration_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = Metrics.calibrationBinCounts(
        stream.select(col("event_type"),
          ((col("event_id") % 97) / lit(96.0)).as("score"),
          (col("user_id") % 5 < 3).as("correct")),
        "score", "correct", Seq("event_type"), 10)
      val drained = Streams.runToMemory(counts, "stream_cal",
        OutputMode.Complete())
      Metrics.eceFromBinCounts(drained, Seq("event_type"))
        .orderBy(col("event_type"), col("bin"))
    },
      calibrationOracleSql),

    // ---- post-stratified treatment effect (variance reduction) -------------
    // Stratify the per-arm A/B readout by event_type (the categorical
    // pre-treatment covariate): between-type value variance drops out
    // of the comparison, and var_reduction_pct SAYS how much the
    // stratification bought. Planted +2 lift on side B; exact decimal
    // moments per (arm, stratum, side), micro-quantized cross-strata
    // sums — order-insensitive end to end.
    QuerySpec("post_strat_events", (s, dir) =>
      Metrics.postStratifiedDelta(
        t(s, dir, "events").select((col("user_id") % 3).as("arm"),
          col("event_type"),
          (col("user_id") % 2 === 0).as("side"),
          (col("value") + when(col("user_id") % 2 === 0, lit(2.0))
            .otherwise(lit(0.0))).as("value")),
        "value", "side", "event_type", Seq("arm"))
        .orderBy(col("arm")),
      postStratOracleSql),

    // ---- STREAMING post-stratification twin (stratum moments as state) -----
    QuerySpec("streaming_post_strat_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val moments = Metrics.postStratMoments(
        stream.select((col("user_id") % 3).as("arm"),
          col("event_type"),
          (col("user_id") % 2 === 0).as("side"),
          (col("value") + when(col("user_id") % 2 === 0, lit(2.0))
            .otherwise(lit(0.0))).as("value")),
        "value", "side", "event_type", Seq("arm"))
      val drained = Streams.runToMemory(moments, "stream_pstrat",
        OutputMode.Complete())
      Metrics.postStratFromMoments(drained, Seq("arm"))
        .orderBy(col("arm"))
    },
      postStratOracleSql),

    // ---- ALWAYS-VALID sequential two-proportion test ------------------------
    // The conversion-rate mSPRT (sequential_ab covers means): same
    // event-level fabric as the streaming proportions twin, so the
    // statistic is licensed at every drain of a conversion dashboard.
    QuerySpec("sequential_proportion_events", (s, dir) =>
      Metrics.sequentialProportionTest(
        t(s, dir, "events").select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side"),
          (col("event_type") === "purchase" && col("value") >= 150.0)
            .as("success")),
        "success", "side", Seq("arm"))
        .orderBy(col("arm")),
      sequentialProportionOracleSql),

    // ---- STREAMING sequential two-proportion (same four-count state) -------
    QuerySpec("streaming_sequential_proportion_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val units = stream.select((col("user_id") % 3).as("arm"),
        (col("user_id") % 2 === 0).as("side"),
        (col("event_type") === "purchase" && col("value") >= 150.0)
          .as("success"))
      val moments =
        Metrics.proportionMoments(units, "success", "side", Seq("arm"))
      val drained = Streams.runToMemory(moments, "stream_seqprop",
        OutputMode.Complete())
      Metrics.sequentialProportionFromMoments(drained, Seq("arm"))
        .orderBy(col("arm"))
    },
      sequentialProportionOracleSql)
  )
}
