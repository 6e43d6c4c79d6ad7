package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.metrics.Metrics
import graft.scale.TextAnalysis
import graft.streaming.Streams

import Shared._

/** Evaluation-metric queries: confusion metrics, tolerant numeric equality,
  * calibration panels, rater agreement and conformal regression.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object MetricsQueries {

  /** Three deterministic quality "judges" over documents — the demo
    * rater ensemble the Fleiss-kappa panel grades: length class,
    * token-count class, lexical-diversity class (exact cross-multiplied
    * thresholds, no float ratios), all on the shared lo/mid/hi scale.
    */
  private def qualityRaters(df: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    df.withColumn("__nt", size(toks))
      .withColumn("__nd", size(array_distinct(toks)))
      .withColumn("r_len",
        when(col("n_chars") < 200, "lo")
          .when(col("n_chars") < 800, "mid").otherwise("hi"))
      .withColumn("r_tok",
        when(col("__nt") < 40, "lo")
          .when(col("__nt") < 160, "mid").otherwise("hi"))
      .withColumn("r_div",
        when(col("__nd") * 10 < col("__nt") * 5, "lo")
          .when(col("__nd") * 10 < col("__nt") * 8, "mid")
          .otherwise("hi"))
  }

  // ---- multi-rater agreement: Fleiss' kappa over 3 quality judges --------
  // The LLM-judge-ensemble acceptance gate: does the panel agree beyond
  // the chance implied by pooled category prevalence? Exact profile-
  // dictionary fold; kappa_num/den travel as exact decimal strings.
  private val fleissKappaDocs: QuerySpec =
    QuerySpec("fleiss_kappa_docs", (s, dir) =>
      Metrics.fleissKappa(qualityRaters(t(s, dir, "documents")),
        Seq("r_len", "r_tok", "r_div")),
      // the rating-profile dictionary replays as one GROUP BY over the three
      // CASE raters; A = sum c*(3 + 2*#equal-pairs); exact num/den as strings
      """WITH base AS (
        |  SELECT n_chars,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS nt,
        |    len(list_distinct(list_filter(
        |      string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0))) AS nd
        |  FROM documents),
        |r AS (
        |  SELECT
        |    CASE WHEN n_chars < 200 THEN 'lo'
        |      WHEN n_chars < 800 THEN 'mid' ELSE 'hi' END AS r0,
        |    CASE WHEN nt < 40 THEN 'lo'
        |      WHEN nt < 160 THEN 'mid' ELSE 'hi' END AS r1,
        |    CASE WHEN nd * 10 < nt * 5 THEN 'lo'
        |      WHEN nd * 10 < nt * 8 THEN 'mid' ELSE 'hi' END AS r2
        |  FROM base),
        |prof AS (
        |  SELECT r0, r1, r2, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM r GROUP BY 1, 2, 3),
        |a AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n_subjects,
        |    SUM(CAST(c AS HUGEINT) * (3 + 2 * (CAST(r0 = r1 AS INT) +
        |      CAST(r0 = r2 AS INT) + CAST(r1 = r2 AS INT)))) AS a
        |  FROM prof),
        |cj AS (
        |  SELECT k, CAST(SUM(c) AS BIGINT) AS cj FROM (
        |    SELECT r0 AS k, c FROM prof
        |    UNION ALL SELECT r1, c FROM prof
        |    UNION ALL SELECT r2, c FROM prof)
        |  GROUP BY 1),
        |ss AS (SELECT SUM(CAST(cj AS HUGEINT) * cj) AS s FROM cj),
        |f AS (
        |  SELECT n_subjects, CAST(n_subjects AS HUGEINT) * 3 AS t,
        |    a.a, ss.s
        |  FROM a, ss),
        |g AS (
        |  SELECT n_subjects, t, a, s,
        |    t * (a - t) - s * 2 AS kappa_num,
        |    (t * t - s) * 2 AS kappa_den
        |  FROM f)
        |SELECT n_subjects, CAST(3 AS BIGINT) AS n_raters,
        |  ROUND(CAST(a - t AS DOUBLE) / (CAST(t AS DOUBLE) * 2.0), 6)
        |    AS po,
        |  ROUND(CAST(s AS DOUBLE) /
        |    (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS pe,
        |  CAST(kappa_num AS VARCHAR) AS kappa_num,
        |  CAST(kappa_den AS VARCHAR) AS kappa_den,
        |  CASE WHEN kappa_den <> 0 THEN
        |    ROUND(CAST(kappa_num AS DOUBLE) / CAST(kappa_den AS DOUBLE), 6)
        |  END AS kappa
        |FROM g""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    // ---- G4 confusion-matrix metrics (one-pass conditional agg) -----------
    QuerySpec("confusion_metrics_events", (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("gold",
          when(col("value") > 100.0, "yes").otherwise("no"))
        .withColumn("pred",
          when(col("event_type").isin("error", "purchase"), "yes")
            .otherwise("no"))
      Metrics.confusionMetrics(e, "pred", "gold")
    },
      """WITH lab AS (
        |  SELECT CASE WHEN value > 100.0 THEN 'yes' ELSE 'no' END AS gold,
        |    CASE WHEN event_type IN ('error','purchase') THEN 'yes' ELSE 'no' END AS pred
        |  FROM events),
        |c AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS crc,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM lab),
        |p AS (
        |  SELECT *,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fp), 6) AS prec,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fn), 6) AS rec,
        |    ROUND(CAST(crc AS DOUBLE) / total, 6) AS acc
        |  FROM c)
        |SELECT total, crc, tp, fn, tn, fp, prec, rec, acc,
        |  ROUND(2.0 * prec * rec / GREATEST(1.0, prec + rec), 6) AS f1_legacy,
        |  ROUND(CASE WHEN prec + rec > 0.0
        |    THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END, 6) AS f1
        |FROM p""".stripMargin),

    // ---- F4 tolerant numeric equality (full extract→compare pipeline) -----
    QuerySpec("tolerant_equality_lineitem", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val delta = (col("l_linenumber") % 5).cast("double") * 0.01
      val pred = concat(lit("qty "),
        (col("l_quantity") + delta).cast("string"))
      val gold = concat(lit("qty "), col("l_quantity").cast("string"))
      li.select(col("l_orderkey"), col("l_linenumber"),
          Metrics.tolerantEquals(pred, gold).as("crc"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  (l_linenumber % 5) IN (0, 1, 2) AS crc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- F4 fraction parsing path -----------------------------------------
    QuerySpec("tolerant_fraction_lineitem", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val pred = concat((col("l_partkey") % 7).cast("string"), lit("/8"))
      val gold = concat((col("l_suppkey") % 7).cast("string"), lit("/8"))
      li.select(col("l_orderkey"), col("l_linenumber"),
          Metrics.tolerantEquals(pred, gold).as("crc"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  (l_partkey % 7) = (l_suppkey % 7) AS crc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- ML eval: Brier decomposition + ECE/MCE of the hashed classifier ---
    // The scalar report card over the calibration curve: probability =
    // exact rational (w_sum + 1000n)/(2000n); Murphy terms fold on the
    // 10-bin dictionary.
    QuerySpec("brier_panel_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      Metrics.brierPanel(
        TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"),
            (col("lang") === "en").cast("long").as("y")), Seq("doc_id"))
          .withColumn("pnum", col("w_sum") + lit(1000L) * col("n_tokens"))
          .withColumn("pden", lit(2000L) * col("n_tokens")),
        "pnum", "pden", "y", 10)
    },
      // the classifier replay (calibration_docs' CTEs) + the Murphy folds
      // over the 10-bin dictionary, every shape mirrored
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    ((CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 1024)
        |      * 2654435761) % 2001 - 1000 AS w
        |  FROM toks),
        |sc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(w) AS BIGINT) AS w_sum
        |  FROM w GROUP BY doc_id),
        |lab AS (
        |  SELECT s.w_sum + 1000 * s.n_tokens AS pn,
        |    2000 * s.n_tokens AS pd,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM sc s JOIN documents d ON s.doc_id = d.doc_id
        |  WHERE 2000 * s.n_tokens > 0),
        |pb AS (
        |  SELECT LEAST((pn * 10) // pd, 9) AS bin,
        |    CAST(pn AS DOUBLE) / CAST(pd AS DOUBLE) AS p, y
        |  FROM lab),
        |bins AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(y) AS BIGINT) AS yb, SUM(p) AS pbs,
        |    SUM((p - CAST(y AS DOUBLE)) * (p - CAST(y AS DOUBLE))) AS sq
        |  FROM pb GROUP BY bin),
        |tot AS (
        |  SELECT CAST(SUM(nb) AS BIGINT) AS n,
        |    CAST(SUM(yb) AS BIGINT) AS ysum, SUM(sq) AS sqsum
        |  FROM bins),
        |f AS (
        |  SELECT t.n, t.ysum, t.sqsum,
        |    SUM(CAST(b.nb AS DOUBLE)
        |      * (b.pbs / CAST(b.nb AS DOUBLE)
        |        - CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE))
        |      * (b.pbs / CAST(b.nb AS DOUBLE)
        |        - CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE))) AS relsum,
        |    SUM(CAST(b.nb AS DOUBLE)
        |      * (CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE)
        |        - CAST(t.ysum AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      * (CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE)
        |        - CAST(t.ysum AS DOUBLE) / CAST(t.n AS DOUBLE))) AS ressum,
        |    SUM(CAST(b.nb AS DOUBLE)
        |      * abs(b.pbs / CAST(b.nb AS DOUBLE)
        |        - CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE))) AS ecesum,
        |    MAX(abs(b.pbs / CAST(b.nb AS DOUBLE)
        |      - CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE))) AS mce
        |  FROM bins b, tot t GROUP BY t.n, t.ysum, t.sqsum)
        |SELECT n,
        |  ROUND(sqsum / CAST(n AS DOUBLE), 6) AS brier,
        |  ROUND(relsum / CAST(n AS DOUBLE), 6) AS reliability,
        |  ROUND(ressum / CAST(n AS DOUBLE), 6) AS resolution,
        |  ROUND((CAST(ysum AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (1.0 - CAST(ysum AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |    AS uncertainty,
        |  ROUND(ecesum / CAST(n AS DOUBLE), 6) AS ece,
        |  ROUND(mce, 6) AS mce
        |FROM f""".stripMargin),

    // ---- isotonic calibration (PAV, exact minimax form) --------------------
    // The FIX beside the brier/ECE measurement: the optimal monotone
    // recalibration map over the same probability bins — fractions
    // ordered by cross-multiplication, nothing float-ordered.
    QuerySpec("isotonic_calibration_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      Metrics.isotonicCalibration(
        TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"),
            (col("lang") === "en").cast("long").as("y")), Seq("doc_id"))
          .withColumn("pnum", col("w_sum") + lit(1000L) * col("n_tokens"))
          .withColumn("pden", lit(2000L) * col("n_tokens")),
        "pnum", "pden", "y", 10)
        .orderBy(col("bin"))
    },
      // PAV replay: same score/label prefix as brier; minimax fractions
      // ordered by cross-multiplied NOT EXISTS dominance
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    ((CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 1024)
        |      * 2654435761) % 2001 - 1000 AS w
        |  FROM toks),
        |sc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(w) AS BIGINT) AS w_sum
        |  FROM w GROUP BY doc_id),
        |lab AS (
        |  SELECT s.w_sum + 1000 * s.n_tokens AS pn,
        |    2000 * s.n_tokens AS pd,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM sc s JOIN documents d ON s.doc_id = d.doc_id
        |  WHERE 2000 * s.n_tokens > 0),
        |bn AS (SELECT LEAST((pn * 10) // pd, 9) AS bin, y FROM lab),
        |bb AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS w,
        |    CAST(SUM(y) AS BIGINT) AS sy
        |  FROM bn GROUP BY 1),
        |ps AS (
        |  SELECT bin, w, sy,
        |    CAST(SUM(w) OVER (ORDER BY bin) AS BIGINT) AS cw,
        |    CAST(SUM(sy) OVER (ORDER BY bin) AS BIGINT) AS cy
        |  FROM bb),
        |iv AS (
        |  SELECT j.bin AS jb, k.bin AS kb,
        |    k.cy - (j.cy - j.sy) AS nm, k.cw - (j.cw - j.w) AS dn
        |  FROM ps j JOIN ps k ON k.bin >= j.bin),
        |cand AS (
        |  SELECT i.bin AS i, iv.jb, iv.kb, iv.nm, iv.dn
        |  FROM ps i JOIN iv ON iv.jb <= i.bin AND iv.kb >= i.bin),
        |mink AS (
        |  SELECT * FROM cand a WHERE NOT EXISTS (
        |    SELECT 1 FROM cand b WHERE b.i = a.i AND b.jb = a.jb
        |      AND (b.nm * a.dn < a.nm * b.dn
        |        OR (b.nm * a.dn = a.nm * b.dn AND b.kb < a.kb)))),
        |fit AS (
        |  SELECT * FROM mink a WHERE NOT EXISTS (
        |    SELECT 1 FROM mink b WHERE b.i = a.i
        |      AND (b.nm * a.dn > a.nm * b.dn
        |        OR (b.nm * a.dn = a.nm * b.dn AND b.jb < a.jb))))
        |SELECT ps.bin, ps.w, ps.sy,
        |  ROUND(CAST(ps.sy AS DOUBLE) / CAST(ps.w AS DOUBLE), 6)
        |    AS raw_rate,
        |  fit.nm AS iso_num, fit.dn AS iso_den,
        |  ROUND(CAST(fit.nm AS DOUBLE) / CAST(fit.dn AS DOUBLE), 6)
        |    AS iso_rate
        |FROM ps JOIN fit ON fit.i = ps.bin
        |ORDER BY ps.bin""".stripMargin),

    // ---- effective sample size of selection weights -------------------------
    // Kish ESS over length-proportional weights — the degenerate-weights
    // alarm a DSIR/temperature reweighting run reads before training.
    QuerySpec("ess_weights_docs", (s, dir) =>
      graft.metrics.Metrics.effectiveSampleSize(
        t(s, dir, "documents"), "n_chars"),
      """WITH b AS (
        |  SELECT CAST(n_chars AS HUGEINT) AS w FROM documents
        |  WHERE n_chars IS NOT NULL),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(w) AS sw, SUM(w * w) AS sww, MAX(w) AS mx FROM b)
        |SELECT n, CAST(sw AS BIGINT) AS sum_w,
        |  CASE WHEN sww > 0 THEN
        |    ROUND((CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
        |      / CAST(sww AS DOUBLE), 6) END AS ess,
        |  CASE WHEN sww > 0 THEN
        |    ROUND((CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
        |      / CAST(sww AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |  END AS ess_frac,
        |  CASE WHEN sw > 0 THEN
        |    ROUND(CAST(mx AS DOUBLE) / CAST(sw AS DOUBLE), 6)
        |  END AS max_w_share
        |FROM s""".stripMargin),

    // ---- SPLIT-CONFORMAL regression interval (numeric coverage row) --------
    // Fixed declared predictor n_chars ≈ 6·n_tokens (the mean-word-length
    // prior); the conformal interval pred ± q_hat needs NO residual
    // distribution assumption — k = ceil((n_cal+1)*0.9)-th smallest
    // calibration |residual|, coverage measured on the disjoint holdout.
    QuerySpec("conformal_regression_docs", (s, dir) =>
      Metrics.conformalRegression(
        t(s, dir, "documents")
          .withColumn("pred",
            TextAnalysis.tokenCount(col("text")).cast("long") * 6L),
        "doc_id", "n_chars", "pred"),
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    6 * len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS pred,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
        |      || ':crg'), 1, 15)) AS BIGINT) % 4 AS sp
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, sp, ABS(n_chars - pred) AS resid FROM b),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM r
        |  WHERE sp = 2),
        |kk AS (SELECT n_cal,
        |  ((n_cal + 1) * 9 + 9) // 10 AS k_rank FROM nc),
        |qq AS (
        |  SELECT MIN(resid) AS q_hat FROM (
        |    SELECT resid, CAST(SUM(cnt) OVER (ORDER BY resid)
        |      AS BIGINT) AS cum
        |    FROM (SELECT resid, CAST(COUNT(*) AS BIGINT) AS cnt
        |          FROM r WHERE sp = 2 GROUP BY resid)) c, kk
        |  WHERE c.cum >= kk.k_rank)
        |SELECT MIN(kk.n_cal) AS n_cal, MIN(kk.k_rank) AS k_rank,
        |  MIN(qq.q_hat) AS q_hat,
        |  CAST(COUNT(h.doc_id) AS BIGINT) AS n_test,
        |  CAST(SUM(CASE WHEN h.resid <= qq.q_hat THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  ROUND(CAST(SUM(CASE WHEN h.resid <= qq.q_hat THEN 1 ELSE 0
        |    END) AS DOUBLE) / COUNT(h.doc_id), 6) AS coverage,
        |  0.9 AS target,
        |  2 * MIN(qq.q_hat) AS interval_width
        |FROM (SELECT * FROM r WHERE sp = 3) h, kk, qq""".stripMargin),

    // ---- Cohen's kappa inter-annotator agreement ---------------------------
    // Two deterministic "annotators" of the same value-band property (the
    // second reads a ±$10 perturbed value) — chance-corrected agreement
    // per event type; the exact cross-multiplied (diag·n − S)/(n² − S).
    QuerySpec("cohens_kappa_events", (s, dir) =>
      graft.metrics.Metrics.cohensKappa(t(s, dir, "events")
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("rater_a",
            when(col("cents") >= 15000, "hi")
              .when(col("cents") >= 5000, "mid").otherwise("lo"))
          .withColumn("pert",
            col("cents") + (col("event_id") % 21 - 10) * 100)
          .withColumn("rater_b",
            when(col("pert") >= 15000, "hi")
              .when(col("pert") >= 5000, "mid").otherwise("lo")),
        "rater_a", "rater_b", Seq("event_type"))
        .orderBy(col("event_type")),
      // kappa cross-multiplies to exact integers: (diag·n − S)/(n² − S)
      """WITH src AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    event_id
        |  FROM events),
        |r AS (
        |  SELECT event_type,
        |    CASE WHEN cents >= 15000 THEN 'vhi'
        |      WHEN cents >= 5000 THEN 'vmid' ELSE 'vlo' END AS a,
        |    CASE WHEN cents + (event_id % 21 - 10) * 100 >= 15000 THEN 'vhi'
        |      WHEN cents + (event_id % 21 - 10) * 100 >= 5000 THEN 'vmid'
        |      ELSE 'vlo' END AS b
        |  FROM src),
        |cells AS (SELECT event_type, a, b, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM r GROUP BY 1, 2, 3),
        |ra AS (SELECT event_type, a AS k, CAST(SUM(c) AS BIGINT) AS ra
        |  FROM cells GROUP BY 1, 2),
        |cb AS (SELECT event_type, b AS k, CAST(SUM(c) AS BIGINT) AS cb
        |  FROM cells GROUP BY 1, 2),
        |pe AS (SELECT event_type, SUM(CAST(ra AS HUGEINT) * cb) AS sumrc
        |  FROM ra JOIN cb USING (event_type, k) GROUP BY 1),
        |base AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS diag
        |  FROM cells GROUP BY 1),
        |f AS (SELECT base.event_type, n, diag,
        |  COALESCE(sumrc, 0) AS s
        |  FROM base LEFT JOIN pe USING (event_type))
        |SELECT event_type, n,
        |  ROUND(CAST(diag AS DOUBLE) / n, 6) AS po,
        |  ROUND(CAST(s AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
        |  CASE WHEN CAST(n AS HUGEINT) * n > s THEN
        |    ROUND(CAST(CAST(diag AS HUGEINT) * n - s AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * n - s AS DOUBLE), 6)
        |  END AS kappa
        |FROM f ORDER BY event_type""".stripMargin),

    fleissKappaDocs,

    // ---- STREAMING Fleiss' kappa (rating-profile counts as Complete-mode
    // state — the kAnonymityCounts shape; the kappa fold replays on drain) ---
    QuerySpec("streaming_fleiss_kappa_docs", (s, dir) => {
      val stream =
        Streams.corpusStream(t(s, dir, "documents"), dir, "documents")
      val prof = Metrics.fleissProfileCounts(qualityRaters(stream),
        Seq("r_len", "r_tok", "r_div"))
      val drained = Streams.runToMemory(prof, "stream_fleiss",
        OutputMode.Complete())
      Metrics.fleissFromProfiles(drained, 3)
    },
      // Fleiss twin: rating-profile count state + kappa fold on drain
      fleissKappaDocs.oracleSql),

    // ---- multi-rater agreement under MISSINGNESS: Krippendorff's alpha ----
    // Two judges abstain on deterministic slices (%11 / %7 — the timeout/
    // sampling shape); units keep whatever ratings remain, <2 drop. Same
    // profile state as Fleiss, the missing-tolerant fold.
    QuerySpec("krippendorff_docs", (s, dir) =>
      Metrics.krippendorffAlpha(
        qualityRaters(t(s, dir, "documents"))
          .withColumn("r_tok",
            when(col("doc_id") % 11 === 0, lit(null).cast("string"))
              .otherwise(col("r_tok")))
          .withColumn("r_div",
            when(col("doc_id") % 7 === 0, lit(null).cast("string"))
              .otherwise(col("r_div"))),
        Seq("r_len", "r_tok", "r_div")),
      // unit-wise m_u/disagreement expressions, L = lcm(1..m-1) = 2 scales
      // the coincidence fractions to exact integers; <2-rating units drop
      """WITH base AS (
        |  SELECT doc_id, n_chars,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS nt,
        |    len(list_distinct(list_filter(
        |      string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0))) AS nd
        |  FROM documents),
        |r AS (
        |  SELECT
        |    CASE WHEN n_chars < 200 THEN 'lo'
        |      WHEN n_chars < 800 THEN 'mid' ELSE 'hi' END AS r0,
        |    CASE WHEN doc_id % 11 = 0 THEN NULL
        |      WHEN nt < 40 THEN 'lo'
        |      WHEN nt < 160 THEN 'mid' ELSE 'hi' END AS r1,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL
        |      WHEN nd * 10 < nt * 5 THEN 'lo'
        |      WHEN nd * 10 < nt * 8 THEN 'mid' ELSE 'hi' END AS r2
        |  FROM base),
        |u AS (
        |  SELECT r0, r1, r2,
        |    CAST(r0 IS NOT NULL AS INT) + CAST(r1 IS NOT NULL AS INT)
        |      + CAST(r2 IS NOT NULL AS INT) AS mu,
        |    CASE WHEN r0 IS NOT NULL AND r1 IS NOT NULL AND r0 <> r1
        |      THEN 1 ELSE 0 END
        |    + CASE WHEN r0 IS NOT NULL AND r2 IS NOT NULL AND r0 <> r2
        |      THEN 1 ELSE 0 END
        |    + CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL AND r1 <> r2
        |      THEN 1 ELSE 0 END AS dis
        |  FROM r),
        |inc AS (SELECT * FROM u WHERE mu >= 2),
        |so AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    SUM(CAST(2 * dis AS HUGEINT) * (2 // (mu - 1))) AS so
        |  FROM inc),
        |marg AS (
        |  SELECT CAST(SUM(nc) AS BIGINT) AS n_ratings,
        |    SUM(CAST(nc AS HUGEINT) * nc) AS snc2
        |  FROM (SELECT k, CAST(COUNT(*) AS BIGINT) AS nc FROM (
        |      SELECT r0 AS k FROM inc WHERE r0 IS NOT NULL
        |      UNION ALL SELECT r1 FROM inc WHERE r1 IS NOT NULL
        |      UNION ALL SELECT r2 FROM inc WHERE r2 IS NOT NULL)
        |    GROUP BY k)),
        |f AS (
        |  SELECT n_units, n_ratings, so,
        |    CAST(n_ratings AS HUGEINT) * n_ratings - snc2 AS se
        |  FROM so, marg),
        |g AS (
        |  SELECT n_units, n_ratings, so, se,
        |    se * 2 - (CAST(n_ratings AS HUGEINT) - 1) * so AS alpha_num,
        |    se * 2 AS alpha_den
        |  FROM f)
        |SELECT n_units, n_ratings,
        |  ROUND(CAST(so AS DOUBLE) / (2.0 * CAST(n_ratings AS DOUBLE)), 6)
        |    AS d_o,
        |  ROUND(CAST(se AS DOUBLE) / (CAST(n_ratings AS DOUBLE)
        |    * (CAST(n_ratings AS DOUBLE) - 1.0)), 6) AS d_e,
        |  CAST(alpha_num AS VARCHAR) AS alpha_num,
        |  CAST(alpha_den AS VARCHAR) AS alpha_den,
        |  CASE WHEN alpha_den <> 0 THEN
        |    ROUND(CAST(alpha_num AS DOUBLE) / CAST(alpha_den AS DOUBLE), 6)
        |  END AS alpha
        |FROM g""".stripMargin),

    // ---- composite: CCNet-style per-language perplexity bucketing ----------
    // Score every document against the corpus's own unigram LM, then split
    // each language into head/upper/lower/tail quartile buckets by score —
    // the filtering shape CCNet runs with a KenLM. Buckets come from the
    // broadcast-quantile join ([[Metrics.quantileBin]]), never a global
    // ntile window.
    QuerySpec("perplexity_buckets_docs", (s, dir) => {
      val scored = TextAnalysis
        .unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
          Seq("doc_id"))
      Metrics.quantileBin(scored, "lang", "avg_logprob")
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("avg_logprob")), 6).as("min_score"),
          round(max(col("avg_logprob")), 6).as("max_score"))
        .orderBy(col("lang"), col("bin"))
    },
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM freq),
        |sc AS (
        |  SELECT t.doc_id, d.lang,
        |    ROUND(AVG(ln(CAST(tf AS DOUBLE) / total)), 6) AS s
        |  FROM tok t JOIN freq USING (token) CROSS JOIN tot
        |  JOIN documents d ON d.doc_id = t.doc_id
        |  GROUP BY t.doc_id, d.lang),
        |q AS (
        |  SELECT lang, quantile_cont(s, 0.25) AS q1, quantile_cont(s, 0.5) AS q2,
        |    quantile_cont(s, 0.75) AS q3
        |  FROM sc GROUP BY lang)
        |SELECT sc.lang,
        |  1 + CAST(sc.s > q.q1 AS INT) + CAST(sc.s > q.q2 AS INT)
        |    + CAST(sc.s > q.q3 AS INT) AS bin,
        |  COUNT(*) AS n_docs,
        |  ROUND(MIN(sc.s), 6) AS min_score,
        |  ROUND(MAX(sc.s), 6) AS max_score
        |FROM sc JOIN q ON sc.lang = q.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- STREAMING two-proportion panel ------------------------------------
    // Event-level twin of the proportions test (chained user-level
    // aggregation is not legal streaming state): the four conditional
    // count moments are associative sums — Complete-mode state — and the
    // z algebra runs over the drained |arms|-row table. Unit = event,
    // success = qualifying purchase, side = even/odd user, group = arm.
    QuerySpec("streaming_proportion_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val units = stream.select((col("user_id") % 3).as("arm"),
        (col("user_id") % 2 === 0).as("side"),
        (col("event_type") === "purchase" && col("value") >= 150.0)
          .as("success"))
      val moments =
        Metrics.proportionMoments(units, "success", "side", Seq("arm"))
      val drained = Streams.runToMemory(moments, "stream_prop",
        OutputMode.Complete())
      Metrics.proportionFromMoments(drained, Seq("arm"))
        .orderBy(col("arm"))
    },
      // event-level proportions twin — no user-level pre-aggregation
      // (chained streaming aggs are illegal), so its oracle is its own
      """WITH u AS (
        |  SELECT user_id % 3 AS arm,
        |    (user_id % 2 = 0) AS side,
        |    (event_type = 'purchase' AND value >= 150.0) AS success
        |  FROM events),
        |g AS (
        |  SELECT arm,
        |    COUNT(*) FILTER (NOT side) AS n_a,
        |    COUNT(*) FILTER (side) AS n_b,
        |    COUNT(*) FILTER (NOT side AND success) AS k_a,
        |    COUNT(*) FILTER (side AND success) AS k_b
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
        |FROM v ORDER BY arm""".stripMargin)
  )
}
