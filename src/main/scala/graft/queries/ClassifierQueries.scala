package graft
package queries

import org.apache.spark.sql.functions._

import graft.metrics.Metrics
import graft.scale.TextAnalysis

import Shared._

/** Trained-classifier queries: the document classifier and language-id
  * trainer, their scores, PR/ROC curves, calibration and conformal sets.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object ClassifierQueries {

  /** PR-sweep replay core (no final ordering) — shared by the full
    * curve and the best-F1 operating-point oracle.
    */
  private def prCurveOracleCore: String =
        """WITH toks AS (
          |  SELECT doc_id,
          |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
          |      x -> len(x) > 0)) AS tok
          |  FROM documents),
          |w AS (
          |  SELECT doc_id,
          |    ((CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
          |      % 1024) * 2654435761) % 2001 - 1000 AS w
          |  FROM toks),
          |sc AS (
          |  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score
          |  FROM w GROUP BY doc_id),
          |lab AS (
          |  SELECT doc_id,
          |    CAST(list_contains(list_filter(string_split_regex(
          |      lower(text), '\s+'), x -> len(x) > 0), 'spark')
          |      AS BIGINT) AS y
          |  FROM documents),
          |j AS (SELECT s.score, l.y FROM sc s JOIN lab l USING (doc_id)),
          |d AS (
          |  SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
          |    CAST(SUM(y) AS BIGINT) AS npos
          |  FROM j GROUP BY score),
          |c AS (
          |  SELECT score, n, npos,
          |    CAST(SUM(n) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n,
          |    CAST(SUM(npos) OVER (ORDER BY score DESC) AS BIGINT) AS tp
          |  FROM d),
          |t AS (SELECT CAST(SUM(npos) AS BIGINT) AS pos FROM d)
          |SELECT score AS threshold, cum_n AS n_predicted_pos, tp,
          |  ROUND(CAST(tp AS DOUBLE) / cum_n, 6) AS prec,
          |  CASE WHEN pos > 0 THEN ROUND(CAST(tp AS DOUBLE) / pos, 6)
          |    END AS rec,
          |  ROUND(CAST(2 * tp AS DOUBLE) / (cum_n + pos), 6) AS f1
          |FROM c, t""".stripMargin

  /** Mechanically unrolled perceptron-training oracle (same unroll idiom as
    * [[bpeTrainOracle]]): per epoch, a (scores → errors → gradient → new
    * weights) CTE quartet over the hashed features, starting from the zero
    * vector. `calibration = false` emits the per-epoch log;
    * `calibration = true` emits the exact-integer calibration curve of the
    * final weights (bound B = max|w| from the replayed weight table).
    */
  /** The unrolled exact-integer perceptron epochs shared by every
    * hashed-linear-trainer oracle: each round scores against w_{k-1}
    * over CTEs named `lab`(doc_id, y) and `ft`(doc_id, b, cnt), takes
    * the class-balanced quantized gradient, and emits w_k — the SQL
    * replica of [[graft.scale.TextAnalysis.trainHashedLinearFromFeatures]].
    */
  private def trainerEpochCtes(epochs: Int): String =
    (1 to epochs).map { k =>
      s""",
         |s$k AS MATERIALIZED (
         |  SELECT l.doc_id, l.y,
         |    CAST(COALESCE(SUM(f.cnt * wp.w), 0) AS BIGINT) AS score
         |  FROM lab l
         |  LEFT JOIN ft f ON f.doc_id = l.doc_id
         |  LEFT JOIN w${k - 1} wp ON wp.b = f.b
         |  GROUP BY 1, 2),
         |e$k AS MATERIALIZED (SELECT doc_id, y,
         |  y - CASE WHEN score > 0 THEN 1 ELSE 0 END AS err FROM s$k),
         |n$k AS MATERIALIZED (
         |  SELECT CAST(SUM(CASE WHEN err = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS npe,
         |    CAST(SUM(CASE WHEN err = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nne
         |  FROM e$k),
         |g$k AS MATERIALIZED (
         |  SELECT f.b,
         |    CAST(SUM(CASE WHEN e.err = 1 THEN f.cnt ELSE 0 END) AS BIGINT)
         |      AS pg,
         |    CAST(SUM(CASE WHEN e.err = -1 THEN f.cnt ELSE 0 END) AS BIGINT)
         |      AS ng
         |  FROM ft f JOIN e$k e ON e.doc_id = f.doc_id
         |  WHERE e.err <> 0 GROUP BY f.b),
         |w$k AS MATERIALIZED (
         |  SELECT wp.b, wp.w +
         |    ((CASE WHEN n.npe > 0 THEN (1000 * COALESCE(g.pg, 0)) // n.npe
         |        ELSE 0 END -
         |      CASE WHEN n.nne > 0 THEN (1000 * COALESCE(g.ng, 0)) // n.nne
         |        ELSE 0 END) // $k) AS w
         |  FROM w${k - 1} wp
         |  LEFT JOIN g$k g ON g.b = wp.b
         |  CROSS JOIN n$k n)""".stripMargin
    }.mkString

  /** Trained + heuristic language-ID accuracy replay: the SAME planted
    * multilingual fixture (per-doc language by doc_id % 5, its marker
    * tokens kept under a per-(doc, marker) md5 %3 dropout, prefixed to
    * the body text), the SAME md5(doc:li) %4 split, the char-3-gram
    * bucket features of the first 120 lowered chars through the shared
    * [[trainerEpochCtes]], and the [[graft.scale.TextAnalysis.languageId]]
    * marker-argmax (with its larger-lang tiebreak) binary-ized against
    * the same held-out quarter.
    */
  private def langidTrainedOracleSql(epochs: Int): String = {
    val markerExprs = graft.scale.TextAnalysis.LangMarkers.flatMap {
      case (lang, ms) => ms.zipWithIndex.map { case (m, j) =>
        s"CASE WHEN plang = '$lang' AND CAST(('0x' || " +
          s"substring(md5(CAST(doc_id AS VARCHAR) || ':mk:$lang:$j'), " +
          s"1, 15)) AS BIGINT) % 3 > 0 THEN '$m' END"
      }
    }.mkString(",\n      ")
    val scoreCols = graft.scale.TextAnalysis.LangMarkers.map {
      case (lang, ms) =>
        val lst = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(tk, x -> x IN ($lst))) AS s_$lang"
    }.mkString(",\n    ")
    val head =
      s"""WITH base AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    ['en', 'es', 'de', 'fr', 'zh'][CAST(doc_id % 5 AS INT) + 1]
         |      AS plang
         |  FROM documents),
         |tx AS MATERIALIZED (
         |  SELECT doc_id, plang,
         |    concat_ws(' ',
         |      $markerExprs,
         |      text) AS t2
         |  FROM base),
         |spl AS MATERIALIZED (
         |  SELECT doc_id, CAST(('0x' || substring(md5(CAST(doc_id
         |    AS VARCHAR) || ':li'), 1, 15)) AS BIGINT) % 4 AS sp
         |  FROM base),
         |lab AS MATERIALIZED (
         |  SELECT t.doc_id, CAST(t.plang = 'en' AS BIGINT) AS y
         |  FROM tx t JOIN spl s ON s.doc_id = t.doc_id WHERE s.sp <= 2),
         |sub AS MATERIALIZED (
         |  SELECT t.doc_id, s.sp, substring(lower(t.t2), 1, 120) AS ss
         |  FROM tx t JOIN spl s ON s.doc_id = t.doc_id),
         |gr AS MATERIALIZED (
         |  SELECT doc_id, sp, substring(ss, CAST(i AS INT), 3) AS g
         |  FROM sub,
         |    UNNEST(range(1, GREATEST(length(ss) - 2, 1) + 1)) AS u(i)),
         |ft AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 1024
         |      AS b,
         |    CAST(1 AS BIGINT) AS cnt
         |  FROM gr WHERE sp <= 2 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT doc_id, CAST(1024 AS BIGINT), CAST(1 AS BIGINT)
         |  FROM lab),
         |w0 AS MATERIALIZED (
         |  SELECT CAST(UNNEST(range(0, 1025)) AS BIGINT) AS b,
         |    CAST(0 AS BIGINT) AS w)""".stripMargin
    val tail =
      s""",
         |hx AS MATERIALIZED (
         |  SELECT t.doc_id, CAST(t.plang = 'en' AS BIGINT) AS y,
         |    list_filter(string_split_regex(lower(t.t2), '\\s+'),
         |      x -> len(x) > 0) AS tk
         |  FROM tx t JOIN spl s ON s.doc_id = t.doc_id WHERE s.sp = 3),
         |hsc AS (
         |  SELECT doc_id, y,
         |    $scoreCols
         |  FROM hx),
         |hp AS (
         |  SELECT doc_id, y,
         |    CASE WHEN gmax = 0 THEN 0
         |      WHEN s_zh = gmax THEN 0
         |      WHEN s_fr = gmax THEN 0
         |      WHEN s_es = gmax THEN 0
         |      WHEN s_en = gmax THEN 1
         |      ELSE 0 END AS h
         |  FROM (SELECT *, GREATEST(s_en, s_es, s_de, s_fr, s_zh) AS gmax
         |        FROM hsc)),
         |fts AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 1024
         |      AS b,
         |    CAST(1 AS BIGINT) AS cnt
         |  FROM gr WHERE sp = 3 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT doc_id, CAST(1024 AS BIGINT), CAST(1 AS BIGINT)
         |  FROM hx),
         |sct AS MATERIALIZED (
         |  SELECT x.doc_id,
         |    CAST(COALESCE(SUM(f.cnt * wf.w), 0) AS BIGINT) AS score
         |  FROM hx x
         |  LEFT JOIN fts f ON f.doc_id = x.doc_id
         |  LEFT JOIN w$epochs wf ON wf.b = f.b
         |  GROUP BY 1),
         |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM lab)
         |SELECT MIN(ntr.n_train) AS n_train,
         |  CAST(COUNT(*) AS BIGINT) AS n_test,
         |  CAST(SUM(CASE WHEN (CASE WHEN s.score > 0 THEN 1 ELSE 0 END)
         |    = p.y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  ROUND(CAST(SUM(CASE WHEN (CASE WHEN s.score > 0 THEN 1
         |    ELSE 0 END) = p.y THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 6) AS accuracy,
         |  CAST(SUM(CASE WHEN p.h = p.y THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct_heuristic,
         |  ROUND(CAST(SUM(CASE WHEN p.h = p.y THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*), 6) AS heuristic_accuracy
         |FROM hp p JOIN sct s ON s.doc_id = p.doc_id
         |CROSS JOIN ntr""".stripMargin
    s"$head${trainerEpochCtes(epochs)}$tail"
  }

  private def classifierTrainOracle(
      epochs: Int, mode: String): String = {
    // conformal/mondrian modes train on the md5(doc_id:cf) % 4 <= 1
    // split only; the other modes train on the whole corpus (empty
    // filter)
    val f =
      if (mode == "conformal" || mode == "mondrian")
        "\n  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)" +
          " || ':cf'), 1, 15)) AS BIGINT) % 4 <= 1"
      else ""
    val head =
      """WITH lab AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(list_contains(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0), 'spark') AS BIGINT) AS y
        |  FROM documents__F__),
        |toks AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents__F__),
        |ft AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 1024 AS b,
        |    CAST(1 AS BIGINT) AS cnt
        |  FROM toks GROUP BY 1, 2
        |  UNION ALL
        |  SELECT doc_id, CAST(1024 AS BIGINT), CAST(1 AS BIGINT)
        |  FROM documents__F__),
        |w0 AS MATERIALIZED (SELECT CAST(UNNEST(range(0, 1025)) AS BIGINT) AS b,
        |  CAST(0 AS BIGINT) AS w)""".stripMargin.replace("__F__", f)
    val epochCtes = trainerEpochCtes(epochs)
    val tail =
      if (mode == "train") {
        val unions = (1 to epochs).map { k =>
          s"""SELECT CAST($k AS INT) AS epoch,
             |  CAST(SUM(CASE WHEN err = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
             |  CAST(SUM(CASE WHEN err = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_err,
             |  CAST(SUM(CASE WHEN err = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_err,
             |  ROUND(CAST(SUM(CASE WHEN err = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / COUNT(*), 6) AS accuracy,
             |  (SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM w$k) AS w_abs_sum
             |FROM e$k""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"\nSELECT * FROM (\n$unions\n) ORDER BY epoch"
      } else if (mode == "conformal") {
        // score the NON-train splits with the final weights, take the
        // exact k = ceil((n_cal+1)*9/10) order statistic of calibration
        // nonconformity, measure holdout coverage + set size. Constants
        // fold through MIN (no GROUP BY), so an empty holdout still
        // yields the one diagnostic row — mirroring the Spark agg.
        s""",
           |spl AS MATERIALIZED (
           |  SELECT doc_id, CAST(('0x' || substring(md5(CAST(doc_id
           |    AS VARCHAR) || ':cf'), 1, 15)) AS BIGINT) % 4 AS sp
           |  FROM documents),
           |labA AS MATERIALIZED (
           |  SELECT d.doc_id, s.sp,
           |    CAST(list_contains(list_filter(string_split_regex(
           |      lower(d.text), '\\s+'), x -> len(x) > 0), 'spark')
           |      AS BIGINT) AS y
           |  FROM documents d JOIN spl s ON s.doc_id = d.doc_id
           |  WHERE s.sp >= 2),
           |ftA AS MATERIALIZED (
           |  SELECT doc_id,
           |    CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
           |      % 1024 AS b,
           |    CAST(1 AS BIGINT) AS cnt
           |  FROM (
           |    SELECT d.doc_id, unnest(list_filter(string_split_regex(
           |      lower(d.text), '\\s+'), x -> len(x) > 0)) AS tok
           |    FROM documents d JOIN spl s ON s.doc_id = d.doc_id
           |    WHERE s.sp >= 2)
           |  GROUP BY 1, 2
           |  UNION ALL
           |  SELECT l.doc_id, CAST(1024 AS BIGINT), CAST(1 AS BIGINT)
           |  FROM labA l),
           |scA AS MATERIALIZED (
           |  SELECT l.doc_id, l.y, l.sp,
           |    CAST(COALESCE(SUM(f.cnt * wf.w), 0) AS BIGINT) AS score
           |  FROM labA l
           |  LEFT JOIN ftA f ON f.doc_id = l.doc_id
           |  LEFT JOIN w$epochs wf ON wf.b = f.b
           |  GROUP BY 1, 2, 3),
           |al AS MATERIALIZED (
           |  SELECT doc_id, sp, score, (1 - 2 * y) * score AS alpha
           |  FROM scA),
           |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM al
           |  WHERE sp = 2),
           |kk AS (SELECT n_cal,
           |  ((n_cal + 1) * 9 + 9) // 10 AS k_rank FROM nc),
           |qq AS (
           |  SELECT MIN(alpha) AS q_hat FROM (
           |    SELECT alpha, CAST(SUM(cnt) OVER (ORDER BY alpha)
           |      AS BIGINT) AS cum
           |    FROM (SELECT alpha, CAST(COUNT(*) AS BIGINT) AS cnt
           |          FROM al WHERE sp = 2 GROUP BY alpha)) c, kk
           |  WHERE c.cum >= kk.k_rank),
           |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM lab)
           |SELECT MIN(ntr.n_train) AS n_train, MIN(kk.n_cal) AS n_cal,
           |  MIN(kk.k_rank) AS k_rank, MIN(qq.q_hat) AS q_hat,
           |  CAST(COUNT(h.doc_id) AS BIGINT) AS n_test,
           |  CAST(SUM(CASE WHEN h.alpha <= qq.q_hat THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_covered,
           |  ROUND(CAST(SUM(CASE WHEN h.alpha <= qq.q_hat THEN 1 ELSE 0
           |    END) AS DOUBLE) / COUNT(h.doc_id), 6) AS coverage,
           |  0.9 AS target,
           |  ROUND(CAST(SUM((CASE WHEN -h.score <= qq.q_hat THEN 1
           |      ELSE 0 END) +
           |    (CASE WHEN h.score <= qq.q_hat THEN 1 ELSE 0 END))
           |    AS DOUBLE) / COUNT(h.doc_id), 6) AS avg_set_size
           |FROM (SELECT * FROM al WHERE sp = 3) h, ntr, kk, qq""".stripMargin
      } else if (mode == "mondrian") {
        // per-class quantile: the same non-train scoring, but the rank
        // runs WITHIN each true class (PARTITION BY y over the
        // calibration alpha dictionary) and coverage is measured per
        // holdout class; a class with k > n_cal reports NULL q_hat and
        // NULL coverage
        s""",
           |spl AS MATERIALIZED (
           |  SELECT doc_id, CAST(('0x' || substring(md5(CAST(doc_id
           |    AS VARCHAR) || ':cf'), 1, 15)) AS BIGINT) % 4 AS sp
           |  FROM documents),
           |labA AS MATERIALIZED (
           |  SELECT d.doc_id, s.sp,
           |    CAST(list_contains(list_filter(string_split_regex(
           |      lower(d.text), '\\s+'), x -> len(x) > 0), 'spark')
           |      AS BIGINT) AS y
           |  FROM documents d JOIN spl s ON s.doc_id = d.doc_id
           |  WHERE s.sp >= 2),
           |ftA AS MATERIALIZED (
           |  SELECT doc_id,
           |    CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
           |      % 1024 AS b,
           |    CAST(1 AS BIGINT) AS cnt
           |  FROM (
           |    SELECT d.doc_id, unnest(list_filter(string_split_regex(
           |      lower(d.text), '\\s+'), x -> len(x) > 0)) AS tok
           |    FROM documents d JOIN spl s ON s.doc_id = d.doc_id
           |    WHERE s.sp >= 2)
           |  GROUP BY 1, 2
           |  UNION ALL
           |  SELECT l.doc_id, CAST(1024 AS BIGINT), CAST(1 AS BIGINT)
           |  FROM labA l),
           |scA AS MATERIALIZED (
           |  SELECT l.doc_id, l.y, l.sp,
           |    CAST(COALESCE(SUM(f.cnt * wf.w), 0) AS BIGINT) AS score
           |  FROM labA l
           |  LEFT JOIN ftA f ON f.doc_id = l.doc_id
           |  LEFT JOIN w$epochs wf ON wf.b = f.b
           |  GROUP BY 1, 2, 3),
           |al AS MATERIALIZED (
           |  SELECT doc_id, y, sp, (1 - 2 * y) * score AS alpha
           |  FROM scA),
           |nc AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS n_cal
           |  FROM al WHERE sp = 2 GROUP BY y),
           |kk AS (SELECT y, n_cal,
           |  ((n_cal + 1) * 9 + 9) // 10 AS k_rank FROM nc),
           |qq AS (
           |  SELECT c.y, MIN(c.alpha) AS q_hat FROM (
           |    SELECT y, alpha, CAST(SUM(cnt) OVER (PARTITION BY y
           |      ORDER BY alpha) AS BIGINT) AS cum
           |    FROM (SELECT y, alpha, CAST(COUNT(*) AS BIGINT) AS cnt
           |          FROM al WHERE sp = 2 GROUP BY y, alpha)) c
           |  JOIN kk ON kk.y = c.y
           |  WHERE c.cum >= kk.k_rank GROUP BY c.y),
           |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM lab)
           |SELECT h.y, MIN(ntr.n_train) AS n_train,
           |  MIN(kk.n_cal) AS n_cal, MIN(kk.k_rank) AS k_rank,
           |  MIN(qq.q_hat) AS q_hat,
           |  CAST(COUNT(*) AS BIGINT) AS n_test,
           |  CASE WHEN MIN(qq.q_hat) IS NOT NULL THEN
           |    CAST(SUM(CASE WHEN h.alpha <= qq.q_hat THEN 1 ELSE 0 END)
           |      AS BIGINT) END AS n_covered,
           |  CASE WHEN MIN(qq.q_hat) IS NOT NULL THEN
           |    ROUND(CAST(SUM(CASE WHEN h.alpha <= qq.q_hat THEN 1
           |      ELSE 0 END) AS DOUBLE) / COUNT(*), 6) END AS coverage,
           |  0.9 AS target
           |FROM (SELECT * FROM al WHERE sp = 3) h
           |LEFT JOIN kk ON kk.y = h.y
           |LEFT JOIN qq ON qq.y = h.y
           |CROSS JOIN ntr
           |GROUP BY h.y ORDER BY h.y""".stripMargin
      } else {
        s""",
           |bnd AS MATERIALIZED (SELECT GREATEST(CAST(1 AS BIGINT), MAX(ABS(w))) AS bv
           |  FROM w$epochs),
           |sc AS MATERIALIZED (
           |  SELECT l.doc_id, l.y,
           |    CAST(COALESCE(SUM(f.cnt * wf.w), 0) AS BIGINT) AS score,
           |    CAST(COALESCE(SUM(f.cnt), 0) AS BIGINT) AS n_feats
           |  FROM lab l
           |  LEFT JOIN ft f ON f.doc_id = l.doc_id
           |  LEFT JOIN w$epochs wf ON wf.b = f.b
           |  GROUP BY 1, 2),
           |binned AS MATERIALIZED (
           |  SELECT ((score + bv * n_feats) * 10) // (2 * bv * n_feats + 1)
           |    AS bin, y, score, n_feats
           |  FROM sc CROSS JOIN bnd)
           |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           |  CASE WHEN SUM(n_feats) > 0
           |    THEN ROUND(CAST(SUM(score) AS DOUBLE) / SUM(n_feats), 6)
           |  END AS mean_score,
           |  CAST(SUM(y) AS BIGINT) AS n_pos,
           |  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate
           |FROM binned GROUP BY bin ORDER BY bin""".stripMargin
      }
    s"$head$epochCtes$tail"
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- ML eval: calibration curve of the hashed linear classifier --------
    // Decile-ish bins by EXACT integer math on (w_sum, n_tokens) — never
    // float bin edges, and the +1000·n offset keeps the dividend
    // non-negative so truncating (Spark DIV) and flooring (DuckDB //)
    // integer division agree.
    QuerySpec("calibration_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("long").as("y")), Seq("doc_id"))
        .withColumn("bin",
          expr("((w_sum + 1000 * n_tokens) * 10) DIV (2001 * n_tokens)"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("w_sum")).as("__tw"), sum(col("n_tokens")).as("__tt"),
          sum(col("y")).as("n_pos"))
        .select(col("bin"), col("n"),
          round(col("__tw").cast("double") / col("__tt"), 6)
            .as("mean_score"),
          col("n_pos"),
          round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"))
        .orderBy(col("bin"))
    },
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
        |  SELECT s.doc_id, s.n_tokens, s.w_sum,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM sc s JOIN documents d ON s.doc_id = d.doc_id),
        |b AS (
        |  SELECT ((w_sum + 1000 * n_tokens) * 10) // (2001 * n_tokens)
        |    AS bin, n_tokens, w_sum, y
        |  FROM lab)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(w_sum) AS DOUBLE) / SUM(n_tokens), 6) AS mean_score,
        |  CAST(SUM(y) AS BIGINT) AS n_pos,
        |  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),

    // ---- classifier TRAINING: exact-integer batch perceptron ---------------
    // Per-epoch log of the distributed training loop (gradient = keyed
    // aggregation over hashed features; driver holds only the 1024-long
    // weight vector). Label: the document contains the token 'spark' — a
    // text-derivable target (the synthetic corpus draws every lang's text
    // from ONE vocabulary, so metadata labels like lang are independent of
    // the features and unlearnable by construction). Every update is exact
    // long arithmetic, so DuckDB replays all five epochs bit-for-bit.
    QuerySpec("classifier_train_docs", (s, dir) =>
      TextAnalysis.trainHashedLinear(t(s, dir, "documents"), "doc_id",
          "text",
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long"))._1
        .orderBy(col("epoch")),
      classifierTrainOracle(8, "train")),

    // ---- calibration curve of the TRAINED classifier -----------------------
    // calibration_docs machinery over learned weights: exact-integer bins
    // from the known bound B = max|w|.
    QuerySpec("classifier_calibration_trained_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val label =
        array_contains(TextAnalysis.tokens(col("text")), "spark").cast("long")
      val w = TextAnalysis.trainHashedLinear(docs, "doc_id", "text", label)._2
      TextAnalysis.trainedCalibration(docs, "doc_id", "text", label, w)
        .orderBy(col("bin"))
    },
      classifierTrainOracle(8, "calibration")),

    // ---- precision-recall operating curve of the quality gate --------------
    // P/R/F1 at EVERY distinct hashed-linear score threshold (predict
    // positive iff w_sum >= t) against the contains-'spark' label — the
    // imbalanced-label view the single-threshold confusion matrix hides.
    QuerySpec("pr_curve_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis
        .hashedLinearScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"),
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long").as("y")), Seq("doc_id"))
      Metrics.prCurve(scored, "w_sum", "y")
        .orderBy(col("threshold").desc)
    },
      s"$prCurveOracleCore ORDER BY threshold DESC"),

    // ---- best-F1 operating point of the quality gate ------------------------
    // The threshold a deployment ships: argmax of the 6-decimal F1 over
    // the PR sweep, ties to the smallest (most permissive) threshold.
    QuerySpec("best_f1_threshold_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis
        .hashedLinearScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"),
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long").as("y")), Seq("doc_id"))
      Metrics.bestF1Threshold(scored, "w_sum", "y")
    },
      s"SELECT * FROM ($prCurveOracleCore) ORDER BY f1 DESC, threshold LIMIT 1"),

    // ---- SPLIT-CONFORMAL coverage for the trained classifier ---------------
    // Train on the md5 %4<=1 split, exact k = ceil((n_cal+1)*0.9) order
    // statistic of calibration nonconformity (the +1 IS the finite-sample
    // guarantee), coverage + prediction-set size measured on the disjoint
    // holdout — the calibrated-confidence row the classifier family lacked.
    QuerySpec("conformal_classifier_docs", (s, dir) =>
      TextAnalysis.conformalClassifier(t(s, dir, "documents"), "doc_id",
        "text",
        array_contains(TextAnalysis.tokens(col("text")), "spark")
          .cast("long")),
      classifierTrainOracle(8, "conformal")),

    // ---- TRAINED language-ID with a measured accuracy grade ----------------
    // Planted multilingual fixture: each doc gets a language by
    // doc_id % 5 and that language's marker tokens (under a per-marker
    // md5 dropout) prefixed to its body text. The char-3-gram perceptron
    // trains on the md5 %4<=2 split and is graded on the held-out
    // quarter SIDE BY SIDE with the marker heuristic — whose en markers
    // ('the', 'a', ...) saturate in every body text, the exact
    // weakness a trained gate fixes.
    QuerySpec("langid_trained_docs", (s, dir) => {
      val plang = expr("element_at(array('en', 'es', 'de', 'fr', 'zh'), " +
        "CAST(doc_id % 5 AS INT) + 1)")
      val markerCols = TextAnalysis.LangMarkers.flatMap {
        case (lang, ms) => ms.zipWithIndex.map { case (m, j) =>
          when(col("plang") === lang &&
            pmod(graft.scale.HashExprs.md5PrefixLong(
              concat(col("doc_id").cast("string"),
                lit(s":mk:$lang:$j")).cast("binary"), 15),
              lit(3L)) > 0L, lit(m))
        }
      }
      val fx = t(s, dir, "documents")
        .select(col("doc_id"), plang.as("plang"), col("text"))
        .select(col("doc_id"), col("plang"),
          concat_ws(" ", markerCols :+ col("text"): _*).as("text"))
      val withPred = TextAnalysis.languageId(fx, "text")
      TextAnalysis.langIdTrained(withPred, "doc_id", "text",
        col("plang") === "en", col("pred_lang") === "en")
    },
      langidTrainedOracleSql(4)),

    // ---- MONDRIAN (class-conditional) conformal coverage -------------------
    // Per-class q_hat with each class's own exact finite-sample rank +
    // per-class MEASURED holdout coverage — marginal conformal can
    // over-cover the majority and under-cover the minority class, the
    // exact skewed-class regime of a quality gate.
    QuerySpec("conformal_mondrian_docs", (s, dir) =>
      TextAnalysis.conformalMondrian(t(s, dir, "documents"), "doc_id",
        "text",
        array_contains(TextAnalysis.tokens(col("text")), "spark")
          .cast("long"))
        .orderBy(col("y")),
      classifierTrainOracle(8, "mondrian")),

    // ---- hashed-feature linear quality classifier (fastText-style gate) ----
    QuerySpec("classifier_score_docs", (s, dir) =>
      TextAnalysis.hashedLinearScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      // same 60-bit md5 token hash simhash uses; bucket→weight is the Knuth
      // multiplicative mix onto [-1000, 1000] — all BIGINT math in both engines
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    ((CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 1024)
        |      * 2654435761) % 2001 - 1000 AS w
        |  FROM toks)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(w) AS BIGINT) AS w_sum,
        |  ROUND(CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) / COUNT(*), 6) AS score,
        |  CAST(SUM(w) AS BIGINT) > 0 AS keep
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- exact per-language ROC-AUC of the quality gate --------------------
    // Mann–Whitney U over the AGGREGATED (lang, score) table — scores are
    // the exact-long w_sum of the hashed linear gate, label = the same
    // text-derived target the classifier-training queries use, so this is
    // the evaluation step of that family. No per-pair materialization.
    QuerySpec("auc_scores_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs
        .select(col("doc_id"), col("lang"),
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long").as("label"))
        .join(TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
          .select(col("doc_id"), col("w_sum")), Seq("doc_id"))
      Metrics.aucExact(labeled, "w_sum", "label", Seq("lang"))
        .orderBy(col("lang"))
    },
      // exact Mann–Whitney AUC from the aggregated (lang, score) table; the
      // θ-join LEFT JOIN accumulates strictly-below negative mass per score
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
        |sc AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS s FROM w GROUP BY 1),
        |lab AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN list_contains(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> len(x) > 0),
        |      'spark') THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |agg AS (
        |  SELECT l.lang, sc.s,
        |    CAST(SUM(l.label) AS BIGINT) AS np,
        |    CAST(SUM(1 - l.label) AS BIGINT) AS nn
        |  FROM lab l JOIN sc USING (doc_id) GROUP BY 1, 2),
        |wb AS (
        |  SELECT a.lang, a.s, a.np, a.nn,
        |    CAST(COALESCE(SUM(b.nn), 0) AS BIGINT) AS nb
        |  FROM agg a LEFT JOIN agg b ON b.lang = a.lang AND b.s < a.s
        |  GROUP BY 1, 2, 3, 4)
        |SELECT lang, CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CAST(SUM(np * (2 * nb + nn)) AS BIGINT) AS u2,
        |  CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
        |    ROUND(CAST(SUM(np * (2 * nb + nn)) AS DOUBLE)
        |      / (2.0 * SUM(np) * SUM(nn)), 6) END AS auc
        |FROM wb GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- language-ID confusion matrix (prediction quality panel) ----------
    // The n-gram lang-ID's predictions vs the labeled lang column: per
    // (true, predicted) cell count + within-class recall share.
    QuerySpec("langid_confusion_docs", (s, dir) => {
      val p = TextAnalysis.languageId(t(s, dir, "documents"), "text")
      val m = p.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val tot = m.groupBy(col("lang")).agg(sum(col("n")).as("__t"))
      m.join(tot, Seq("lang"))
        .select(col("lang"), col("pred_lang"), col("n"),
          round(col("n").cast("double") / col("__t"), 6)
            .as("recall_share"))
        .orderBy(col("lang"), col("pred_lang"))
    },
      // the lang_id_docs prediction CTE, aggregated to the confusion matrix
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(t, x -> x IN ('the','a','and','of','order','fast','small'))) AS s_en,
        |    len(list_filter(t, x -> x IN ('el','la','los','de','que','por'))) AS s_es,
        |    len(list_filter(t, x -> x IN ('der','die','das','und','nicht'))) AS s_de,
        |    len(list_filter(t, x -> x IN ('le','la','les','et','que','pour'))) AS s_fr,
        |    len(list_filter(t, x -> x IN ('de5','shi4','bu4'))) AS s_zh
        |  FROM q),
        |g AS (SELECT *, GREATEST(s_en, s_es, s_de, s_fr, s_zh) AS gmax FROM sc),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN gmax = 0 THEN 'unknown'
        |      WHEN s_zh = gmax THEN 'zh'
        |      WHEN s_fr = gmax THEN 'fr'
        |      WHEN s_es = gmax THEN 'es'
        |      WHEN s_en = gmax THEN 'en'
        |      ELSE 'de' END AS pred_lang
        |  FROM g),
        |m AS (SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |tt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS t FROM m GROUP BY lang)
        |SELECT m.lang, m.pred_lang, m.n,
        |  ROUND(CAST(m.n AS DOUBLE) / tt.t, 6) AS recall_share
        |FROM m JOIN tt ON tt.lang = m.lang
        |ORDER BY m.lang, m.pred_lang""".stripMargin)
  )
}
