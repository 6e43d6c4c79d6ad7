package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.scale.TextAnalysis
import graft.streaming.Streams

import Shared._

/** Generation-evaluation queries: pass@k, ROUGE-2, chrF, BLEU, WER and CER.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object EvalQueries {

  /** BLEU-4 replay: per n = 1..4, the rouge2-oracle gram construction
    * (ragged concat_ws over possibly-NULL positional indexes) on both
    * sides, clipped overlap + candidate gram mass per (doc, n), then the
    * fixed-order p_n/BP/geomean algebra — quotients first, logs summed
    * left-to-right, divide by 4.0, BP last, round 6. `corpus = true`
    * sums the exact counts over segments before the identical algebra.
    */
  private def bleuOracleSql(corpus: Boolean): String = {
    val maxN = 4
    def gramCtes(side: String, src: String): String =
      (1 to maxN).map { n =>
        val cols = (0 until n).map(j =>
          if (j == 0) "t[CAST(i AS INT)]"
          else s"t[CAST(i + $j AS INT)]").mkString(", ")
        s""",
           |${side}g$n AS (
           |  SELECT doc_id, concat_ws(' ', $cols) AS g
           |  FROM $src,
           |    UNNEST(range(1, GREATEST(len(t) - ${n - 1}, 1) + 1)) AS u(i)),
           |${side}c$n AS (
           |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM ${side}g$n GROUP BY 1, 2)""".stripMargin
      }.mkString
    val perN = (1 to maxN).map { n =>
      s""",
         |ct$n AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS ct
         |  FROM cc$n GROUP BY 1),
         |ov$n AS (
         |  SELECT r.doc_id, CAST(SUM(LEAST(r.cnt, c.cnt)) AS BIGINT) AS ov
         |  FROM rc$n r JOIN cc$n c ON c.doc_id = r.doc_id AND c.g = r.g
         |  GROUP BY 1)""".stripMargin
    }.mkString
    val joins = (1 to maxN).map(n =>
      s"  JOIN ct$n ON ct$n.doc_id = lens.doc_id\n" +
        s"  LEFT JOIN ov$n ON ov$n.doc_id = lens.doc_id").mkString("\n")
    val ctCols = (1 to maxN).map(n =>
      s"    ct$n.ct AS ct_$n, COALESCE(ov$n.ov, 0) AS ov_$n")
      .mkString(",\n")
    val head =
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> len(x) > 0) AS t
         |  FROM documents${
           if (corpus) "\n  WHERE doc_id % 5 = 0" else ""}),
         |candt AS (SELECT doc_id, t[1:12] AS t FROM toks)${
           gramCtes("r", "toks")}${gramCtes("c", "candt")}$perN,
         |lens AS (
         |  SELECT c.doc_id, CAST(len(c.t) AS BIGINT) AS clen,
         |    CAST(len(r.t) AS BIGINT) AS rlen
         |  FROM candt c JOIN toks r ON r.doc_id = c.doc_id),
         |pern AS (
         |  SELECT lens.doc_id, lens.clen, lens.rlen,
         |$ctCols
         |  FROM lens
         |$joins)""".stripMargin
    def algebra(src: String): String = {
      val lnSum = (1 to maxN).map(n =>
        s"ln(CAST(ov_$n AS DOUBLE) / ct_$n)").mkString(" + ")
      val anyZero = (1 to maxN).map(n => s"ov_$n = 0").mkString(" OR ")
      val pCols = (1 to maxN).map(n =>
        s"  ROUND(CAST(ov_$n AS DOUBLE) / ct_$n, 6) AS p_$n")
        .mkString(",\n")
      val bpExpr = "CASE WHEN cand_len >= ref_len THEN 1.0 " +
        "ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / cand_len) END"
      s"""SELECT ${if (corpus) "n_segments, " else "doc_id, "}cand_len, ref_len,
         |$pCols,
         |  CASE WHEN cand_len = 0 THEN NULL
         |    ELSE ROUND($bpExpr, 6) END AS bp,
         |  CASE WHEN cand_len = 0 THEN NULL
         |    WHEN $anyZero THEN 0.0
         |    ELSE ROUND(($bpExpr) *
         |      exp(($lnSum) / 4.0), 6) END AS bleu
         |FROM $src""".stripMargin
    }
    if (!corpus)
      s"""$head
         |${algebra(
          "(SELECT doc_id, clen AS cand_len, rlen AS ref_len, " +
            (1 to maxN).flatMap(n => Seq(s"ct_$n", s"ov_$n"))
              .mkString(", ") + " FROM pern)")}
         |ORDER BY doc_id""".stripMargin
    else {
      val sums = (1 to maxN).flatMap(n => Seq(
        s"CAST(SUM(ct_$n) AS BIGINT) AS ct_$n",
        s"CAST(SUM(ov_$n) AS BIGINT) AS ov_$n")).mkString(",\n    ")
      s"""$head,
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_segments,
         |    CAST(SUM(clen) AS BIGINT) AS cand_len,
         |    CAST(SUM(rlen) AS BIGINT) AS ref_len,
         |    $sums
         |  FROM pern)
         |${algebra("tot")}""".stripMargin
    }
  }

  /** Paired-bootstrap BLEU replay: per-segment exact count rows for BOTH
    * candidate prefixes against the shared reference (the bleuOracleSql
    * gram machinery, two candidate sides), then the Poisson(1) ladder
    * evaluated with the REPLICATE AS A COLUMN (UNNEST(range(reps)) —
    * digest index b//3, window shift (b%3)·16, the same PoissonCdf16
    * literals), weighted sums per replicate, and the identical
    * BP·geomean algebra per side. Decisions on rounded deltas; SE in
    * micro-quantized exact integers.
    */
  private def bleuPairedBootstrapOracleSql(reps: Int): String = {
    val maxN = 4
    val cdf = graft.sample.Samplers.PoissonCdf16
    def gramCtes(side: String, src: String): String =
      (1 to maxN).map { n =>
        val cols = (0 until n).map(j =>
          if (j == 0) "t[CAST(i AS INT)]"
          else s"t[CAST(i + $j AS INT)]").mkString(", ")
        s""",
           |${side}g$n AS (
           |  SELECT doc_id, concat_ws(' ', $cols) AS g
           |  FROM $src,
           |    UNNEST(range(1, GREATEST(len(t) - ${n - 1}, 1) + 1)) AS u(i)),
           |${side}c$n AS MATERIALIZED (
           |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM ${side}g$n GROUP BY 1, 2)""".stripMargin
      }.mkString
    def perN(side: String): String = (1 to maxN).map { n =>
      s""",
         |${side}ct$n AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS ct
         |  FROM ${side}c$n GROUP BY 1),
         |${side}ov$n AS (
         |  SELECT r.doc_id, CAST(SUM(LEAST(r.cnt, c.cnt)) AS BIGINT) AS ov
         |  FROM rc$n r JOIN ${side}c$n c
         |    ON c.doc_id = r.doc_id AND c.g = r.g
         |  GROUP BY 1)""".stripMargin
    }.mkString
    val joins = Seq("a", "b").flatMap(s => (1 to maxN).map(n =>
      s"  JOIN ${s}ct$n ON ${s}ct$n.doc_id = lens.doc_id\n" +
        s"  LEFT JOIN ${s}ov$n ON ${s}ov$n.doc_id = lens.doc_id"))
      .mkString("\n")
    val cntCols = Seq("a", "b").flatMap(s => (1 to maxN).map(n =>
      s"    ${s}ct$n.ct AS ${s}_ct_$n, " +
        s"COALESCE(${s}ov$n.ov, 0) AS ${s}_ov_$n")).mkString(",\n")
    val cnts = Seq("ref_len", "a_cand_len", "b_cand_len") ++
      Seq("a", "b").flatMap(s =>
        (1 to maxN).flatMap(n => Seq(s"${s}_ct_$n", s"${s}_ov_$n")))
    val w = {
      val u = "((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)" +
        " || ':c' || CAST(b // 3 AS VARCHAR)), 1, 15)) AS BIGINT)" +
        " >> CAST((b % 3) * 16 AS INT)) & 65535)"
      cdf.zipWithIndex.foldRight("8") { case ((t, k), acc) =>
        s"CASE WHEN $u < $t THEN $k ELSE $acc END"
      }
    }
    def algebra(p: String): String = {
      val lnSum = (1 to maxN).map(n =>
        s"ln(CAST(${p}ov_$n AS DOUBLE) / ${p}ct_$n)").mkString(" + ")
      val anyZero = (1 to maxN).map(n => s"${p}ov_$n = 0").mkString(" OR ")
      val bp = s"CASE WHEN ${p}cand_len >= ref_len THEN 1.0 " +
        s"ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / ${p}cand_len) END"
      s"""CASE WHEN ${p}cand_len = 0 THEN NULL
         |    WHEN $anyZero THEN 0.0
         |    ELSE ROUND(($bp) * exp(($lnSum) / 4.0), 6) END""".stripMargin
    }
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS t
       |  FROM documents WHERE doc_id % 5 = 0),
       |candta AS (SELECT doc_id, t[1:12] AS t FROM toks),
       |candtb AS (SELECT doc_id, t[1:6] AS t FROM toks)${
         gramCtes("r", "toks")}${gramCtes("a", "candta")}${
         gramCtes("b", "candtb")}${perN("a")}${perN("b")},
       |lens AS (
       |  SELECT r.doc_id, CAST(len(r.t) AS BIGINT) AS ref_len,
       |    CAST(len(a.t) AS BIGINT) AS a_cand_len,
       |    CAST(len(b.t) AS BIGINT) AS b_cand_len
       |  FROM toks r
       |  JOIN candta a ON a.doc_id = r.doc_id
       |  JOIN candtb b ON b.doc_id = r.doc_id),
       |pern AS MATERIALIZED (
       |  SELECT lens.doc_id, ref_len, a_cand_len, b_cand_len,
       |$cntCols
       |  FROM lens
       |$joins),
       |pt AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_segments,
       |    ${cnts.map(c => s"CAST(SUM($c) AS BIGINT) AS $c")
           .mkString(",\n    ")}
       |  FROM pern),
       |point AS (
       |  SELECT n_segments, ${algebra("a_")} AS bleu_a,
       |    ${algebra("b_")} AS bleu_b
       |  FROM pt),
       |wts AS (
       |  SELECT pern.*, b AS rep, $w AS w
       |  FROM pern, UNNEST(range(0, $reps)) AS u(b)),
       |rs AS (
       |  SELECT rep,
       |    ${cnts.map(c => s"CAST(SUM($c * w) AS BIGINT) AS $c")
           .mkString(",\n    ")}
       |  FROM wts WHERE w > 0 GROUP BY rep),
       |rb AS (
       |  SELECT rep, ${algebra("a_")} AS ba, ${algebra("b_")} AS bb
       |  FROM rs),
       |rd AS (
       |  SELECT d, CAST(ROUND(d * 1e6) AS BIGINT) AS q
       |  FROM (SELECT ROUND(ba - bb, 6) AS d FROM rb
       |        WHERE ba IS NOT NULL AND bb IS NOT NULL)),
       |panel AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
       |    CASE WHEN COUNT(*) > 1 THEN
       |      ROUND(sqrt(CAST(CAST(COUNT(*) AS HUGEINT) * SUM(q * q)
       |        - SUM(q) * SUM(q) AS DOUBLE)
       |        / (CAST(COUNT(*) AS DOUBLE)
       |           * (CAST(COUNT(*) AS DOUBLE) - 1.0))) / 1e6, 6)
       |    END AS boot_se,
       |    ROUND(MIN(d), 6) AS ci_lo, ROUND(MAX(d), 6) AS ci_hi,
       |    CASE WHEN COUNT(*) > 0 THEN
       |      ROUND(SUM(CASE WHEN d > 0 THEN 1.0 WHEN d = 0 THEN 0.5
       |        ELSE 0.0 END) / COUNT(*), 6) END AS p_a_gt_b
       |  FROM rd)
       |SELECT n_segments, bleu_a, bleu_b,
       |  ROUND(bleu_a - bleu_b, 6) AS delta,
       |  n_reps, boot_se, ci_lo, ci_hi, p_a_gt_b
       |FROM point, panel""".stripMargin
  }

  private def passAtKOracleSql: String =
        """WITH s AS (
          |  SELECT event_id % 97 AS task,
          |    CASE WHEN event_type = 'purchase' AND value >= 120.0
          |      THEN 1 ELSE 0 END AS ok
          |  FROM events),
          |t AS (
          |  SELECT task, CAST(COUNT(*) AS BIGINT) AS n_samples,
          |    CAST(SUM(ok) AS BIGINT) AS n_correct
          |  FROM s GROUP BY task),
          |k AS (SELECT UNNEST([1, 5, 10]) AS k)
          |SELECT task, n_samples, n_correct, CAST(k.k AS INT) AS k,
          |  CASE WHEN n_samples < k.k THEN NULL
          |       WHEN n_samples - n_correct < k.k THEN 1.0
          |       ELSE ROUND(1.0 - list_reduce(
          |         list_prepend(CAST(1.0 AS DOUBLE),
          |           list_transform(range(0, k.k), i ->
          |             CAST(n_samples - n_correct - i AS DOUBLE)
          |               / (n_samples - i))),
          |         (acc, x) -> acc * x), 6) END AS pass_at_k
          |FROM t, k ORDER BY task, k""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- unbiased pass@k over sampled verdicts (Chen et al. 2021) ----------
    // Per task (event_id % 97) with n samples and c passes: pass@k =
    // 1 - prod_{i<k}(n-c-i)/(n-i), left-folded so both engines multiply
    // identical doubles; 1.0 when every size-k draw must pass, NULL
    // below k samples.
    QuerySpec("pass_at_k_events", (s, dir) =>
      graft.scale.Eval.passAtK(
        t(s, dir, "events").select((col("event_id") % 97).as("task"),
          (col("event_type") === "purchase" && col("value") >= 120.0)
            .as("ok")),
        "task", "ok", Seq(1, 5, 10))
        .orderBy(col("task"), col("k")),
      passAtKOracleSql),

    // ---- STREAMING pass@k (per-task counts as Complete-mode state) ---------
    QuerySpec("streaming_pass_at_k_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = graft.scale.Eval.passAtKCounts(
        stream.select((col("event_id") % 97).as("task"),
          (col("event_type") === "purchase" && col("value") >= 120.0)
            .as("ok")),
        "task", "ok")
      val drained = Streams.runToMemory(counts, "stream_passk",
        OutputMode.Complete())
      graft.scale.Eval.passAtKFromCounts(drained, Seq(1, 5, 10))
        .orderBy(col("task"), col("k"))
    },
      passAtKOracleSql),

    // ---- word error rate of a perturbed transcript vs its reference --------
    // Every 7th token miscalled 'xxx' (the deterministic ASR-noise
    // fixture); token-level levenshtein via the per-pair relabeling
    // encode (distance is invariant under any bijective relabeling).
    QuerySpec("wer_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"), expr(
          "CASE WHEN size(tk) = 0 THEN '' ELSE concat_ws(' ', " +
            "transform(sequence(1, size(tk)), i -> CASE WHEN i % 7 = 0 " +
            "THEN 'xxx' ELSE element_at(tk, i) END)) END").as("text"))
      graft.scale.Eval.wer(cand,
        docs.select(col("doc_id"), col("text")), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // WER: the same 7th-token perturbation, per-pair relabeling
      // encode into the private-use plane (any bijection gives the
      // identical distance), same empty-ref / >254-vocab NULL gates
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS rt
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id, list_transform(range(1, len(rt) + 1), i ->
        |    CASE WHEN i % 7 = 0 THEN 'xxx'
        |      ELSE rt[CAST(i AS INT)] END) AS ck
        |  FROM toks),
        |p AS (
        |  SELECT t.doc_id, t.rt, c.ck,
        |    list_distinct(list_concat(t.rt, c.ck)) AS v
        |  FROM toks t JOIN cand c ON c.doc_id = t.doc_id),
        |e AS (
        |  SELECT doc_id,
        |    CAST(len(rt) AS BIGINT) AS n_ref_tokens,
        |    CAST(len(ck) AS BIGINT) AS n_cand_tokens,
        |    CASE WHEN len(rt) = 0 THEN NULL
        |      WHEN len(v) > 254 THEN NULL
        |      ELSE CAST(levenshtein(
        |        array_to_string(list_transform(ck, t ->
        |          chr(CAST(57344 + list_position(v, t) AS INT))), ''),
        |        array_to_string(list_transform(rt, t ->
        |          chr(CAST(57344 + list_position(v, t) AS INT))), ''))
        |        AS BIGINT)
        |    END AS edit_distance
        |  FROM p)
        |SELECT doc_id, n_ref_tokens, n_cand_tokens, edit_distance,
        |  CASE WHEN edit_distance IS NOT NULL THEN
        |    ROUND(CAST(edit_distance AS DOUBLE) / n_ref_tokens, 6)
        |  END AS wer
        |FROM e ORDER BY doc_id""".stripMargin),

    // ---- character error rate of the same perturbed transcript -------------
    // WER's tokenization-free companion (the OCR convention): plain
    // levenshtein on the lowercased texts over reference chars. Both
    // sides truncate to the first 120 chars — CER's domain is
    // utterance-scale transcripts, and the O(|c|*|r|) distance on full
    // document pairs would cost quadratic char mass for no extra
    // coverage (the langid bounded-prefix discipline). The truncation is
    // DECLARED IN THE OUTPUT SURFACE: the score column is cer_first120,
    // not cer — a bounded-prefix CER diverges from full-text CER tools
    // (the chrF declared-variant discipline).
    QuerySpec("cer_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"), expr(
          "substring(CASE WHEN size(tk) = 0 THEN '' ELSE concat_ws(' ', " +
            "transform(sequence(1, size(tk)), i -> CASE WHEN i % 7 = 0 " +
            "THEN 'xxx' ELSE element_at(tk, i) END)) END, 1, 120)")
          .as("text"))
      graft.scale.Eval.cer(cand,
        docs.select(col("doc_id"),
          substring(col("text"), 1, 120).as("text")),
        "doc_id", "text")
        .withColumnRenamed("cer", "cer_first120")
        .orderBy(col("doc_id"))
    },
      // CER: plain codepoint levenshtein on the lowercased pair texts,
      // both sides truncated to the first 120 chars (utterance scale)
      """WITH toks AS (
        |  SELECT doc_id, substring(text, 1, 120) AS rtx,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS rt
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id,
        |    substring(array_to_string(list_transform(
        |      range(1, len(rt) + 1), i ->
        |      CASE WHEN i % 7 = 0 THEN 'xxx'
        |        ELSE rt[CAST(i AS INT)] END), ' '), 1, 120) AS ct
        |  FROM toks),
        |e AS (
        |  SELECT t.doc_id,
        |    CAST(length(lower(t.rtx)) AS BIGINT) AS n_ref_chars,
        |    CAST(length(lower(c.ct)) AS BIGINT) AS n_cand_chars,
        |    CAST(levenshtein(lower(c.ct), lower(t.rtx)) AS BIGINT)
        |      AS edit_distance
        |  FROM toks t JOIN cand c ON c.doc_id = t.doc_id)
        |SELECT doc_id, n_ref_chars, n_cand_chars, edit_distance,
        |  CASE WHEN n_ref_chars > 0 THEN
        |    ROUND(CAST(edit_distance AS DOUBLE) / n_ref_chars, 6)
        |  END AS cer_first120
        |FROM e ORDER BY doc_id""".stripMargin),

    // ---- ROUGE-2 recall of a truncated candidate vs its reference ----------
    // Clipped-multiset bigram overlap over reference mass (Lin 2004);
    // candidate = the doc's first 12 tokens (the deterministic
    // "summary"), reference = the full text — keyed dictionaries + ONE
    // (key, gram) equi-join, never pair mass.
    QuerySpec("rouge2_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Eval.rougeN(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text", 2)
        .orderBy(col("doc_id"))
    },
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |refg AS (
        |  SELECT doc_id,
        |    concat_ws(' ', t[CAST(i AS INT)], t[CAST(i + 1 AS INT)])
        |      AS g
        |  FROM toks,
        |    UNNEST(range(1, GREATEST(len(t) - 1, 1) + 1)) AS u(i)),
        |refc AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS rc
        |  FROM refg GROUP BY 1, 2),
        |candt AS (SELECT doc_id, t[1:12] AS t FROM toks),
        |cg AS (
        |  SELECT doc_id,
        |    concat_ws(' ', t[CAST(i AS INT)], t[CAST(i + 1 AS INT)])
        |      AS g
        |  FROM candt,
        |    UNNEST(range(1, GREATEST(len(t) - 1, 1) + 1)) AS u(i)),
        |cc AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cn
        |  FROM cg GROUP BY 1, 2),
        |rt AS (
        |  SELECT doc_id, CAST(SUM(rc) AS BIGINT) AS n_ref_grams
        |  FROM refc GROUP BY 1),
        |ov AS (
        |  SELECT r.doc_id,
        |    CAST(SUM(LEAST(r.rc, c.cn)) AS BIGINT) AS n_overlap
        |  FROM refc r JOIN cc c ON c.doc_id = r.doc_id AND c.g = r.g
        |  GROUP BY 1)
        |SELECT rt.doc_id, rt.n_ref_grams,
        |  COALESCE(ov.n_overlap, 0) AS n_overlap,
        |  CASE WHEN rt.n_ref_grams > 0 THEN
        |    ROUND(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE)
        |      / rt.n_ref_grams, 6) END AS rouge_2
        |FROM rt LEFT JOIN ov USING (doc_id)
        |ORDER BY rt.doc_id""".stripMargin),

    // ---- chrF of the truncated candidate vs its reference ------------------
    // Character-6-gram F2 (Popović WMT'15) — tokenization-free eval
    // beside rouge2_docs; same keyed-dictionary construction, clipped
    // multiset overlap, P AND R.
    QuerySpec("chrf_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Eval.chrF(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t,
        |    lower(text) AS rt
        |  FROM documents),
        |candt AS (
        |  SELECT doc_id, array_to_string(t[1:12], ' ') AS ct
        |  FROM toks),
        |rg AS (
        |  SELECT doc_id, substring(rt, CAST(i AS INT), 6) AS g
        |  FROM toks,
        |    UNNEST(range(1, GREATEST(len(rt) - 5, 1) + 1)) AS u(i)),
        |rc AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS rcn
        |  FROM rg GROUP BY 1, 2),
        |cg AS (
        |  SELECT doc_id, substring(ct, CAST(i AS INT), 6) AS g
        |  FROM candt,
        |    UNNEST(range(1, GREATEST(len(ct) - 5, 1) + 1)) AS u(i)),
        |cc AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS ccn
        |  FROM cg GROUP BY 1, 2),
        |tt AS (
        |  SELECT r.doc_id, r.nr, c.nc FROM
        |    (SELECT doc_id, CAST(SUM(rcn) AS BIGINT) AS nr FROM rc
        |     GROUP BY 1) r
        |  LEFT JOIN (SELECT doc_id, CAST(SUM(ccn) AS BIGINT) AS nc
        |             FROM cc GROUP BY 1) c USING (doc_id)),
        |ov AS (
        |  SELECT r.doc_id,
        |    CAST(SUM(LEAST(r.rcn, c.ccn)) AS BIGINT) AS nov
        |  FROM rc r JOIN cc c ON c.doc_id = r.doc_id AND c.g = r.g
        |  GROUP BY 1),
        |pr AS (
        |  SELECT tt.doc_id, tt.nr, tt.nc, COALESCE(ov.nov, 0) AS nov,
        |    CAST(COALESCE(ov.nov, 0) AS DOUBLE) / tt.nc AS p,
        |    CAST(COALESCE(ov.nov, 0) AS DOUBLE) / tt.nr AS r
        |  FROM tt LEFT JOIN ov USING (doc_id))
        |SELECT doc_id, nr AS n_ref_grams, nc AS n_cand_grams,
        |  nov AS n_overlap,
        |  ROUND(p, 6) AS chr_p, ROUND(r, 6) AS chr_r,
        |  CASE WHEN nov > 0 THEN ROUND(5.0 * p * r / (4.0 * p + r), 6)
        |    ELSE 0.0 END AS chrf
        |FROM pr ORDER BY doc_id""".stripMargin),

    // ---- BLEU-4 of the truncated candidate vs its reference ----------------
    // Clipped modified precisions n=1..4 + brevity penalty (Papineni
    // ACL'02) — the remaining canonical generation metric beside
    // ROUGE/chrF; one (key, n, gram) dictionary per side, ONE keyed
    // equi-join, conditional-sum pivot.
    QuerySpec("bleu_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Eval.bleu(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      bleuOracleSql(corpus = false)),

    // ---- corpus-level BLEU-4 (summed counts, then the same algebra) --------
    // The Papineni corpus statistic — overlaps/masses/lengths sum over
    // segments BEFORE the precision quotients (not a mean of segment
    // BLEUs, which over-rewards short segments); one diagnostic row.
    // Runs on the doc_id % 5 = 0 segment stratum: the statistic is the
    // deliverable, and re-gramming the full corpus would duplicate
    // bleu_docs' by-construction 4-gram mass in the suite.
    QuerySpec("bleu_corpus_docs", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      graft.scale.Eval.bleuCorpus(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
    },
      bleuOracleSql(corpus = true)),

    // ---- paired bootstrap: is system A's corpus BLEU significantly above
    // B's? (Koehn EMNLP'04) -----------------------------------------------
    // System A = the 12-token-prefix candidate, system B = the 6-token
    // prefix (worse by construction — half the mass, a far harsher
    // brevity penalty); 32 Poisson(1) segment resamples recompute BOTH
    // corpus BLEUs per replicate from the SAME draw over the summed
    // per-segment exact counts. Same doc_id % 5 stratum as
    // bleu_corpus_docs (the statistic is the deliverable; full-corpus
    // re-gramming would triple the suite's 4-gram mass).
    QuerySpec("bleu_paired_bootstrap_docs", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      def prefix(k: Int) = docs.select(col("doc_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, k))
          .as("text"))
      graft.scale.Eval.bleuPairedBootstrap(
        prefix(12), prefix(6),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
    },
      bleuPairedBootstrapOracleSql(32))
  )
}
