package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.scale.TextAnalysis
import graft.streaming.Streams

import Shared._

/** Tokenizer and n-gram queries: BPE, WordPiece and unigram-LM training and
  * encoding, vocabulary and n-gram statistics, lexical search.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object TokenizerQueries {

  /** Oracle generator for [[TextAnalysis.unigramLmTrain]] at
    * maxPieceLen=3, seedSize=40, pruneFrac=0.25, maxWordLen=24: the
    * forward/backward max-plus Viterbi DPs replay as UNROLLED chained
    * CTEs — one level per word position (24 = the trainer's word-length
    * cap), each carrying the last 3 best scores, all MATERIALIZED.
    * Deliberately NOT `WITH RECURSIVE`: DuckDB 1.0.0 evaluates the
    * recursive form by re-inlining each round's whole upstream chain per
    * recursive row (1550 s at sf0.01), and adding MATERIALIZED to ANY
    * sibling CTE of the recursive members silently changes the result
    * (every occ count collapses to 0). The unrolled plain-CTE form is
    * both correct and ~1 s. All arithmetic is exact longs except the
    * shared micro-rounded ln score expression.
    */
  /** The unigram-LM trainer replay up to the final piece table: every CTE
    * through `p$rounds` / `tv$rounds`, with `docWhere` filtering the
    * training corpus (empty = all documents). Shared by the trainer oracle
    * and the encode oracle (which trains on the %5<>0 split).
    */
  private def unigramTrainCtes(rounds: Int, docWhere: String): String = {
    val NEG = "CAST(-1125899906842624 AS BIGINT)"
    val MaxLen = 24
    def sc(rel: String, cnt: String, tv: String): String =
      s"CAST(round(ln(CAST($cnt + 1 AS DOUBLE) / " +
        s"CAST($tv.tot + $tv.v AS DOUBLE)) * 1e6) AS BIGINT)"
    def dp(name: String, r: Int, fromEnd: Boolean): String = {
      val start = (k: Int) =>
        if (fromEnd) s"len(f.w) - f.j"
        else s"f.j + ${2 - k}"
      val base =
        s"""$name${r}_0 AS MATERIALIZED (
           |  SELECT w, 0 AS j, CAST(0 AS BIGINT) AS b0,
           |    CAST(NULL AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2
           |  FROM words)""".stripMargin
      val levels = (1 to MaxLen).map { j =>
        val joins = (1 to 3).map { k =>
          s"  LEFT JOIN sm$r s$k ON f.j >= ${k - 1} " +
            s"AND s$k.p = substr(f.w, ${start(k)}, $k)"
        }
        val cands = (1 to 3).map { k =>
          val b = k match { case 1 => "f.b0" case 2 => "f.b1"
            case _ => "f.b2" }
          val c = s"COALESCE($b + s$k.sc, $NEG)"
          if (k == 1) c
          else s"CASE WHEN f.j >= ${k - 1} THEN $c ELSE $NEG END"
        }
        s"""$name${r}_$j AS MATERIALIZED (
           |  SELECT f.w, f.j + 1 AS j, greatest(${cands.mkString(",\n    ")}) AS b0,
           |    f.b0 AS b1, f.b1 AS b2
           |  FROM $name${r}_${j - 1} f
           |${joins.mkString("\n")}
           |  WHERE f.j < len(f.w))""".stripMargin
      }
      val union = (0 to MaxLen)
        .map(j => s"SELECT * FROM $name${r}_$j").mkString("\n  UNION ALL ")
      ((base +: levels) :+ s"$name$r AS MATERIALIZED (\n  $union)")
        .mkString(",\n")
    }
    val perRound = (0 until rounds).map { r =>
      s"""tv$r AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS tot,
         |  CAST(COUNT(*) AS BIGINT) AS v FROM p$r),
         |sm$r AS MATERIALIZED (
         |  SELECT pp.p, ${sc("pp", "pp.cnt", "t")} AS sc
         |  FROM p$r pp, tv$r t),
         |${dp("fwd", r, fromEnd = false)},
         |${dp("bwd", r, fromEnd = true)},
         |occ$r AS MATERIALIZED (
         |  SELECT sm.p AS p, CAST(SUM(wd.freq) AS BIGINT) AS cnt
         |  FROM words wd,
         |    UNNEST(range(0, len(wd.w))) AS pi(i),
         |    UNNEST(range(1, 4)) AS pk(k),
         |    fwd$r fi, bwd$r bi, fwd$r fn, sm$r sm
         |  WHERE pk.k <= len(wd.w) - pi.i
         |    AND fi.w = wd.w AND fi.j = pi.i
         |    AND bi.w = wd.w AND bi.j = len(wd.w) - (pi.i + pk.k)
         |    AND fn.w = wd.w AND fn.j = len(wd.w)
         |    AND sm.p = substr(wd.w, CAST(pi.i + 1 AS INT), CAST(pk.k AS INT))
         |    AND fi.b0 + sm.sc + bi.b0 = fn.b0
         |  GROUP BY 1),
         |pc$r AS MATERIALIZED (
         |  SELECT p0.p, COALESCE(o.cnt, 0) AS cnt
         |  FROM (SELECT p FROM p$r) p0 LEFT JOIN occ$r o USING (p)),
         |pm$r AS MATERIALIZED (
         |  SELECT p, cnt, ROW_NUMBER() OVER (ORDER BY cnt, p) AS rk,
         |    COUNT(*) OVER () AS nm
         |  FROM pc$r WHERE len(p) >= 2),
         |p${r + 1} AS MATERIALIZED (
         |  SELECT p, cnt FROM pc$r WHERE len(p) = 1
         |  UNION ALL
         |  SELECT p, cnt FROM pm$r
         |  WHERE rk > CAST(FLOOR(0.25 * nm) AS BIGINT))""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0)) AS w FROM documents $docWhere)
       |  WHERE len(w) <= 24 AND len(w) >= 1 GROUP BY w),
       |subs AS MATERIALIZED (
       |  SELECT substr(w, CAST(i AS INT), CAST(k AS INT)) AS p,
       |    CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM words,
       |    UNNEST(range(1, len(w) + 1)) AS a(i),
       |    UNNEST(range(1, 4)) AS b(k)
       |  WHERE k <= len(w) - i + 1
       |  GROUP BY 1),
       |p0 AS MATERIALIZED (
       |  SELECT p, cnt FROM subs WHERE len(p) = 1
       |  UNION ALL
       |  SELECT p, cnt FROM (
       |    SELECT p, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, p) AS rk
       |    FROM subs WHERE len(p) >= 2) WHERE rk <= 40),
       |$perRound,
       |tv$rounds AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS tot,
       |  CAST(COUNT(*) AS BIGINT) AS v FROM p$rounds)""".stripMargin
  }

  private def unigramLmOracle(rounds: Int): String =
    s"""${unigramTrainCtes(rounds, "")}
       |SELECT pr.p AS piece, pr.cnt AS n_count,
       |  CAST(round(ln(CAST(pr.cnt + 1 AS DOUBLE) /
       |    CAST(t.tot + t.v AS DOUBLE)) * 1e6) AS BIGINT) AS logp_micro
       |FROM p$rounds pr, tv$rounds t ORDER BY piece""".stripMargin

  /** Unigram-LM Viterbi ENCODE replay: the trainer CTEs on the %5<>0 split,
    * a combined (score·1024 − 1) step table with the add-one <unk> mass for
    * unseen characters, an unrolled forward max-plus DP over the held-out
    * word dictionary (the trainer's level idiom, forward only), and the
    * per-source token-mass fold — mirrors
    * [[graft.scale.TextAnalysis.unigramEncode]] term for term.
    */
  private def unigramEncodeOracle(rounds: Int): String = {
    val NEG = "CAST(-1125899906842624 AS BIGINT)"
    val MaxLen = 24
    val levels = (1 to MaxLen).map { j =>
      s"""e_$j AS MATERIALIZED (
         |  SELECT f.w, f.j + 1 AS j, greatest(
         |    f.b0 + COALESCE(s1.step, u.step),
         |    CASE WHEN f.j >= 1 THEN COALESCE(f.b1 + s2.step, $NEG)
         |      ELSE $NEG END,
         |    CASE WHEN f.j >= 2 THEN COALESCE(f.b2 + s3.step, $NEG)
         |      ELSE $NEG END) AS b0,
         |    f.b0 AS b1, f.b1 AS b2
         |  FROM e_${j - 1} f
         |  LEFT JOIN sme s1 ON s1.p = substr(f.w, f.j + 1, 1)
         |  LEFT JOIN sme s2 ON f.j >= 1 AND s2.p = substr(f.w, f.j, 2)
         |  LEFT JOIN sme s3 ON f.j >= 2 AND s3.p = substr(f.w, f.j - 1, 3)
         |  CROSS JOIN unkv u
         |  WHERE f.j < len(f.w))""".stripMargin
    }.mkString(",\n")
    val union = (0 to MaxLen).map(j => s"SELECT * FROM e_$j")
      .mkString("\n  UNION ALL ")
    s"""${unigramTrainCtes(rounds, "WHERE doc_id % 5 <> 0")},
       |sme AS MATERIALIZED (
       |  SELECT pp.p, CAST(round(ln(CAST(pp.cnt + 1 AS DOUBLE) /
       |    CAST(t.tot + t.v AS DOUBLE)) * 1e6) AS BIGINT) * 1024 - 1 AS step
       |  FROM p$rounds pp, tv$rounds t),
       |unkv AS MATERIALIZED (
       |  SELECT CAST(round(ln(1.0 / CAST(tot + v AS DOUBLE)) * 1e6)
       |    AS BIGINT) * 1024 - 1 AS step
       |  FROM tv$rounds),
       |hw AS MATERIALIZED (
       |  SELECT g, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT source AS g,
       |      unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |        x -> len(x) > 0)) AS w
       |    FROM documents WHERE doc_id % 5 = 0)
       |  WHERE len(w) <= 24 AND len(w) >= 1 GROUP BY 1, 2),
       |e_0 AS MATERIALIZED (
       |  SELECT w, 0 AS j, CAST(0 AS BIGINT) AS b0,
       |    CAST(NULL AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2
       |  FROM (SELECT DISTINCT w FROM hw)),
       |$levels,
       |eb AS MATERIALIZED (
       |  SELECT w, (-b0) % 1024 AS toks FROM (
       |  $union) WHERE j = len(w))
       |SELECT hw.g AS source, CAST(SUM(hw.cnt) AS BIGINT) AS n_words,
       |  CAST(SUM(hw.cnt * eb.toks) AS BIGINT) AS n_tokens,
       |  CAST(SUM(hw.cnt * len(hw.w)) AS BIGINT) AS n_chars
       |FROM hw JOIN eb USING (w) GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Jensen-Shannon drift replay — shared by the batch query and
    * the streaming twin (the drained Complete-mode (tok, ca, cb)
    * state IS the batch dictionary).
    */
  private def jsDivergenceOracleSql: String =
      """WITH tk AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ina,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |d AS (
        |  SELECT tok, CAST(SUM(ina) AS BIGINT) AS ca,
        |    CAST(SUM(1 - ina) AS BIGINT) AS cb
        |  FROM tk GROUP BY tok),
        |t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS v,
        |    CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb
        |  FROM d),
        |p AS (
        |  SELECT v, na, nb,
        |    CAST(ca + 1 AS DOUBLE) / (na + v) AS pa,
        |    CAST(cb + 1 AS DOUBLE) / (nb + v) AS pb,
        |    (CAST(ca + 1 AS DOUBLE) / (na + v)
        |      + CAST(cb + 1 AS DOUBLE) / (nb + v)) / 2.0 AS m
        |  FROM d, t),
        |q AS (
        |  SELECT v, na, nb,
        |    CAST(ROUND(pa * ln(pa / m) * 1e12) AS BIGINT) AS ta,
        |    CAST(ROUND(pb * ln(pb / m) * 1e12) AS BIGINT) AS tb
        |  FROM p)
        |SELECT v AS n_vocab, na AS n_tokens_a, nb AS n_tokens_b,
        |  CAST(SUM(ta) AS BIGINT) AS kl_a_micro,
        |  CAST(SUM(tb) AS BIGINT) AS kl_b_micro,
        |  ROUND(CAST(SUM(ta) + SUM(tb) AS DOUBLE) / 2e12, 6) AS jsd
        |FROM q GROUP BY 1, 2, 3""".stripMargin

  /** Mechanically unrolled N-round BPE-trainer oracle: DuckDB has no
    * iterate-with-aggregation construct, so each round is its own CTE
    * triple (pair counts → arg-max pair → merged vocab state), chained
    * exactly like the Spark loop in [[TextAnalysis.bpeTrain]] — same
    * U+0001-delimited symbol state, same literal `replace`, same
    * (count desc, pair asc) tiebreak.
    */
  private def bpeTrainOracle(rounds: Int): String = {
    val head =
      """WITH v1 AS (
        |  SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g') AS s,
        |    freq
        |  FROM (
        |    SELECT w, COUNT(*) AS freq
        |    FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> len(x) > 0)) AS w FROM documents)
        |    WHERE NOT contains(w, chr(1))
        |    GROUP BY w))""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val next =
        if (r < rounds)
          s""",
             |v${r + 1} AS (
             |  SELECT replace(s, chr(1) || l || chr(1) || chr(1) || r2 || chr(1),
             |    chr(1) || l || r2 || chr(1)) AS s, freq
             |  FROM v$r CROSS JOIN t$r)""".stripMargin
        else ""
      s""",
         |p$r AS (
         |  SELECT list_extract(sy, CAST(i AS INT)) AS l,
         |    list_extract(sy, CAST(i + 1 AS INT)) AS r2, freq
         |  FROM (SELECT list_filter(string_split(s, chr(1)), x -> len(x) > 0)
         |          AS sy, freq FROM v$r),
         |    UNNEST(range(1, len(sy))) AS u(i)),
         |t$r AS (
         |  SELECT l, r2, CAST(SUM(freq) AS BIGINT) AS c FROM p$r
         |  GROUP BY l, r2 ORDER BY c DESC, l, r2 LIMIT 1)$next""".stripMargin
    }.mkString
    val unions = (1 to rounds).map { r =>
      s"SELECT CAST($r AS INT) AS round, l AS sym_l, r2 AS sym_r, " +
        s"l || r2 AS merged, c AS n_occurrences FROM t$r"
    }.mkString("\nUNION ALL\n")
    s"$head$roundCtes\nSELECT * FROM (\n$unions\n) ORDER BY round"
  }

  /** Encode oracle: the same unrolled trainer CTEs as [[bpeTrainOracle]]
    * but carrying the vocabulary state through the LAST merge (v_{N+1}),
    * then the final vocab becomes the word → token-count dictionary and
    * per-source mass is one join of exploded words against it — the exact
    * SQL mirror of [[TextAnalysis.bpeEncode]].
    */
  /** Shared CTE chain of the BPE-application oracles: trained merges →
    * word→token-count dict → per-`groupCol` encode counts (`enc(g,
    * n_words, n_tokens, n_chars)`).
    */
  private def bpeEncCtes(rounds: Int, groupCol: String): String = {
    val head =
      """WITH v1 AS (
        |  SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g') AS s,
        |    freq
        |  FROM (
        |    SELECT w, COUNT(*) AS freq
        |    FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> len(x) > 0)) AS w FROM documents)
        |    WHERE NOT contains(w, chr(1))
        |    GROUP BY w))""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s""",
         |p$r AS (
         |  SELECT list_extract(sy, CAST(i AS INT)) AS l,
         |    list_extract(sy, CAST(i + 1 AS INT)) AS r2, freq
         |  FROM (SELECT list_filter(string_split(s, chr(1)), x -> len(x) > 0)
         |          AS sy, freq FROM v$r),
         |    UNNEST(range(1, len(sy))) AS u(i)),
         |t$r AS (
         |  SELECT l, r2, CAST(SUM(freq) AS BIGINT) AS c FROM p$r
         |  GROUP BY l, r2 ORDER BY c DESC, l, r2 LIMIT 1),
         |v${r + 1} AS (
         |  SELECT replace(s, chr(1) || l || chr(1) || chr(1) || r2 || chr(1),
         |    chr(1) || l || r2 || chr(1)) AS s, freq
         |  FROM v$r CROSS JOIN t$r)""".stripMargin
    }.mkString
    val tail =
      s""",
         |dict AS (
         |  SELECT replace(s, chr(1), '') AS w,
         |    CAST(len(list_filter(string_split(s, chr(1)), x -> len(x) > 0))
         |      AS BIGINT) AS nt
         |  FROM v${rounds + 1}),
         |wd AS (
         |  SELECT $groupCol AS g,
         |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> len(x) > 0)) AS w
         |  FROM documents),
         |enc AS (
         |  SELECT wd.g, CAST(COUNT(*) AS BIGINT) AS n_words,
         |    CAST(SUM(d.nt) AS BIGINT) AS n_tokens,
         |    CAST(SUM(len(wd.w)) AS BIGINT) AS n_chars
         |  FROM wd JOIN dict d ON wd.w = d.w
         |  WHERE NOT contains(wd.w, chr(1))
         |  GROUP BY 1)""".stripMargin
    s"$head$roundCtes$tail"
  }

  private def bpeEncodeOracle(rounds: Int): String =
    s"""${bpeEncCtes(rounds, "source")}
       |SELECT g AS source, n_words, n_tokens, n_chars
       |FROM enc ORDER BY 1""".stripMargin

  /** WordPiece-trainer CTE chain: the BPE chain with each round's
    * arg-max over the exact quantized likelihood gain — per round a
    * symbol-count CTE joins the pair counts and gain_q =
    * floor(c·1e12/(cl·cr)) rides HUGEINT (mirrors
    * [[TextAnalysis.wordpieceTrainWithVocab]] term for term, including
    * the (gain desc, count desc, pair asc) tiebreak).
    */
  private def wordpieceCtes(rounds: Int): String = {
    val head =
      """WITH v1 AS MATERIALIZED (
        |  SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g') AS s,
        |    freq
        |  FROM (
        |    SELECT w, COUNT(*) AS freq
        |    FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> len(x) > 0)) AS w FROM documents)
        |    WHERE NOT contains(w, chr(1))
        |    GROUP BY w))""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s""",
         |sc$r AS (
         |  SELECT sym, CAST(SUM(freq) AS BIGINT) AS sc FROM (
         |    SELECT unnest(list_filter(string_split(s, chr(1)),
         |      x -> len(x) > 0)) AS sym, freq
         |    FROM v$r)
         |  GROUP BY sym),
         |p$r AS (
         |  SELECT list_extract(sy, CAST(i AS INT)) AS l,
         |    list_extract(sy, CAST(i + 1 AS INT)) AS r2, freq
         |  FROM (SELECT list_filter(string_split(s, chr(1)), x -> len(x) > 0)
         |          AS sy, freq FROM v$r),
         |    UNNEST(range(1, len(sy))) AS u(i)),
         |t$r AS (
         |  SELECT pc.l, pc.r2, pc.c,
         |    CAST(CAST(pc.c AS HUGEINT) * 1000000000000
         |      // (CAST(a.sc AS HUGEINT) * b.sc) AS BIGINT) AS gain_q
         |  FROM (SELECT l, r2, CAST(SUM(freq) AS BIGINT) AS c FROM p$r
         |        GROUP BY l, r2) pc
         |  JOIN sc$r a ON a.sym = pc.l
         |  JOIN sc$r b ON b.sym = pc.r2
         |  ORDER BY gain_q DESC, pc.c DESC, pc.l, pc.r2 LIMIT 1),
         |v${r + 1} AS MATERIALIZED (
         |  SELECT replace(s, chr(1) || l || chr(1) || chr(1) || r2 || chr(1),
         |    chr(1) || l || r2 || chr(1)) AS s, freq
         |  FROM v$r CROSS JOIN t$r)""".stripMargin
    }.mkString
    s"$head$roundCtes"
  }

  private def wordpieceTrainOracle(rounds: Int): String = {
    val unions = (1 to rounds).map { r =>
      s"SELECT CAST($r AS INT) AS round, l AS sym_l, r2 AS sym_r, " +
        s"l || r2 AS merged, c AS n_occurrences, gain_q FROM t$r"
    }.mkString("\nUNION ALL\n")
    s"${wordpieceCtes(rounds)}\nSELECT * FROM (\n$unions\n) ORDER BY round"
  }

  private def wordpieceEncodeOracle(rounds: Int): String =
    s"""${wordpieceCtes(rounds)},
       |dict AS (
       |  SELECT replace(s, chr(1), '') AS w,
       |    CAST(len(list_filter(string_split(s, chr(1)), x -> len(x) > 0))
       |      AS BIGINT) AS nt
       |  FROM v${rounds + 1}),
       |wd AS (
       |  SELECT source AS g,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0)) AS w
       |  FROM documents),
       |enc AS (
       |  SELECT wd.g, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(d.nt) AS BIGINT) AS n_tokens,
       |    CAST(SUM(len(wd.w)) AS BIGINT) AS n_chars
       |  FROM wd JOIN dict d ON wd.w = d.w
       |  WHERE NOT contains(wd.w, chr(1))
       |  GROUP BY 1)
       |SELECT g AS source, n_words, n_tokens, n_chars
       |FROM enc ORDER BY 1""".stripMargin

  // ratio/relative-fertility float expressions mirror
  // TextAnalysis.tokenizerFertility verbatim (the benford bit-parity rule)
  private def tokenizerFertilityOracle(rounds: Int): String =
    s"""${bpeEncCtes(rounds, "lang")},
       |tot AS (
       |  SELECT CAST(SUM(n_words) AS BIGINT) AS tw,
       |    CAST(SUM(n_tokens) AS BIGINT) AS tt FROM enc)
       |SELECT g AS lang, n_words, n_tokens, n_chars,
       |  ROUND(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
       |    AS fertility,
       |  ROUND(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
       |    AS chars_per_token,
       |  ROUND((CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE))
       |    / (CAST(tt AS DOUBLE) / CAST(tw AS DOUBLE)), 6)
       |    AS fertility_rel
       |FROM enc, tot ORDER BY lang""".stripMargin

  /** Vocabulary-richness replay — shared with its token-dictionary-
    * state streaming twin.
    */
  private val vocabRichnessOracle: String =
    """WITH tok AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text),
      |      '\s+'), x -> len(x) > 0)) AS w
      |    FROM documents) GROUP BY 1),
      |ag AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS vocab,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM tok)
      |SELECT n_tokens, vocab, f1, f2,
      |  vocab * 1000000 + (f1 * (f1 - 1)) // (2 * (f2 + 1)) * 1000000
      |    + ((f1 * (f1 - 1)) % (2 * (f2 + 1))) * 1000000
      |      // (2 * (f2 + 1)) AS chao1_micro,
      |  (f1 * 1000000) // n_tokens AS gt_unseen_micro
      |FROM ag""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- scale: token counting ---------------------------------------------
    QuerySpec("token_count_docs", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
          size(TextAnalysis.regexTokens(col("text"))).as("n_re_tokens"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- corpus statistics: Zipf-law fit over token frequencies ------------
    QuerySpec("zipf_fit_docs", (s, dir) =>
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", 100),
      """WITH tok AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |cnt AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
        |top AS (SELECT token, freq FROM cnt ORDER BY freq DESC, token LIMIT 100),
        |q AS (
        |  SELECT
        |    CAST(round(ln(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token)
        |      AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
        |    CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS ly
        |  FROM top),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
        |    CAST(SUM(lx * ly) AS BIGINT) AS sxy,
        |    CAST(SUM(lx * lx) AS BIGINT) AS sxx
        |  FROM q)
        |SELECT n AS n_terms,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0.0), 6) AS slope,
        |  ROUND((CAST(sy AS DOUBLE)
        |    - (CAST(n * sxy - sx * sy AS DOUBLE)
        |       / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0.0))
        |      * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) / 1e6, 6) AS intercept
        |FROM s""".stripMargin),

    // ---- corpus statistics: n-gram diversity (distinct-1/2/3 ratios) -------
    QuerySpec("ngram_diversity_docs", (s, dir) =>
      TextAnalysis.ngramDiversity(t(s, dir, "documents"), "text", 3)
        .orderBy(col("n")),
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT 1 AS n, COALESCE(t[i], '') AS g
        |  FROM toks, UNNEST(range(1, greatest(len(t), 1) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT 2 AS n,
        |    concat(COALESCE(t[i], ''), COALESCE(' ' || t[i+1], '')) AS g
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT 3 AS n,
        |    concat(COALESCE(t[i], ''), COALESCE(' ' || t[i+1], ''),
        |           COALESCE(' ' || t[i+2], '')) AS g
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)),
        |cnt AS (SELECT n, g, COUNT(*) AS c FROM grams GROUP BY n, g)
        |SELECT n, CAST(SUM(c) AS BIGINT) AS total_ngrams,
        |  COUNT(*) AS distinct_ngrams,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
        |    AS distinct_ratio
        |FROM cnt GROUP BY n ORDER BY n""".stripMargin),

    // ---- corpus statistics: vocabulary coverage curve (tokenizer budget) ---
    QuerySpec("vocab_coverage_docs", (s, dir) =>
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text", 200)
        .orderBy(col("rank")),
      """WITH tok AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |cnt AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
        |top AS (SELECT token, freq FROM cnt ORDER BY freq DESC, token LIMIT 200)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT)
        |    AS rank,
        |  token, freq,
        |  ROUND(CAST(SUM(freq) OVER (ORDER BY freq DESC, token) AS DOUBLE)
        |    / CAST((SELECT SUM(freq) FROM cnt) AS DOUBLE), 6) AS coverage
        |FROM top ORDER BY rank""".stripMargin),

    // ---- corpus statistics: top-k tokens (explode → count → topk) ----------
    QuerySpec("top_tokens_docs", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20),
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),

    // ---- scale: corpus-frequency rarity score ------------------------------
    QuerySpec("corpus_freq_docs", (s, dir) =>
      TextAnalysis.corpusFrequencyScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |  ROUND(CAST(CAST(SUM(f.cnt) AS BIGINT) AS DOUBLE) / COUNT(*), 6)
        |    AS avg_tok_freq
        |FROM tok t JOIN freq f ON t.tok = f.tok
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    // ---- scale: TF·rarity top-terms per document (log-free tf-idf) ---------
    QuerySpec("tfidf_top_terms_docs", (s, dir) =>
      TextAnalysis.rarityTopTerms(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rk")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |dt AS (
        |  SELECT doc_id, t[i] AS term, COUNT(*) AS tf
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
        |  GROUP BY doc_id, t[i]),
        |dfreq AS (SELECT term, COUNT(*) AS df_cnt FROM dt GROUP BY term),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT dt.doc_id, dt.term, dt.tf, dfreq.df_cnt,
        |    ROUND(CAST(dt.tf * n.n_docs AS DOUBLE) / dfreq.df_cnt, 6) AS score
        |  FROM dt JOIN dfreq USING (term) CROSS JOIN n),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, term, CAST(tf AS BIGINT) AS tf,
        |  CAST(df_cnt AS BIGINT) AS df_cnt, score
        |FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),

    // ---- corpus bigram conditional stats (collocation mining) --------------
    QuerySpec("bigram_stats_docs", (s, dir) =>
      TextAnalysis.bigramStats(t(s, dir, "documents"), "text", 20),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |bg0 AS (
        |  SELECT concat(t[i], COALESCE(' ' || t[i+1], '')) AS bg
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1) + 1)) AS u(i)),
        |bg AS (
        |  SELECT bg, string_split(bg, ' ')[1] AS w1 FROM bg0
        |  WHERE len(string_split(bg, ' ')) = 2),
        |c AS (SELECT bg, w1, COUNT(*) AS cnt FROM bg GROUP BY bg, w1),
        |l AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS w1_cnt FROM c GROUP BY w1)
        |SELECT c.bg, c.cnt, l.w1_cnt,
        |  ROUND(CAST(c.cnt AS DOUBLE) / l.w1_cnt, 6) AS p_cond
        |FROM c JOIN l ON c.w1 = l.w1
        |ORDER BY c.cnt DESC, c.bg LIMIT 20""".stripMargin),

    // ---- BPE first-merge pair statistics (tokenizer training step) ---------
    QuerySpec("bpe_merge_docs", (s, dir) =>
      TextAnalysis.bpeMergeStats(t(s, dir, "documents"), "text", 20),
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS w
        |  FROM documents),
        |wf AS (SELECT w, COUNT(*) AS freq FROM tok GROUP BY w),
        |p AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
        |  FROM wf, UNNEST(range(1, len(w))) AS u(i)
        |  WHERE len(w) >= 2)
        |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
        |FROM p GROUP BY pair
        |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin),

    // ---- full iterative BPE trainer: 8 merge rounds over the vocab ---------
    // ---- tokenizer training: unigram-LM (SentencePiece) EM-pruning --------
    // Kudo ACL'18 beside the BPE trainer: seed substring vocab, 2 hard-EM
    // rounds of optimal-path counting (exact micro-long max-plus Viterbi,
    // tie-inclusive) with 25% multi-char pruning per round; single chars
    // never pruned (see TextAnalysis.unigramLmTrain).
    QuerySpec("unigram_lm_train_docs", (s, dir) =>
      TextAnalysis.unigramLmTrain(t(s, dir, "documents"), "text",
          3, 40, 2, 0.25, 24)
        .orderBy(col("piece")),
      // the unigram-LM trainer replay: recursive-CTE Viterbi DPs
      unigramLmOracle(2)),

    QuerySpec("bpe_train_docs", (s, dir) =>
      TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", 8)
        .orderBy(col("round")),
      bpeTrainOracle(8)),

    // ---- tokenizer APPLICATION: encode the corpus with the trained BPE -----
    // The merge table is never applied per document: the trainer's final
    // vocabulary becomes a word → token-count dictionary and encoding is
    // one equi-join of exploded words against it. Per-source token mass =
    // the number a shard-packing/budgeting pass actually consumes.
    QuerySpec("bpe_encode_docs", (s, dir) =>
      TextAnalysis.bpeEncode(t(s, dir, "documents"), "source", "text", 8)
        .orderBy(col("source")),
      bpeEncodeOracle(8)),

    // ---- WordPiece trainer (likelihood-gain merges — the BERT tokenizer) ---
    // The BPE loop with score(a,b) = count(ab)/(count(a)·count(b)) as the
    // exact quantized gain_q = floor(c·1e12/(cl·cr)) — a frequent pair of
    // independently-common symbols loses to a rarer better-than-predicted
    // one. Closes the third tokenizer family (BPE ✓, unigram ✓).
    QuerySpec("wordpiece_train_docs", (s, dir) =>
      TextAnalysis.wordpieceTrain(t(s, dir, "documents"), "text", 8)
        .orderBy(col("round")),
      wordpieceTrainOracle(8)),

    // ---- WordPiece APPLICATION (the bpe_encode dictionary-join shape) ------
    QuerySpec("wordpiece_encode_docs", (s, dir) =>
      TextAnalysis.wordpieceEncode(
          t(s, dir, "documents"), "source", "text", 8)
        .orderBy(col("source")),
      wordpieceEncodeOracle(8)),

    // ---- unigram-LM Viterbi ENCODE (the SentencePiece serving path) --------
    // Train the unigram vocab on the %5<>0 split, segment the HELD-OUT
    // %5=0 docs by max-plus Viterbi (ties -> fewest pieces; unseen chars
    // at the add-one <unk> mass), report per-source token mass — closes
    // the train/encode asymmetry with bpe_encode_docs.
    QuerySpec("unigram_encode_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.unigramEncode(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "source", "text", 3, 40, 2)
        .orderBy(col("source"))
    },
      // the encode half: train CTEs on the %5<>0 split + forward Viterbi
      unigramEncodeOracle(2)),

    // ---- tokenizer fertility / multilingual-fairness panel ------------------
    QuerySpec("tokenizer_fertility_docs", (s, dir) =>
      TextAnalysis.tokenizerFertility(
          t(s, dir, "documents"), "lang", "text", 8)
        .orderBy(col("lang")),
      tokenizerFertilityOracle(8)),

    // ---- BM25-weighted retrieval over a fixed query-term set ---------------
    QuerySpec("bm25_search_docs", (s, dir) =>
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("join", "vector", "stream"), 20),
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    CAST(len(list_filter(t, x -> x = 'join')) AS BIGINT) AS tf0,
        |    CAST(len(list_filter(t, x -> x = 'vector')) AS BIGINT) AS tf1,
        |    CAST(len(list_filter(t, x -> x = 'stream')) AS BIGINT) AS tf2
        |  FROM tok),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS total_dl,
        |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM d),
        |s AS (
        |  SELECT doc_id, dl, tf0, tf1, tf2, n_docs, df0, df1, df2,
        |    CAST(total_dl AS DOUBLE) / n_docs AS avgdl
        |  FROM d, g),
        |sc AS (
        |  SELECT doc_id, dl, ROUND(
        |    ((CAST(n_docs AS DOUBLE) - df0 + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
        |      * (CAST(tf0 AS DOUBLE) * 2.25) / (CAST(tf0 AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
        |    + ((CAST(n_docs AS DOUBLE) - df1 + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
        |      * (CAST(tf1 AS DOUBLE) * 2.25) / (CAST(tf1 AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
        |    + ((CAST(n_docs AS DOUBLE) - df2 + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
        |      * (CAST(tf2 AS DOUBLE) * 2.25) / (CAST(tf2 AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))), 6)
        |    AS score
        |  FROM s)
        |SELECT doc_id, dl, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // ---- RAG composite: passage chunks → passage-grain BM25 → top-k --------
    QuerySpec("rag_retrieve_docs", (s, dir) =>
      TextAnalysis.ragRetrieve(t(s, dir, "documents"), "doc_id", "text",
        8, 4, Seq("merge", "window"), 15),
      // passage windows (size 8, stride 4) then the same BM25 form at passage
      // grain — corpus stats computed over passages, like a passage index
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, CAST(i + 1 AS BIGINT) AS win_idx,
        |    t[(i*4+1):(i*4+8)] AS pt
        |  FROM toks, UNNEST(range(0,
        |    CAST(ceil((greatest(len(t) - 7, 1) - 1) / 4.0) AS INT) + 1)) AS u(i)),
        |d AS (
        |  SELECT doc_id, win_idx, array_to_string(pt, ' ') AS passage,
        |    CAST(len(pt) AS BIGINT) AS dl,
        |    CAST(len(list_filter(pt, x -> x = 'merge')) AS BIGINT) AS tf0,
        |    CAST(len(list_filter(pt, x -> x = 'window')) AS BIGINT) AS tf1
        |  FROM w),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS total_dl,
        |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1
        |  FROM d),
        |s AS (
        |  SELECT d.*, n_docs, df0, df1,
        |    CAST(total_dl AS DOUBLE) / n_docs AS avgdl
        |  FROM d, g),
        |sc AS (
        |  SELECT doc_id, win_idx, dl, passage, ROUND(
        |    ((CAST(n_docs AS DOUBLE) - df0 + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
        |      * (CAST(tf0 AS DOUBLE) * 2.25) / (CAST(tf0 AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
        |    + ((CAST(n_docs AS DOUBLE) - df1 + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
        |      * (CAST(tf1 AS DOUBLE) * 2.25) / (CAST(tf1 AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))), 6)
        |    AS score
        |  FROM s)
        |SELECT doc_id, win_idx, dl, score, passage FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id, win_idx LIMIT 15""".stripMargin),

    // ---- Jensen-Shannon lexical drift between corpus halves ----------------
    // Symmetric, bounded, defined on disjoint vocabularies; add-one
    // smoothing over the union vocabulary, per-token KL terms quantized
    // to exact 1e12 micro-longs so the fold is associative.
    QuerySpec("js_divergence_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.jsDivergence(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text")
    },
      jsDivergenceOracleSql),

    // ---- STREAMING Jensen-Shannon lexical drift -----------------------------
    // The per-token side counts are two associative sums — Complete-mode
    // state at vocab-dictionary scale (the vocab_richness twin's class);
    // the quantized fold runs over the drained table, batch oracle
    // verbatim.
    QuerySpec("streaming_js_divergence_docs", (s, dir) => {
      val stream =
        Streams.corpusStream(t(s, dir, "documents"), dir, "documents")
      val counts = TextAnalysis.jsDivergenceCounts(
        stream, "text", col("lang") === "en")
      val drained = Streams.runToMemory(counts, "stream_jsd",
        OutputMode.Complete())
      TextAnalysis.jsDivergenceFromCounts(drained)
    },
      // the twin drains the same (tok, ca, cb) Complete-mode state —
      // one oracle serves both
      jsDivergenceOracleSql),

    // ---- cross-corpus n-gram overlap (diversity / contamination metric) ----
    QuerySpec("ngram_overlap_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.ngramOverlap(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text", 3)
    },
      // same 3-shingle construction as the jaccard oracle, per language side;
      // |intersection| of two DISTINCT sets = inner-join row count
      """WITH ta AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE lang = 'en'),
        |tb AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE lang <> 'en'),
        |sa AS (
        |  SELECT DISTINCT concat(t[i], COALESCE(' ' || t[i+1], ''),
        |    COALESCE(' ' || t[i+2], '')) AS s
        |  FROM ta, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |sb AS (
        |  SELECT DISTINCT concat(t[i], COALESCE(' ' || t[i+1], ''),
        |    COALESCE(' ' || t[i+2], '')) AS s
        |  FROM tb, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |c AS (
        |  SELECT (SELECT COUNT(*) FROM sa) AS n_a,
        |    (SELECT COUNT(*) FROM sb) AS n_b,
        |    (SELECT COUNT(*) FROM sa JOIN sb ON sa.s = sb.s) AS n_common)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_common AS BIGINT) AS n_common,
        |  ROUND(CAST(n_common AS DOUBLE) / n_a, 6) AS overlap_a,
        |  ROUND(CAST(n_common AS DOUBLE) / n_b, 6) AS overlap_b
        |FROM c""".stripMargin),

    // ---- inverted index: per-token document frequency + posting head -------
    QuerySpec("inverted_index_docs", (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text"))))
            .as("token"))
      // collect_list skips nulls, so ranking first bounds the posting
      // buffer at 5 ids per token — a stopword token would otherwise
      // accumulate a corpus-sized array before the slice; the window and
      // the agg share the token exchange
      val byTok = Window.partitionBy(col("token")).orderBy(col("doc_id"))
      tok.withColumn("rn", row_number().over(byTok))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("df"),
          concat_ws(",",
            transform(
              sort_array(collect_list(when(col("rn") <= 5, col("doc_id")))),
              x => x.cast("string"))).as("postings_head"))
        .orderBy(col("df").desc, col("token"))
        .limit(20)
    },
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |r AS (
        |  SELECT token, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        |  FROM tok),
        |g AS (
        |  SELECT token, COUNT(*) AS df,
        |    string_agg(CASE WHEN rn <= 5 THEN CAST(doc_id AS VARCHAR) END,
        |      ',' ORDER BY doc_id) AS postings_head
        |  FROM r GROUP BY token)
        |SELECT token, df, postings_head FROM g
        |ORDER BY df DESC, token LIMIT 20""".stripMargin),

    // ---- text: multi-phrase dictionary tagging -----------------------------
    // FlashText-shape taxonomy tagging: eight query-plan phrases (1-3
    // tokens) matched corpus-wide in ONE tokenize + broadcast join pass.
    QuerySpec("keyword_tags_docs", (s, dir) =>
      TextAnalysis.tagKeywords(t(s, dir, "documents"), "doc_id", "text",
          Seq("hash join", "table scan", "sort merge join", "slow query",
            "data stream", "vector", "fast filter", "group agg"))
        .orderBy(col("doc_id"), col("phrase")),
      // FlashText replay: phrase_search_docs' anchor algebra generalized to
      // a dictionary relation — slot-index join, count-distinct gate.
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, t[i] AS w
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
        |dict(phrase, idx, tok, plen) AS (VALUES
        |  ('hash join', 0, 'hash', 2), ('hash join', 1, 'join', 2),
        |  ('table scan', 0, 'table', 2), ('table scan', 1, 'scan', 2),
        |  ('sort merge join', 0, 'sort', 3),
        |  ('sort merge join', 1, 'merge', 3),
        |  ('sort merge join', 2, 'join', 3),
        |  ('slow query', 0, 'slow', 2), ('slow query', 1, 'query', 2),
        |  ('data stream', 0, 'data', 2), ('data stream', 1, 'stream', 2),
        |  ('vector', 0, 'vector', 1),
        |  ('fast filter', 0, 'fast', 2), ('fast filter', 1, 'filter', 2),
        |  ('group agg', 0, 'group', 2), ('group agg', 1, 'agg', 2)),
        |anch AS (
        |  SELECT pos.doc_id, dict.phrase, dict.plen,
        |    pos.p - dict.idx AS anchor,
        |    COUNT(DISTINCT dict.idx) AS slots
        |  FROM pos JOIN dict ON pos.w = dict.tok
        |  WHERE pos.p - dict.idx >= 0
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, phrase, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  CAST(MIN(anchor) AS BIGINT) AS first_pos
        |FROM anch WHERE slots = plen
        |GROUP BY doc_id, phrase ORDER BY doc_id, phrase""".stripMargin),

    // ---- corpus quality: unigram-LM mean log-probability per doc -----------
    QuerySpec("unigram_logprob_docs", (s, dir) =>
      TextAnalysis.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM freq)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(AVG(ln(CAST(tf AS DOUBLE) / total)), 6) AS avg_logprob
        |FROM tok JOIN freq USING (token) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- corpus quality: per-doc character entropy (gibberish filter) ------
    // Shannon entropy over exact per-char counts — base64/binary payloads
    // approach the 6-bit ceiling, template spam approaches 0.
    QuerySpec("char_entropy_docs", (s, dir) =>
      TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents),
        |cc AS (
        |  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ch WHERE len(c) > 0 GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
        |    SUM(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE))) AS clc
        |  FROM cc GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct_chars,
        |  ROUND(log2(CAST(n_chars AS DOUBLE)) - clc / n_chars, 6)
        |    AS entropy_bits
        |FROM agg ORDER BY doc_id""".stripMargin),

    // ---- corpus quality: bigram-LM perplexity per doc ----------------------
    // Add-one-smoothed corpus bigram model, transductive scoring — the
    // KenLM-shaped CCNet bucket signal one rung above unigram_logprob.
    QuerySpec("bigram_perplexity_docs", (s, dir) =>
      TextAnalysis.bigramPerplexity(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
        |bf AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        |  FROM bi GROUP BY 1, 2),
        |uf AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uf),
        |sc AS (
        |  SELECT b.doc_id,
        |    ln(CAST(bf.c12 + 1 AS DOUBLE) / (uf.c1 + v.v)) AS lp
        |  FROM bi b
        |  JOIN bf ON bf.w1 = b.w1 AND bf.w2 = b.w2
        |  JOIN uf ON uf.w1 = b.w1, v)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(-AVG(lp), 6) AS cross_entropy,
        |  ROUND(exp(-AVG(lp)), 6) AS perplexity
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- corpus quality: stupid-backoff trigram LM (split form) ------------
    // Counts from the doc_id%5!=0 train slice; held-out docs score through
    // the tri -> bi -> add-1-unigram backoff chain with per-level hit
    // counts (novel phrasing vs novel vocabulary, as exact integers).
    QuerySpec("stupid_backoff_docs", (s, dir) =>
      TextAnalysis.stupidBackoffScore(t(s, dir, "documents"),
          "doc_id", "text", col("doc_id") % 5 =!= 0)
        .orderBy(col("doc_id")),
      // backoff levels replay as CASE over left-join hits; a trigram hit
      // implies its (w1,w2) bigram, a (w2,w3) hit implies the w2 unigram —
      // the chain never divides by NULL
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t,
        |    (doc_id % 5 <> 0) AS train
        |  FROM documents),
        |uf AS (
        |  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(t) AS w1 FROM toks WHERE train) GROUP BY 1),
        |bf AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS c2
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)
        |  WHERE train GROUP BY 1, 2),
        |tf AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3,
        |    CAST(COUNT(*) AS BIGINT) AS c3
        |  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        |  WHERE train GROUP BY 1, 2, 3),
        |tot AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS v FROM uf),
        |sc AS (
        |  SELECT s.doc_id, tf.c3, b12.c2 AS c12, b23.c2 AS c23,
        |    u2.c1 AS cu2, u3.c1 AS cu3, tot.n, tot.v
        |  FROM (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        |    FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        |    WHERE NOT train) s
        |  LEFT JOIN tf ON tf.w1 = s.w1 AND tf.w2 = s.w2 AND tf.w3 = s.w3
        |  LEFT JOIN bf b12 ON b12.w1 = s.w1 AND b12.w2 = s.w2
        |  LEFT JOIN bf b23 ON b23.w1 = s.w2 AND b23.w2 = s.w3
        |  LEFT JOIN uf u2 ON u2.w1 = s.w2
        |  LEFT JOIN uf u3 ON u3.w1 = s.w3, tot),
        |lp AS (
        |  SELECT doc_id, c3, c23,
        |    CASE WHEN c3 IS NOT NULL THEN
        |        ln(CAST(c3 AS DOUBLE) / CAST(c12 AS DOUBLE))
        |      WHEN c23 IS NOT NULL THEN
        |        ln(0.4 * CAST(c23 AS DOUBLE) / CAST(cu2 AS DOUBLE))
        |      ELSE ln(0.4 * 0.4 * CAST(COALESCE(cu3, 0) + 1 AS DOUBLE)
        |        / CAST(n + v AS DOUBLE)) END AS lp
        |  FROM sc)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CASE WHEN c3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tri_hits,
        |  CAST(SUM(CASE WHEN c3 IS NULL AND c23 IS NOT NULL THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_bi_backoffs,
        |  CAST(SUM(CASE WHEN c3 IS NULL AND c23 IS NULL THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_uni_backoffs,
        |  ROUND(-AVG(lp), 6) AS cross_entropy
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- per-source distribution drift: entropy / KL / JS vs corpus --------
    QuerySpec("domain_divergence_docs", (s, dir) =>
      TextAnalysis.domainDivergence(t(s, dir, "documents"), "source", "text")
        .orderBy(col("domain")),
      // smoothed unigram entropy / KL / JS per source over the vocabulary-
      // complete grid; every ln takes exact-integer-derived args
      """WITH tok AS (
        |  SELECT source AS domain, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |ndt AS (
        |  SELECT domain, token, CAST(COUNT(*) AS BIGINT) AS n_dt
        |  FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT token, CAST(SUM(n_dt) AS BIGINT) AS n_t
        |  FROM ndt GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n_corpus,
        |  CAST(COUNT(*) AS BIGINT) AS v_size FROM vocab),
        |dt AS (SELECT domain, CAST(SUM(n_dt) AS BIGINT) AS n_dom
        |  FROM ndt GROUP BY 1),
        |nd AS (SELECT source AS domain, COUNT(*) AS n_docs
        |  FROM documents GROUP BY 1),
        |grid AS (
        |  SELECT d.domain, v.token, v.n_t, d.n_dom, t.n_corpus, t.v_size,
        |    COALESCE(n.n_dt, 0) AS c_d
        |  FROM vocab v CROSS JOIN dt d
        |  LEFT JOIN ndt n ON n.domain = d.domain AND n.token = v.token
        |  CROSS JOIN tot t),
        |cell AS (
        |  SELECT domain, n_dom, v_size,
        |    CAST(c_d + 1 AS DOUBLE) / CAST(n_dom + v_size AS DOUBLE) AS p,
        |    CAST(n_t + 1 AS DOUBLE) / CAST(n_corpus + v_size AS DOUBLE) AS q,
        |    ln(c_d + 1) - ln(n_dom + v_size) AS lp,
        |    ln(n_t + 1) - ln(n_corpus + v_size) AS lq
        |  FROM grid),
        |c2 AS (SELECT *, ln(p + q) - ln(2.0) AS lm FROM cell),
        |agg AS (
        |  SELECT domain, MAX(n_dom) AS n_tokens, MAX(v_size) AS vocab_size,
        |    ROUND(-SUM(p * lp), 6) AS entropy,
        |    ROUND(SUM(p * (lp - lq)), 6) AS kl_vs_corpus,
        |    ROUND(SUM((p * (lp - lm) + q * (lq - lm)) / 2.0), 6) AS js_vs_corpus
        |  FROM c2 GROUP BY 1)
        |SELECT a.domain, nd.n_docs, a.n_tokens, a.vocab_size, a.entropy,
        |  a.kl_vs_corpus, a.js_vs_corpus
        |FROM agg a JOIN nd USING (domain) ORDER BY a.domain""".stripMargin),

    // ---- collocation mining: top bigram PMI (count-floored) ----------------
    QuerySpec("pmi_pairs_docs", (s, dir) =>
      TextAnalysis.pmiTopPairs(t(s, dir, "documents"), "text", 5L, 50),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |bi AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
        |bic AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |uni AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(len(t)) AS BIGINT) AS T,
        |    CAST(SUM(GREATEST(len(t) - 1, 0)) AS BIGINT) AS B
        |  FROM toks)
        |SELECT w1 || ' ' || w2 AS bg, cnt, u1.c AS c1, u2.c AS c2,
        |  round(ln((CAST(cnt AS DOUBLE) * T * T)
        |    / (CAST(B AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
        |FROM bic JOIN uni u1 ON u1.w = w1 JOIN uni u2 ON u2.w = w2, tot
        |ORDER BY pmi DESC, bg LIMIT 50""".stripMargin),

    // ---- positional-index phrase search ------------------------------------
    // Exact token-sequence search via anchor voting over a single-pass
    // positional posting list ("slow hash batch" is a recurring corpus
    // trigram at every sf).
    QuerySpec("phrase_search_docs", (s, dir) =>
      TextAnalysis.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
          "slow hash batch")
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, t[i] AS w
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
        |hits AS (
        |  SELECT a0.doc_id, a0.p AS anchor
        |  FROM pos a0
        |  JOIN pos a1 ON a1.doc_id = a0.doc_id AND a1.p = a0.p + 1
        |    AND a1.w = 'hash'
        |  JOIN pos a2 ON a2.doc_id = a0.doc_id AND a2.p = a0.p + 2
        |    AND a2.w = 'batch'
        |  WHERE a0.w = 'slow')
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  CAST(MIN(anchor) AS BIGINT) AS first_pos
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- STREAMING vocabulary richness (token dictionary as state) --------
    QuerySpec("streaming_vocab_richness_docs", (s, dir) => {
      val stream =
        Streams.corpusStream(t(s, dir, "documents"), dir, "documents")
      val counts = stream
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val drained = Streams.runToMemory(counts, "stream_rich",
        OutputMode.Complete())
      TextAnalysis.vocabRichnessFromCounts(drained)
    },
      // richness twin: vocab-bounded token dictionary state, same fold
      vocabRichnessOracle),

    // ---- chi-square token drift (which tokens moved between corpora) ------
    // English vs non-English halves of the corpus: the top-25 tokens by the
    // 2x2 chi-square — the drift panel that NAMES the movers, complementing
    // domain_divergence's distribution-level scores.
    QuerySpec("token_drift_docs", (s, dir) =>
      TextAnalysis.tokenDrift(t(s, dir, "documents")
          .withColumn("side", col("lang") === "en"),
        "text", "side", 25),
      """WITH toks AS (
        |  SELECT (lang = 'en') AS s,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS token
        |  FROM documents),
        |counts AS (
        |  SELECT token, COUNT(*) FILTER (NOT s) AS k_a,
        |    COUNT(*) FILTER (s) AS k_b
        |  FROM toks GROUP BY token),
        |tot AS (SELECT SUM(k_a) AS na, SUM(k_b) AS nb FROM counts),
        |chi AS (
        |  SELECT token, k_a, k_b,
        |    CASE WHEN (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) *
        |        CAST(k_a + k_b AS DOUBLE) *
        |        CAST(na + nb - k_a - k_b AS DOUBLE)) > 0
        |      THEN ROUND(
        |        ((CAST(k_a AS DOUBLE) * CAST(nb - k_b AS DOUBLE)
        |            - CAST(na - k_a AS DOUBLE) * CAST(k_b AS DOUBLE))
        |          * (CAST(k_a AS DOUBLE) * CAST(nb - k_b AS DOUBLE)
        |            - CAST(na - k_a AS DOUBLE) * CAST(k_b AS DOUBLE))
        |          * CAST(na + nb AS DOUBLE))
        |        / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |          * CAST(k_a + k_b AS DOUBLE)
        |          * CAST(na + nb - k_a - k_b AS DOUBLE)), 6)
        |      ELSE 0.0 END AS chi2
        |  FROM counts, tot),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY chi2 DESC, token) AS rk,
        |    token, k_a, k_b, chi2
        |  FROM chi)
        |SELECT rk, token, k_a, k_b, chi2 FROM r WHERE rk <= 25
        |ORDER BY rk""".stripMargin),

    // ---- Heaps'-law vocabulary-growth curve --------------------------------
    // Cumulative distinct types vs cumulative tokens over doc-order
    // buckets — the dedup-health / tokenizer-budget curve.
    QuerySpec("heaps_law_docs", (s, dir) =>
      TextAnalysis.heapsLaw(t(s, dir, "documents"), "doc_id", "text", 50)
        .orderBy(col("bucket")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, unnest(t) AS token FROM toks),
        |pb AS (
        |  SELECT doc_id // 50 AS bucket, CAST(COUNT(*) AS BIGINT) AS ntok,
        |    COUNT(DISTINCT doc_id) AS n_docs
        |  FROM occ GROUP BY 1),
        |ft AS (
        |  SELECT token, MIN(doc_id) // 50 AS fb FROM occ GROUP BY token),
        |nv AS (SELECT fb AS bucket, CAST(COUNT(*) AS BIGINT) AS vnew
        |  FROM ft GROUP BY fb)
        |SELECT pb.bucket, pb.n_docs,
        |  CAST(SUM(pb.ntok) OVER (ORDER BY pb.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS tokens_cum,
        |  CAST(SUM(COALESCE(nv.vnew, 0)) OVER (ORDER BY pb.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS vocab_cum
        |FROM pb LEFT JOIN nv ON nv.bucket = pb.bucket
        |ORDER BY pb.bucket""".stripMargin),

    // ---- vocabulary richness: Chao1 + Good-Turing unseen mass -------------
    // Species-richness view of the token distribution: singleton/doubleton
    // tail -> chao1 lower bound on total vocabulary and the Good-Turing
    // probability the next token is new — exact micro-longs from the
    // frequency-of-frequencies dictionary.
    QuerySpec("vocab_richness_docs", (s, dir) =>
      TextAnalysis.vocabRichness(t(s, dir, "documents"), "text"),
      // vocab richness: frequency-of-frequencies fold, floored micro
      vocabRichnessOracle)
  )
}
