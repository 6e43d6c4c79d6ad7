package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.sample.Samplers
import graft.scale.{Dedup, TextAnalysis}
import graft.streaming.Streams

import Shared._

/** Corpus-curation queries over `documents`: quality and language signals,
  * PII scrubbing, sequence packing and sharding, domain mixing and the
  * curation pipelines.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object CorpusQueries {

  /** Shared CTE prefix of the curation-ledger oracles: the
    * curation_pipeline_docs replay chain with per-stage drop attribution
    * (`led` = one row per input document in its unique (stage, reason)
    * class — the same algebra [[graft.scale.Curation.ledger]] runs).
    */
  private val curationLedgerCte: String =
    """WITH tok AS (
      |  SELECT doc_id, source, text,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0) AS t
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, source, t, CAST(len(t) AS BIGINT) AS n_tokens
      |  FROM tok),
      |q AS (SELECT * FROM b WHERE n_tokens >= 20),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY md5(array_to_string(t, ' '))
      |    ORDER BY doc_id) AS rn
      |  FROM q),
      |d AS (SELECT * FROM r WHERE rn = 1),
      |corp AS (SELECT * FROM d WHERE doc_id % 20 <> 0),
      |evsh AS (
      |  SELECT DISTINCT concat(t[i], COALESCE(' ' || t[i+1], ''),
      |    COALESCE(' ' || t[i+2], '')) AS sh
      |  FROM tok, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)
      |  WHERE doc_id % 20 = 0),
      |csh AS (
      |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''),
      |    COALESCE(' ' || t[i+2], '')) AS sh
      |  FROM corp, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
      |bad AS (SELECT DISTINCT c.doc_id FROM csh c JOIN evsh USING (sh)),
      |clean AS (
      |  SELECT * FROM corp
      |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
      |u2 AS (SELECT COUNT(DISTINCT CASE WHEN source NOT IN ('src0', 'src1')
      |  THEN source END) AS n_unw FROM clean),
      |r2 AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      |  FROM clean),
      |mixed AS (
      |  SELECT r2.doc_id, r2.source, r2.n_tokens FROM r2, u2
      |  WHERE r2.rnk <= CASE WHEN r2.source = 'src0'
      |      THEN CAST(FLOOR(CAST(0.25 AS DOUBLE) * 200.0) AS BIGINT)
      |    WHEN r2.source = 'src1'
      |      THEN CAST(FLOOR(CAST(0.125 AS DOUBLE) * 200.0) AS BIGINT)
      |    ELSE CAST(FLOOR((CAST(0.625 AS DOUBLE) /
      |      GREATEST(CAST(u2.n_unw AS DOUBLE), CAST(1.0 AS DOUBLE)))
      |      * 200.0) AS BIGINT) END),
      |led AS (
      |  SELECT doc_id, CAST(1 AS INT) AS stage_idx, 'quality' AS stage,
      |    'too_short' AS reason, n_tokens
      |  FROM b WHERE n_tokens < 20
      |  UNION ALL
      |  SELECT doc_id, 2, 'dedup', 'exact_duplicate', n_tokens
      |  FROM r WHERE rn > 1
      |  UNION ALL
      |  SELECT doc_id, 3, 'decontaminate', 'eval_holdout', n_tokens
      |  FROM d WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id, 3, 'decontaminate', 'contaminated', n_tokens
      |  FROM corp WHERE doc_id IN (SELECT doc_id FROM bad)
      |  UNION ALL
      |  SELECT doc_id, 4, 'mix', 'over_quota', n_tokens
      |  FROM clean WHERE doc_id NOT IN (SELECT doc_id FROM mixed)
      |  UNION ALL
      |  SELECT doc_id, 5, 'kept', 'kept', n_tokens FROM mixed)""".stripMargin

  /** Per-order n-gram CTEs (the `repetition_docs` ragged-edge idiom
    * generalized: concat t[i] with COALESCE'd successors, so docs shorter
    * than n contribute one whole-token-list gram), unioned long-format —
    * the SQL mirror of [[TextAnalysis.gopherRepetition]].
    */
  private def gopherRepetitionOracle(minN: Int, maxN: Int): String = {
    val head =
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents)""".stripMargin
    val perN = (minN to maxN).map { n =>
      val tail = (1 until n)
        .map(j => s"COALESCE(' ' || t[i+$j], '')").mkString(", ")
      s""",
         |g$n AS (
         |  SELECT doc_id, concat(t[i], $tail) AS g
         |  FROM toks,
         |    UNNEST(range(1, greatest(len(t) - ${n - 1}, 1) + 1)) AS u(i)),
         |c$n AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g$n GROUP BY 1, 2),
         |a$n AS (
         |  SELECT doc_id, CAST($n AS INT) AS n,
         |    CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
         |    CAST(MAX(cnt) AS BIGINT) AS top_cnt,
         |    CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT)
         |      AS dup_cnt
         |  FROM c$n GROUP BY 1)""".stripMargin
    }.mkString
    val unions = (minN to maxN).map(n => s"SELECT * FROM a$n")
      .mkString("\nUNION ALL\n")
    s"$head$perN\nSELECT * FROM (\n$unions\n) ORDER BY doc_id, n"
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- scale: text quality features -------------------------------------
    QuerySpec("quality_docs", (s, dir) =>
      TextAnalysis.qualityFeatures(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "n_distinct", "distinct_ratio",
          "stopword_ratio")
        .orderBy(col("doc_id")),
      """WITH q AS (
        |  SELECT doc_id, length(text) AS nc,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |  CAST(len(list_distinct(t)) AS DOUBLE) / GREATEST(1, len(t)) AS distinct_ratio,
        |  CAST(len(list_filter(t, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','from'))) AS DOUBLE)
        |    / GREATEST(1, len(t)) AS stopword_ratio
        |FROM q ORDER BY doc_id""".stripMargin),

    // ---- scale: language-ID heuristic --------------------------------------
    QuerySpec("lang_id_docs", (s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"), "text")
        .select("doc_id", "lang", "pred_lang")
        .orderBy(col("doc_id")),
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(t, x -> x IN ('the','a','and','of','order','fast','small'))) AS s_en,
        |    len(list_filter(t, x -> x IN ('el','la','los','de','que','por'))) AS s_es,
        |    len(list_filter(t, x -> x IN ('der','die','das','und','nicht'))) AS s_de,
        |    len(list_filter(t, x -> x IN ('le','la','les','et','que','pour'))) AS s_fr,
        |    len(list_filter(t, x -> x IN ('de5','shi4','bu4'))) AS s_zh
        |  FROM q),
        |g AS (SELECT *, GREATEST(s_en, s_es, s_de, s_fr, s_zh) AS gmax FROM sc)
        |SELECT doc_id, lang,
        |  CASE WHEN gmax = 0 THEN 'unknown'
        |    WHEN s_zh = gmax THEN 'zh'
        |    WHEN s_fr = gmax THEN 'fr'
        |    WHEN s_es = gmax THEN 'es'
        |    WHEN s_en = gmax THEN 'en'
        |    ELSE 'de' END AS pred_lang
        |FROM g ORDER BY doc_id""".stripMargin),

    // ---- scale: document fingerprints --------------------------------------
    QuerySpec("fingerprint_docs", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.minShingleFingerprint(col("text"), 3).as("min_shingle_fp"))
        .orderBy(col("doc_id")),
      """WITH q AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM q, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |msf AS (SELECT doc_id, MIN(md5(sh)) AS min_shingle_fp FROM sh GROUP BY doc_id)
        |SELECT q.doc_id, md5(array_to_string(t, ' ')) AS fp, msf.min_shingle_fp
        |FROM q JOIN msf ON q.doc_id = msf.doc_id
        |ORDER BY q.doc_id""".stripMargin),

    // ---- scale: concat-and-chunk sequence packing ---------------------------
    // The GPT pretraining manifest: documents laid end-to-end in doc_id
    // order, the token stream cut into 256-token context windows, one
    // row per (chunk, doc piece) with offsets. One globalCumSum scaffold
    // pass + a narrow per-doc sequence() explode — output mass is
    // corpus tokens / 256 + one row per doc.
    QuerySpec("pack_sequences_docs", (s, dir) =>
      TextAnalysis.packSequences(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", 256L)
        .orderBy(col("chunk_id"), col("chunk_offset")),
      """WITH n AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS nt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, nt,
        |    CAST(SUM(nt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM n WHERE nt > 0),
        |p AS (
        |  SELECT doc_id, nt, cum, cum - nt AS st,
        |    UNNEST(range(CAST((cum - nt) // 256 AS BIGINT),
        |      CAST((cum - 1) // 256 + 1 AS BIGINT))) AS chunk_id
        |  FROM c),
        |q AS (
        |  SELECT chunk_id, doc_id,
        |    GREATEST(st, chunk_id * 256) AS ps,
        |    LEAST(cum, (chunk_id + 1) * 256) AS pe, st
        |  FROM p)
        |SELECT chunk_id, doc_id, ps - st AS doc_offset,
        |  ps - chunk_id * 256 AS chunk_offset, pe - ps AS piece_len
        |FROM q ORDER BY chunk_id, chunk_offset""".stripMargin),

    // ---- batching: padding waste, arrival vs length-sorted batches ---------
    QuerySpec("padding_waste_docs", (s, dir) =>
      TextAnalysis.paddingWaste(t(s, dir, "documents"), "doc_id", "text", 32)
        .orderBy(col("strategy")),
      """WITH lens AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0))
        |    AS BIGINT) AS n_tokens
        |  FROM documents),
        |srt AS (
        |  SELECT n_tokens,
        |    (ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1) // 32 AS batch
        |  FROM lens),
        |arr AS (
        |  SELECT n_tokens,
        |    (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 32 AS batch
        |  FROM lens),
        |bs AS (
        |  SELECT 'length_sorted' AS strategy, batch, MAX(n_tokens) AS mx,
        |    SUM(n_tokens) AS sm, COUNT(*) AS c
        |  FROM srt GROUP BY batch
        |  UNION ALL
        |  SELECT 'arrival', batch, MAX(n_tokens), SUM(n_tokens), COUNT(*)
        |  FROM arr GROUP BY batch)
        |SELECT strategy, CAST(COUNT(*) AS BIGINT) AS n_batches,
        |  CAST(SUM(mx * c) AS BIGINT) AS padded_tokens,
        |  CAST(SUM(sm) AS BIGINT) AS real_tokens,
        |  ROUND(CAST(SUM(mx * c) - SUM(sm) AS DOUBLE)
        |    / CAST(SUM(mx * c) AS DOUBLE), 6) AS waste_frac
        |FROM bs GROUP BY strategy ORDER BY strategy""".stripMargin),

    // ---- scale: token-budget shard packing (parallel global cumsum) --------
    QuerySpec("shard_pack_docs", (s, dir) =>
      TextAnalysis.packIntoShards(t(s, dir, "documents"), "doc_id", "text", 1000L)
        .select(col("doc_id"), col("n_tokens"), col("shard_id"))
        .orderBy(col("doc_id")),
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, n_tokens, (cum - n_tokens) // 1000 AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin),

    // ---- BFD sequence packing into fixed context windows -------------------
    // Whole-document packing with power-of-two length buckets: best-fit-
    // decreasing is optimal for divisor-chain sizes (Coffman-Garey-Johnson
    // 1987) and collapses to bins = ceil(volume/C) — exact rounding +
    // tail waste, vs the doc-splitting greedy (shard_pack) and the batch
    // padding account (padding_waste).
    QuerySpec("sequence_pack_docs", (s, dir) =>
      TextAnalysis.bfdPack(t(s, dir, "documents"), "text", 256)
        .orderBy(col("kind"), col("bucket_len")),
      // BFD sequence packing: the divisible-sizes closed form
      """WITH tk AS (
        |  SELECT LEAST(CAST(len(list_filter(string_split_regex(
        |    lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT), 256) AS tl
        |  FROM documents),
        |bk AS (
        |  SELECT tl, CAST(1 AS BIGINT) << list_min(list_filter(
        |    range(0, 9), j -> tl <= CAST(1 AS BIGINT) << j)) AS bl
        |  FROM tk WHERE tl >= 1),
        |agg AS (
        |  SELECT bl AS bucket_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(tl) AS BIGINT) AS sum_tokens,
        |    CAST(COUNT(*) * bl AS BIGINT) AS bucket_tokens
        |  FROM bk GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |    CAST(SUM(sum_tokens) AS BIGINT) AS sum_tokens,
        |    CAST(SUM(bucket_tokens) AS BIGINT) AS bucket_tokens
        |  FROM agg)
        |SELECT 'bucket' AS kind, bucket_len, n_docs, sum_tokens,
        |  bucket_tokens, bucket_tokens - sum_tokens AS round_waste,
        |  CAST(NULL AS BIGINT) AS n_bins,
        |  CAST(NULL AS BIGINT) AS tail_waste
        |FROM agg
        |UNION ALL
        |SELECT 'total', NULL, n_docs, sum_tokens, bucket_tokens,
        |  bucket_tokens - sum_tokens, (bucket_tokens + 255) // 256,
        |  ((bucket_tokens + 255) // 256) * 256 - bucket_tokens
        |FROM tot
        |ORDER BY kind, bucket_len""".stripMargin),

    // ---- BFD packing MANIFEST (the doc -> window assignment) ---------------
    // Contiguous volume layout in (bucket desc, id) order realizes the
    // same BFD packing per-document: divisor-chain buckets mean no doc
    // ever straddles a C-cut (see TextAnalysis.bfdPackManifest proof).
    QuerySpec("sequence_pack_manifest_docs", (s, dir) =>
      TextAnalysis.bfdPackManifest(t(s, dir, "documents"), "doc_id",
          "text", 256)
        .orderBy(col("doc_id")),
      // BFD manifest: cumulative volume in (bucket desc, id) order
      """WITH tk AS (
        |  SELECT doc_id, LEAST(CAST(len(list_filter(string_split_regex(
        |    lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT), 256)
        |    AS tl
        |  FROM documents),
        |bk AS (
        |  SELECT doc_id, tl, CAST(1 AS BIGINT) << list_min(list_filter(
        |    range(0, 9), j -> tl <= CAST(1 AS BIGINT) << j)) AS bl
        |  FROM tk WHERE tl >= 1),
        |cm AS (
        |  SELECT doc_id, tl, bl,
        |    CAST(SUM(bl) OVER (ORDER BY bl DESC, doc_id) AS BIGINT) - bl
        |      AS v
        |  FROM bk)
        |SELECT doc_id, tl AS n_tokens, bl AS bucket_len,
        |  v // 256 AS window_id, v % 256 AS window_off
        |FROM cm ORDER BY doc_id""".stripMargin),

    // ---- shard release manifest (per-shard stats + content checksums) ------
    QuerySpec("shard_manifest_docs", (s, dir) =>
      TextAnalysis.shardManifest(t(s, dir, "documents"), "doc_id", "text",
          1000L)
        .orderBy(col("shard_id")),
      // manifest: shard assignment replays shard_pack's running-sum floor
      // division; the checksum is the table_checksum 8-hex-draw convention
      // over "doc_id|md5(text)"
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT (cum - n_tokens) // 1000 AS shard_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_id, MAX(doc_id) AS last_id,
        |  CAST(SUM(CAST(('0x' || substr(md5(
        |    CAST(doc_id AS VARCHAR) || '|' || md5(text)), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS content_checksum
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- scale: Flesch readability panel ------------------------------------
    QuerySpec("readability_docs", (s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      // vowel-group syllables (floor 1), [.!?]+ sentence runs (floor 1),
      // formula floats mirror TextAnalysis.readability verbatim
      """WITH base AS (
        |  SELECT doc_id,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(t) AS w FROM base),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))
        |      AS BIGINT) AS n_syll
        |  FROM w GROUP BY 1)
        |SELECT b.doc_id, CAST(b.ns AS BIGINT) AS n_sentences,
        |  COALESCE(a.n_words, 0) AS n_words,
        |  COALESCE(a.n_syll, 0) AS n_syllables,
        |  CASE WHEN COALESCE(a.n_words, 0) > 0
        |    THEN ROUND(206.835
        |      - 1.015 * (CAST(a.n_words AS DOUBLE) / CAST(b.ns AS DOUBLE))
        |      - 84.6 * (CAST(a.n_syll AS DOUBLE)
        |        / CAST(a.n_words AS DOUBLE)), 6)
        |  END AS flesch
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),

    // ---- scale: script / writing-system ID ---------------------------------
    // deterministic multi-script garnish per doc_id residue (the pii_scrub
    // synthetic-span precedent) so every class exercises at any sf
    QuerySpec("script_id_docs", (s, dir) =>
      TextAnalysis.scriptId(t(s, dir, "documents")
          .withColumn("tx", concat(col("text"),
            when(col("doc_id") % 5 === 1, lit(" привет мир"))
              .when(col("doc_id") % 5 === 2, lit(" 你好 世界"))
              .when(col("doc_id") % 5 === 3, lit(" αβγ δε"))
              .when(col("doc_id") % 5 === 4, lit(" 0123 456789"))
              .otherwise(lit("")))),
        "doc_id", "tx")
        .orderBy(col("doc_id")),
      // explicit codepoint ranges mirror ScriptRanges; argmax tiebreak =
      // (count DESC, name DESC), the array_max-over-structs semantics
      {
        val ranges = Seq(
          "latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]",
          "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
          "greek" -> "[\\x{0370}-\\x{03FF}]",
          "arabic" -> "[\\x{0600}-\\x{06FF}]",
          "hebrew" -> "[\\x{0590}-\\x{05FF}]",
          "devanagari" -> "[\\x{0900}-\\x{097F}]",
          "cjk" -> "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]",
          "hangul" -> "[\\x{AC00}-\\x{D7AF}\\x{1100}-\\x{11FF}]",
          "digit" -> "[0-9]")
        val cnts = ranges.map { case (n, re) =>
          s"len(tx) - len(regexp_replace(tx, '$re', '', 'g')) AS n_$n"
        }.mkString(",\n    ")
        val unions = ranges.map { case (n, _) =>
          s"SELECT doc_id, n_$n AS s, '$n' AS l FROM c"
        }.mkString("\n  UNION ALL ")
        val outCols = ranges.map { case (n, _) => s"c.n_$n" }.mkString(", ")
        s"""WITH base AS (
           |  SELECT doc_id, text ||
           |    CASE doc_id % 5
           |      WHEN 1 THEN ' привет мир'
           |      WHEN 2 THEN ' 你好 世界'
           |      WHEN 3 THEN ' αβγ δε'
           |      WHEN 4 THEN ' 0123 456789'
           |      ELSE '' END AS tx
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, len(tx) AS n_chars,
           |    $cnts
           |  FROM base),
           |u AS (
           |  $unions),
           |rk AS (
           |  SELECT doc_id, s, l,
           |    ROW_NUMBER() OVER (PARTITION BY doc_id
           |      ORDER BY s DESC, l DESC) AS rk,
           |    SUM(s) OVER (PARTITION BY doc_id) AS tot
           |  FROM u)
           |SELECT c.doc_id, c.n_chars, $outCols,
           |  CASE WHEN r.s > 0 THEN r.l ELSE 'unknown' END AS script,
           |  ROUND(CASE WHEN r.tot > 0 THEN CAST(r.s AS DOUBLE) / r.tot
           |    ELSE 0.0 END, 6) AS script_frac
           |FROM c JOIN rk r ON c.doc_id = r.doc_id AND r.rk = 1
           |ORDER BY c.doc_id""".stripMargin
      }),

    // ---- scale: repetition quality signal (top-bigram fraction) ------------
    QuerySpec("repetition_docs", (s, dir) =>
      TextAnalysis.repetitionScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, concat(t[i], COALESCE(' ' || t[i+1], '')) AS bg
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1) + 1)) AS u(i)),
        |c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bg),
        |a AS (
        |  SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_bigram_n,
        |    CAST(SUM(cnt) AS BIGINT) AS n_bigrams
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, top_bigram_n, n_bigrams,
        |  ROUND(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac
        |FROM a ORDER BY doc_id""".stripMargin),

    // ---- scale: PII scrubbing (synthetic spans injected deterministically) -
    QuerySpec("pii_scrub_docs", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.scrubPii(concat(
            col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@mail.com or 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-1234"))).as("clean_text"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    text || ' contact u' || CAST(doc_id AS VARCHAR) ||
        |      '@mail.com or 555-' ||
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234',
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- scale: checksum-validated PII detection (Luhn + IBAN mod-97) -----
    // Precision upgrade over the shape-only scrub: injected valid/invalid
    // card and IBAN spans per doc_id residue (plus too-short/too-long
    // digit-run decoys) — only checksum-passing candidates flag.
    QuerySpec("pii_luhn_docs", (s, dir) =>
      TextAnalysis.piiChecksums(
        t(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("text"),
              when(col("doc_id") % 7 === 1,
                lit(" card 4532015112830366 ok"))
                .when(col("doc_id") % 7 === 2,
                  lit(" card 4532015112830367 bad"))
                .when(col("doc_id") % 7 === 3,
                  lit(" pay GB82WEST12345698765432 now"))
                .when(col("doc_id") % 7 === 4,
                  lit(" pay GB82WEST12345698765431 now"))
                .when(col("doc_id") % 7 === 5,
                  lit(" n 123456789012 x 12345678901234567890"))
                .otherwise(lit(""))).as("tx")),
        "doc_id", "tx")
        .orderBy(col("doc_id"), col("kind"), col("token")),
      // Luhn is a SUM of independent per-position terms (list_sum); the
      // IBAN mod-97 is a seeded sequential fold (list_prepend + list_reduce
      // — DuckDB's reduce seeds from the first element)
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 1 THEN ' card 4532015112830366 ok'
        |         WHEN doc_id % 7 = 2 THEN ' card 4532015112830367 bad'
        |         WHEN doc_id % 7 = 3 THEN ' pay GB82WEST12345698765432 now'
        |         WHEN doc_id % 7 = 4 THEN ' pay GB82WEST12345698765431 now'
        |         WHEN doc_id % 7 = 5
        |           THEN ' n 123456789012 x 12345678901234567890'
        |         ELSE '' END AS tx
        |  FROM documents),
        |cards AS (
        |  SELECT doc_id, unnest(regexp_extract_all(tx, '[0-9]+')) AS token
        |  FROM d),
        |cardv AS (
        |  SELECT doc_id, 'card' AS kind, token,
        |    CAST(list_sum(list_transform(range(1, len(token) + 1), j ->
        |      CASE WHEN (len(token) - j) % 2 = 1 THEN
        |        CASE WHEN ascii(substring(token, CAST(j AS INT), 1))
        |            - 48 >= 5
        |          THEN 2 * (ascii(substring(token, CAST(j AS INT), 1))
        |            - 48) - 9
        |          ELSE 2 * (ascii(substring(token, CAST(j AS INT), 1))
        |            - 48) END
        |      ELSE ascii(substring(token, CAST(j AS INT), 1)) - 48 END))
        |      AS BIGINT) % 10 = 0 AS valid
        |  FROM cards WHERE len(token) BETWEEN 13 AND 19),
        |ib AS (
        |  SELECT doc_id, unnest(regexp_extract_all(tx, '[A-Z0-9]+'))
        |    AS token
        |  FROM d),
        |ibr AS (
        |  SELECT doc_id, token,
        |    substring(token, 5) || substring(token, 1, 4) AS re
        |  FROM ib
        |  WHERE regexp_matches(token, '^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$')),
        |ibv AS (
        |  SELECT doc_id, 'iban' AS kind, token,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(re) + 1), j ->
        |        CASE WHEN ascii(substring(re, CAST(j AS INT), 1)) >= 65
        |          THEN CAST(ascii(substring(re, CAST(j AS INT), 1)) - 55
        |            AS BIGINT)
        |          ELSE CAST(ascii(substring(re, CAST(j AS INT), 1)) - 48
        |            AS BIGINT) END)),
        |      (acc, c) -> CASE WHEN c < 10 THEN (acc * 10 + c) % 97
        |        ELSE (acc * 100 + c) % 97 END) = 1 AS valid
        |  FROM ibr)
        |SELECT doc_id, kind, token, valid FROM (
        |  SELECT * FROM cardv UNION ALL SELECT * FROM ibv)
        |ORDER BY doc_id, kind, token""".stripMargin),

    // ---- Gopher repetition rule family (quality screens) -------------------
    QuerySpec("gopher_repetition_docs", (s, dir) =>
      TextAnalysis.gopherRepetition(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("n")),
      gopherRepetitionOracle(2, 6)),

    // ---- corpus-overlap matrix from per-source KMV sketches ----------------
    // Pairwise vocabulary union/intersection estimates between EVERY two
    // sources, from one 64-long sketch per source: the "which sources
    // duplicate each other" pre-dedup diagnostic. The corpus is scanned
    // once (sketch build); the 20×19/2 pair matrix is array math on ≤128
    // longs per pair — never a data-mass term.
    QuerySpec("kmv_source_overlap_docs", (s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("__w"))
        .withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
          col("__w").cast("binary"), 15))
      graft.scale.Sketches.kmvPairwiseOverlap(words, "source", col("__h"))
        .orderBy(col("g_a"), col("g_b"))
    },
      // pairwise overlap: per-source bottom-64 word-hash sketches; per pair,
      // the union sketch is the 64 smallest of the two sketches' union and
      // membership flags come from each side's sketch (rank containment) —
      // same HUGEINT floor-div arithmetic as the other KMV oracles
      """WITH w AS (
        |  SELECT DISTINCT source,
        |    CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        |  FROM (SELECT source,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS tok
        |    FROM documents)),
        |rk AS (
        |  SELECT source, hv,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
        |  FROM w),
        |sk AS (SELECT source, hv FROM rk WHERE rn <= 64),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |pairs AS (
        |  SELECT a.source AS g_a, b.source AS g_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |pu AS (
        |  SELECT p.g_a, p.g_b, s.hv FROM pairs p
        |    JOIN sk s ON s.source = p.g_a
        |  UNION
        |  SELECT p.g_a, p.g_b, s.hv FROM pairs p
        |    JOIN sk s ON s.source = p.g_b),
        |r AS (
        |  SELECT g_a, g_b, hv,
        |    ROW_NUMBER() OVER (PARTITION BY g_a, g_b ORDER BY hv) AS rn
        |  FROM pu),
        |m AS (
        |  SELECT r.g_a, r.g_b, r.hv,
        |    MAX(CASE WHEN s.source = r.g_a THEN 1 ELSE 0 END) AS ia,
        |    MAX(CASE WHEN s.source = r.g_b THEN 1 ELSE 0 END) AS ib
        |  FROM r JOIN sk s ON s.hv = r.hv
        |    AND s.source IN (r.g_a, r.g_b)
        |  WHERE r.rn <= 64 GROUP BY 1, 2, 3),
        |us AS (
        |  SELECT g_a, g_b, COUNT(*) AS nu, MAX(hv) AS kthu
        |  FROM r WHERE rn <= 64 GROUP BY 1, 2),
        |nb AS (
        |  SELECT g_a, g_b, CAST(SUM(ia * ib) AS BIGINT) AS n_both
        |  FROM m GROUP BY 1, 2),
        |est AS (
        |  SELECT us.g_a, us.g_b, us.nu, nb.n_both,
        |    CAST(CASE WHEN us.nu < 64 THEN us.nu
        |      ELSE (CAST(63 AS HUGEINT) * 1152921504606846976)
        |        // GREATEST(us.kthu, 1) END AS BIGINT) AS est_union
        |  FROM us JOIN nb USING (g_a, g_b))
        |SELECT g_a, g_b, n_both, est_union,
        |  CAST(CASE WHEN nu < 64 THEN n_both
        |    ELSE (CAST(n_both AS HUGEINT) * est_union)
        |      // nu END AS BIGINT) AS est_intersect
        |FROM est ORDER BY 1, 2""".stripMargin),

    // ---- composite training-data pipeline: quality filter → exact dedup →
    // stratified per-lang sample (the 100 TB preprocessing shape) ------------
    QuerySpec("training_pipeline_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val q = TextAnalysis.qualityFeatures(docs, "text")
        .filter(col("n_tokens") >= 5 && col("distinct_ratio") >= 0.3)
      val deduped = q.withColumn("__rn",
          row_number().over(Window.partitionBy(col("text"))
            .orderBy(col("doc_id"))))
        .filter(col("__rn") === 1)
      Samplers.stratifiedDeterministic(
          deduped.select("doc_id", "lang", "n_tokens"), "lang", "doc_id", 50)
        .orderBy(col("doc_id"))
    },
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> len(x) > 0))) AS DOUBLE)
        |      / GREATEST(1, len(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0))) AS distinct_ratio
        |  FROM documents),
        |f AS (SELECT * FROM q WHERE n_tokens >= 5 AND distinct_ratio >= 0.3),
        |d AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS drn
        |  FROM f),
        |dd AS (SELECT doc_id, lang, n_tokens FROM d WHERE drn = 1),
        |st AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS srn
        |  FROM dd)
        |SELECT doc_id, lang, n_tokens FROM st WHERE srn <= 50
        |ORDER BY doc_id""".stripMargin),

    // ---- overlapping passage windows (retrieval chunking, stride<size) -----
    QuerySpec("passage_windows_docs", (s, dir) =>
      TextAnalysis.passageWindows(t(s, dir, "documents"), "doc_id", "text", 8, 4)
        .orderBy(col("doc_id"), col("win_idx")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i,
        |    array_to_string(t[(i*4+1):(i*4+8)], ' ') AS passage
        |  FROM toks, UNNEST(range(0,
        |    CAST(ceil((greatest(len(t) - 7, 1) - 1) / 4.0) AS INT) + 1)) AS u(i))
        |SELECT doc_id, CAST(i + 1 AS BIGINT) AS win_idx, passage
        |FROM w ORDER BY doc_id, win_idx""".stripMargin),

    // ---- domain-mixture resampling toward a target corpus composition ------
    QuerySpec("domain_mix_docs", (s, dir) => {
      val kept = TextAnalysis.domainMix(t(s, dir, "documents"),
        "source", "doc_id", Map("src0" -> 0.25, "src1" -> 0.125), 400L)
      kept.groupBy(col("source"))
        .agg(max(col("__quota")).as("quota"), count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    },
      """WITH r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents),
        |u AS (SELECT COUNT(DISTINCT CASE WHEN source NOT IN ('src0', 'src1')
        |  THEN source END) AS n_unw FROM documents),
        |q AS (
        |  SELECT source,
        |    CASE WHEN source = 'src0'
        |      THEN CAST(FLOOR(CAST(0.25 AS DOUBLE) * 400.0) AS BIGINT)
        |    WHEN source = 'src1'
        |      THEN CAST(FLOOR(CAST(0.125 AS DOUBLE) * 400.0) AS BIGINT)
        |    ELSE CAST(FLOOR((CAST(0.625 AS DOUBLE) /
        |      GREATEST(CAST(n_unw AS DOUBLE), CAST(1.0 AS DOUBLE))) * 400.0)
        |      AS BIGINT) END AS quota
        |  FROM (SELECT DISTINCT source FROM documents), u)
        |SELECT r.source, MAX(q.quota) AS quota, COUNT(*) AS n_kept
        |FROM r JOIN q ON r.source = q.source
        |WHERE r.rnk <= q.quota
        |GROUP BY r.source ORDER BY r.source""".stripMargin),

    // ---- temperature-based domain resampling (mC4/XLM-R balancing) ---------
    QuerySpec("temperature_mix_docs", (s, dir) => {
      val kept = TextAnalysis.temperatureMix(
        t(s, dir, "documents"), "source", "doc_id", 400L)
      kept.groupBy(col("source"))
        .agg(max(col("__n")).as("n_total"),
          max(col("__quota")).as("quota"),
          count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    },
      // integer-exact quotas over quantized sqrt weights (sqrt is IEEE
      // correctly rounded -> identical doubles in both engines; everything
      // after the floor is BIGINT arithmetic)
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n FROM documents
        |  WHERE source IS NOT NULL GROUP BY source),
        |w AS (
        |  SELECT source, n,
        |    CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wq
        |  FROM c),
        |tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS tw FROM w),
        |q AS (
        |  SELECT source, n, (400 * wq) // tw AS quota
        |  FROM w CROSS JOIN tot),
        |r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents WHERE source IS NOT NULL)
        |SELECT q.source, CAST(q.n AS BIGINT) AS n_total,
        |  CAST(q.quota AS BIGINT) AS quota,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept
        |FROM r JOIN q ON r.source = q.source AND r.rnk <= q.quota
        |GROUP BY q.source, q.n, q.quota
        |ORDER BY q.source""".stripMargin),

    // ---- per-source data-card ("datasheet") summary -------------------------
    QuerySpec("data_card_docs", (s, dir) =>
      TextAnalysis.dataCard(t(s, dir, "documents"), "source", "text", "lang")
        .orderBy(col("source")),
      """WITH tok AS (
        |  SELECT source, lang, len(text) AS n_chars,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS n_toks
        |  FROM documents)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  quantile_cont(n_chars, 0.5) AS p50_chars
        |FROM tok GROUP BY source ORDER BY source""".stripMargin),

    // ---- FLAGSHIP composite: the full LLM-corpus curation pipeline ---------
    // quality gate → exact dedup (fingerprint) → benchmark decontamination
    // → domain mixing → token-budget shard packing, ending in per-shard
    // stats. Every stage is an oracle-proven operator; the composition is
    // the end-to-end DAG a 100 TB pretraining-data build runs.
    QuerySpec("curation_pipeline_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      // 1. quality: at least 20 tokens
      val quality = docs
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .filter(col("n_tokens") >= 20)
      // 2. exact dedup: keep the min doc_id per normalized-text fingerprint
      val byFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val deduped = quality
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .withColumn("rn", row_number().over(byFp))
        .filter(col("rn") === 1).drop("rn", "fp")
      // 3. decontaminate against the eval slice (doc_id % 20 == 0)
      val corpus = deduped.filter(col("doc_id") % 20 =!= 0)
      val flags = Dedup.decontaminate(corpus,
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", 3)
      val clean = corpus.join(
        flags.filter(!col("contaminated")).select("doc_id"), Seq("doc_id"))
      // 4. domain mixing toward the target composition
      val mixed = TextAnalysis.domainMix(clean, "source", "doc_id",
        Map("src0" -> 0.25, "src1" -> 0.125), 200L)
      // 5. shard packing at a 500-token budget → per-shard stats
      TextAnalysis.packIntoShards(mixed, "doc_id", "text", 500L)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("shard_id"))
    },
      """WITH tok AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source, t, CAST(len(t) AS BIGINT) AS n_tokens
        |  FROM tok WHERE len(t) >= 20),
        |d AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY md5(array_to_string(t, ' '))
        |      ORDER BY doc_id) AS rn
        |    FROM q) WHERE rn = 1),
        |corp AS (SELECT * FROM d WHERE doc_id % 20 <> 0),
        |evsh AS (
        |  SELECT DISTINCT concat(t[i], COALESCE(' ' || t[i+1], ''),
        |    COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM tok, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)
        |  WHERE doc_id % 20 = 0),
        |csh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''),
        |    COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM corp, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |bad AS (SELECT DISTINCT c.doc_id FROM csh c JOIN evsh USING (sh)),
        |clean AS (
        |  SELECT * FROM corp
        |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        |u2 AS (SELECT COUNT(DISTINCT CASE WHEN source NOT IN ('src0', 'src1')
        |  THEN source END) AS n_unw FROM clean),
        |r2 AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM clean),
        |mixed AS (
        |  SELECT r2.doc_id, r2.source, r2.n_tokens FROM r2, u2
        |  WHERE r2.rnk <= CASE WHEN r2.source = 'src0'
        |      THEN CAST(FLOOR(CAST(0.25 AS DOUBLE) * 200.0) AS BIGINT)
        |    WHEN r2.source = 'src1'
        |      THEN CAST(FLOOR(CAST(0.125 AS DOUBLE) * 200.0) AS BIGINT)
        |    ELSE CAST(FLOOR((CAST(0.625 AS DOUBLE) /
        |      GREATEST(CAST(u2.n_unw AS DOUBLE), CAST(1.0 AS DOUBLE)))
        |      * 200.0) AS BIGINT) END),
        |packed AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM mixed)
        |SELECT (cum - n_tokens) // 500 AS shard_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM packed GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- curation drop-reason ledger (the pipeline's audit artifact) -------
    // Per-document provenance through the five-stage DAG above: which
    // gate dropped each doc and why — every doc in exactly one (stage,
    // reason) class. The audit table every real 100 TB curation run
    // ships beside the kept corpus; the composite itself discards it.
    QuerySpec("curation_ledger_docs", (s, dir) =>
      graft.scale.Curation.ledger(t(s, dir, "documents"), "doc_id", "text",
          "source", 20, 20, Map("src0" -> 0.25, "src1" -> 0.125), 200L)
        .orderBy(col("doc_id")),
      // the ledger replays the pipeline's own CTE chain, emitting the stage
      // attribution instead of the shard stats — every doc exactly one row
      (curationLedgerCte +
        """
          |SELECT doc_id, stage_idx, stage, reason, n_tokens
          |FROM led ORDER BY doc_id""".stripMargin)),

    // ---- curation ledger: per-stage mass roll-up ---------------------------
    // The report table: documents and token mass per (stage, reason).
    QuerySpec("curation_ledger_mass_docs", (s, dir) =>
      graft.scale.Curation.ledgerMass(
          graft.scale.Curation.ledger(t(s, dir, "documents"), "doc_id",
            "text", "source", 20, 20,
            Map("src0" -> 0.25, "src1" -> 0.125), 200L))
        .orderBy(col("stage_idx"), col("reason")),
      (curationLedgerCte +
        """
          |SELECT stage_idx, stage, reason,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
          |FROM led GROUP BY 1, 2, 3 ORDER BY stage_idx, reason""".stripMargin)),

    // ---- domain up-sampling with replacement to exact quotas ---------------
    QuerySpec("domain_upsample_docs", (s, dir) => {
      val up = TextAnalysis.domainUpsample(t(s, dir, "documents"),
        "source", "doc_id", Map("src0" -> 0.25, "src1" -> 0.125), 1000L)
      up.groupBy(col("source"))
        .agg(count(lit(1)).as("n_emitted"),
          countDistinct(col("doc_id")).as("n_source_rows"),
          max(col("__quota")).as("quota"))
        .orderBy(col("source"))
    },
      """WITH r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents),
        |u AS (SELECT COUNT(DISTINCT CASE WHEN source NOT IN ('src0', 'src1')
        |  THEN source END) AS n_unw FROM documents),
        |c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |q AS (
        |  SELECT c.source, c.n,
        |    CASE WHEN c.source = 'src0'
        |      THEN CAST(FLOOR(CAST(0.25 AS DOUBLE) * 1000.0) AS BIGINT)
        |    WHEN c.source = 'src1'
        |      THEN CAST(FLOOR(CAST(0.125 AS DOUBLE) * 1000.0) AS BIGINT)
        |    ELSE CAST(FLOOR((CAST(0.625 AS DOUBLE) /
        |      GREATEST(CAST(u.n_unw AS DOUBLE), CAST(1.0 AS DOUBLE))) * 1000.0)
        |      AS BIGINT) END AS quota
        |  FROM c, u),
        |x AS (
        |  SELECT r.source, r.doc_id,
        |    (q.quota // q.n) + CASE WHEN r.rnk <= q.quota % q.n
        |      THEN 1 ELSE 0 END AS nrep
        |  FROM r JOIN q ON r.source = q.source),
        |e AS (
        |  SELECT source, doc_id FROM x,
        |    UNNEST(range(CAST(GREATEST(nrep, 0) AS BIGINT))) AS t(i))
        |SELECT source, COUNT(*) AS n_emitted,
        |  COUNT(DISTINCT doc_id) AS n_source_rows,
        |  MAX(q2.quota) AS quota
        |FROM e JOIN (SELECT source, quota FROM q) q2 USING (source)
        |GROUP BY source ORDER BY source""".stripMargin),

    // ---- Simpson diversity / concentration per source ----------------------
    // Exact collision probability of two drawn tokens + the effective
    // type count — the evenness gate that flags template spam.
    QuerySpec("simpson_docs", (s, dir) =>
      TextAnalysis.simpsonDiversity(t(s, dir, "documents"), "source",
        "text")
        .orderBy(col("source")),
      """WITH c AS (
        |  SELECT g, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT source AS g,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2)
        |SELECT g AS source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CASE WHEN SUM(c) >= 2 THEN
        |    ROUND(CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS DOUBLE) /
        |      (CAST(SUM(c) AS DOUBLE) * (SUM(c) - 1)), 6) END AS simpson,
        |  CASE WHEN SUM(c) >= 2 AND SUM(CAST(c AS HUGEINT) * (c - 1)) > 0
        |    THEN ROUND((CAST(SUM(c) AS DOUBLE) * (SUM(c) - 1)) /
        |      CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS DOUBLE), 6)
        |    END AS inv_simpson
        |FROM c GROUP BY g ORDER BY g""".stripMargin),

    // ---- quality-proportional (weighted Bernoulli) corpus sampling ---------
    QuerySpec("weighted_sample_docs", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      val mx = d.agg(max(col("n_tokens")).as("max_tokens"))
      val withW = d.crossJoin(broadcast(mx))
        .withColumn("w",
          col("n_tokens").cast("double") / col("max_tokens"))
      Samplers.weightedBernoulli(withW, "doc_id", "w")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("source"))
    },
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |m AS (SELECT MAX(n_tokens) AS max_tokens FROM d),
        |k AS (
        |  SELECT source, n_tokens FROM d, m
        |  WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS DOUBLE) / 4294967296.0
        |    < CAST(n_tokens AS DOUBLE) / max_tokens)
        |SELECT source, COUNT(*) AS n_kept,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM k GROUP BY source ORDER BY source""".stripMargin),

    // ---- streaming dedup in the CHECKED surface: dropDuplicates state ------
    // ---- streaming: incoming stream deduped against a static corpus --------
    // The streaming face of incremental dedup: the micro-batch stream of
    // new docs anti-joins (stream-static, no state store) the corpus's
    // min-shingle fingerprint set; survivors aggregate per source. The
    // static side is re-broadcast per batch — at scale it would be a
    // bucketed table the join prunes against instead.
    QuerySpec("streaming_corpus_dedup_docs", (s, dir) => {
      val batch = t(s, dir, "documents")
      val stream = Streams.corpusStream(batch, dir, "documents")
      val key = TextAnalysis.minShingleFingerprint(col("text"), 3)
      val corpusKeys = batch.filter(col("doc_id") % 10 < 8)
        .select(key.as("fp")).distinct()
      val kept = stream.filter(col("doc_id") % 10 >= 8)
        .select(col("source"), key.as("fp"))
        .join(corpusKeys, Seq("fp"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      Streams.runToMemory(kept, "stream_corpus_dedup", OutputMode.Complete())
        .orderBy(col("source"))
    },
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |keys AS (
        |  SELECT doc_id, source, MIN(md5(sh)) AS fp
        |  FROM sh GROUP BY doc_id, source),
        |ck AS (SELECT DISTINCT fp FROM keys WHERE doc_id % 10 < 8),
        |inc AS (SELECT doc_id, source, fp FROM keys WHERE doc_id % 10 >= 8)
        |SELECT source, COUNT(*) AS n_kept
        |FROM inc i
        |WHERE NOT EXISTS (SELECT 1 FROM ck WHERE ck.fp = i.fp)
        |GROUP BY source ORDER BY source""".stripMargin),

    // ---- mixing: UniMax budget allocation across languages -----------------
    // 60k-token budget, 3-epoch cap per language: low-resource langs hit
    // the cap, the rest split the remainder evenly (exact integer
    // waterfall — see TextAnalysis.unimaxAllocate).
    QuerySpec("unimax_mix_docs", (s, dir) =>
      TextAnalysis.unimaxAllocate(t(s, dir, "documents"), "lang", "text",
          60000L, 3)
        .orderBy(col("domain")),
      // UniMax waterfall replay: capped iff cap·(D−rk+1) ≤ B − below (a
      // prefix of the capacity sort); the first uncapped rank fixes the
      // level; leftover mod tokens go one each to the first uncapped ranks.
      """WITH dom AS (
        |  SELECT COALESCE(lang, chr(2) || 'NULL') AS domain,
        |    CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |r AS (
        |  SELECT domain, n_tokens, n_tokens * 3 AS cap_tokens,
        |    ROW_NUMBER() OVER (ORDER BY n_tokens * 3, domain) AS rk,
        |    COUNT(*) OVER () AS d,
        |    COALESCE(SUM(n_tokens * 3) OVER (ORDER BY n_tokens * 3, domain
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM dom),
        |f AS (
        |  SELECT *, cap_tokens * (d - rk + 1) <= 60000 - below AS capped
        |  FROM r),
        |lvl AS (SELECT MIN(rk) AS m, MIN(below) AS sb FROM f WHERE NOT capped),
        |alloc AS (
        |  SELECT f.domain, f.n_tokens, f.cap_tokens,
        |    CASE WHEN f.capped OR lvl.m IS NULL THEN f.cap_tokens
        |      ELSE (60000 - lvl.sb) // (f.d - lvl.m + 1)
        |        + CASE WHEN f.rk - lvl.m <
        |            (60000 - lvl.sb) % (f.d - lvl.m + 1)
        |          THEN 1 ELSE 0 END
        |    END AS alloc_tokens
        |  FROM f, lvl)
        |SELECT domain, n_tokens, cap_tokens,
        |  CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
        |  ROUND(CAST(alloc_tokens AS DOUBLE) / n_tokens, 6) AS epochs
        |FROM alloc ORDER BY domain""".stripMargin),

    // ---- DSIR importance-resampling data selection -------------------------
    // Target = English docs; every doc scored by the hashed-unigram
    // importance ratio and sampled without replacement via deterministic
    // Gumbel top-k (see TextAnalysis.dsirSelect). LM tables are 1024 rows
    // regardless of corpus mass; selection is a TakeOrdered.
    QuerySpec("dsir_select_docs", (s, dir) =>
      TextAnalysis.dsirSelect(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .orderBy(col("sel_rank")),
      // DSIR: hashed-unigram bucket LMs with add-1 smoothing; per-token log
      // ratio as four fixed-order lns of exact integers; Gumbel key from the
      // md5 'dsir:<id>' hash; ranks compare 6-decimal-rounded keys.
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tb AS (
        |  SELECT doc_id,  lang,
        |    CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) % 1024 AS b
        |  FROM tok),
        |lm AS (
        |  SELECT b, CAST(COUNT(*) AS BIGINT) AS r_cnt,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t_cnt
        |  FROM tb GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(r_cnt) AS BIGINT) AS r_tot,
        |    CAST(SUM(t_cnt) AS BIGINT) AS t_tot
        |  FROM lm),
        |sc AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    SUM(ln(t_cnt + 1) + ln(r_tot + 1024)
        |      - ln(r_cnt + 1) - ln(t_tot + 1024)) AS logw_raw
        |  FROM tb JOIN lm USING (b) CROSS JOIN tot
        |  GROUP BY 1),
        |g AS (
        |  SELECT doc_id, n_tokens, ROUND(logw_raw, 6) AS logw,
        |    ROUND(logw_raw - ln(-ln(
        |      (CAST(('0x' || substring(md5('dsir:' || CAST(doc_id AS VARCHAR)),
        |        1, 15)) AS BIGINT) + 0.5) / 1152921504606846976.0)), 6)
        |      AS gumbel_key
        |  FROM sc),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY gumbel_key DESC, doc_id)
        |    AS sel_rank, doc_id, n_tokens, logw, gumbel_key
        |  FROM g)
        |SELECT sel_rank, doc_id, n_tokens, logw, gumbel_key FROM r
        |WHERE sel_rank <= 50 ORDER BY sel_rank""".stripMargin),

    // ---- DoReMi-style domain reweighting -----------------------------------
    // Excess unigram cross-entropy per source vs its own-domain reference
    // LM, one exponentiated-gradient step from uniform, uniform-smoothed
    // (see TextAnalysis.doremiWeights).
    QuerySpec("doremi_weights_docs", (s, dir) =>
      TextAnalysis.doremiWeights(t(s, dir, "documents"), "source", "text")
        .orderBy(col("domain")),
      // DoReMi: per-(domain,token) count table drives both cross-entropies;
      // the softmax reads the 6-decimal-rounded excess, mirroring
      // TextAnalysis.doremiWeights token for token.
      """WITH tok AS (
        |  SELECT source AS domain, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |ndt AS (
        |  SELECT domain, token, CAST(COUNT(*) AS BIGINT) AS n_dt
        |  FROM tok GROUP BY 1, 2),
        |nt AS (SELECT token, CAST(SUM(n_dt) AS BIGINT) AS n_t
        |  FROM ndt GROUP BY 1),
        |tc AS (SELECT CAST(SUM(n_t) AS BIGINT) AS t_c FROM nt),
        |td AS (SELECT domain, CAST(SUM(n_dt) AS BIGINT) AS t_d
        |  FROM ndt GROUP BY 1),
        |nd AS (SELECT source AS domain, COUNT(*) AS n_docs
        |  FROM documents GROUP BY 1),
        |pd AS (
        |  SELECT n.domain,
        |    CAST(SUM(n.n_dt) AS BIGINT) AS n_tokens,
        |    ROUND((-SUM(CAST(n.n_dt AS DOUBLE) * (ln(t.n_t) - ln(c.t_c))))
        |      / CAST(SUM(n.n_dt) AS DOUBLE), 6) AS loss_corpus,
        |    ROUND((-SUM(CAST(n.n_dt AS DOUBLE) * (ln(n.n_dt) - ln(d.t_d))))
        |      / CAST(SUM(n.n_dt) AS DOUBLE), 6) AS loss_self
        |  FROM ndt n JOIN nt t USING (token) JOIN td d USING (domain)
        |  CROSS JOIN tc c
        |  GROUP BY 1),
        |ex AS (
        |  SELECT *, GREATEST(0.0, loss_corpus - loss_self) AS excess_raw,
        |    exp(1.0 * GREATEST(0.0, loss_corpus - loss_self)) AS uw
        |  FROM pd),
        |s AS (SELECT SUM(uw) AS su, COUNT(*) AS ndom FROM ex)
        |SELECT e.domain, nd.n_docs, e.n_tokens, e.loss_corpus, e.loss_self,
        |  ROUND(e.excess_raw, 6) AS excess,
        |  ROUND((1.0 - 0.1) * (e.uw / s.su) + 0.1 / s.ndom, 6) AS weight
        |FROM ex e CROSS JOIN s JOIN nd USING (domain)
        |ORDER BY domain""".stripMargin),

    // ---- composite: selection pipeline (gate → dedup → DSIR → split) -------
    // The round-5 curation DAG: quality gate, exact-dedup to canonical
    // representatives, DSIR importance selection of the 100 most
    // target-like docs, deterministic hash split. Every stage is the
    // already-verified operator; the composite checks they COMPOSE
    // (the DSIR LMs here are built over the gated+deduped corpus, not the
    // raw table — the oracle replays that ordering exactly).
    QuerySpec("selection_pipeline_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val gated = docs.filter(TextAnalysis.tokenCount(col("text")) >= 5)
      val reps = Dedup.exact(gated, Seq("text"), "doc_id").select("doc_id")
      val surviving = gated.join(reps, Seq("doc_id"), "left_semi")
      TextAnalysis
        .dsirSelect(surviving, "doc_id", "text", col("lang") === "en",
          1024, 100)
        .withColumn("split",
          when(Samplers.uniformDraw(col("doc_id")) < 0.2, "test")
            .otherwise("train"))
        .select(col("sel_rank"), col("doc_id"), col("n_tokens"),
          col("gumbel_key"), col("split"))
        .orderBy(col("sel_rank"))
    },
      // selection pipeline: the dsir CTE chain re-rooted on the gated +
      // deduped survivor set, split via the 8-hex md5 draw
      """WITH gated AS (
        |  SELECT doc_id, text, lang FROM documents
        |  WHERE len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) >= 5),
        |reps AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY text),
        |surv AS (SELECT g.* FROM gated g JOIN reps r USING (doc_id)),
        |tok AS (
        |  SELECT doc_id, lang, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM surv),
        |tb AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) % 1024 AS b
        |  FROM tok),
        |lm AS (
        |  SELECT b, CAST(COUNT(*) AS BIGINT) AS r_cnt,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t_cnt
        |  FROM tb GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(r_cnt) AS BIGINT) AS r_tot,
        |    CAST(SUM(t_cnt) AS BIGINT) AS t_tot
        |  FROM lm),
        |sc AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    SUM(ln(t_cnt + 1) + ln(r_tot + 1024)
        |      - ln(r_cnt + 1) - ln(t_tot + 1024)) AS logw_raw
        |  FROM tb JOIN lm USING (b) CROSS JOIN tot
        |  GROUP BY 1),
        |g AS (
        |  SELECT doc_id, n_tokens,
        |    ROUND(logw_raw - ln(-ln(
        |      (CAST(('0x' || substring(md5('dsir:' || CAST(doc_id AS VARCHAR)),
        |        1, 15)) AS BIGINT) + 0.5) / 1152921504606846976.0)), 6)
        |      AS gumbel_key
        |  FROM sc),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY gumbel_key DESC, doc_id)
        |    AS sel_rank, doc_id, n_tokens, gumbel_key
        |  FROM g)
        |SELECT sel_rank, doc_id, n_tokens, gumbel_key,
        |  CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) / 4294967296.0 < 0.2
        |    THEN 'test' ELSE 'train' END AS split
        |FROM r WHERE sel_rank <= 100 ORDER BY sel_rank""".stripMargin),

    // ---- exact-k weighted sample without replacement (A-ES reservoir) ------
    QuerySpec("weighted_reservoir_docs", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("w", greatest(col("n_tokens"), lit(1L)))
      Samplers.weightedReservoir(d, "doc_id", "w", 40)
        .select(col("sel_rank"), col("doc_id"), col("n_tokens"), col("res_key"))
    },
      // A-ES reservoir: key = ln(u)/w with u the salted md5 dyadic rational,
      // top-40 by 9-decimal-rounded key (doc_id tiebreak)
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, n_tokens,
        |    ROUND(ln((CAST(('0x' || substr(md5('res:' ||
        |        CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
        |        / 4294967296.0)
        |      / GREATEST(n_tokens, 1), 9) AS res_key
        |  FROM d),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY res_key DESC, doc_id)
        |      AS sel_rank, doc_id, n_tokens, res_key
        |  FROM k)
        |SELECT sel_rank, doc_id, n_tokens, res_key FROM r
        |WHERE sel_rank <= 40 ORDER BY sel_rank""".stripMargin),

    // ---- RAG chunking: sliding token windows, narrow hash rows -------------
    // 64-token windows, stride 48 (16-token overlap); the chunk table
    // carries offsets + md5 content identity, never the chunk text.
    QuerySpec("chunk_docs", (s, dir) =>
      TextAnalysis.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          64, 48)
        .orderBy(col("doc_id"), col("chunk_idx")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |    CAST(i * 48 AS BIGINT) AS chunk_start,
        |    t[(i*48 + 1):(i*48 + 64)] AS ck
        |  FROM toks, UNNEST(range(0,
        |    1 + (GREATEST(0, len(t) - 64) + 47) // 48)) AS u(i))
        |SELECT doc_id, chunk_idx, chunk_start,
        |  CAST(len(ck) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(ck, ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // ---- blocklist scrub report (C4/Dolma bad-words stage) -----------------
    // The blocklist rides a relation (broadcast token equi-join, never a
    // 10^4-term alternation regex); flag docs where >10% of tokens hit.
    QuerySpec("blocklist_docs", (s, dir) => {
      import s.implicits._
      val terms = Seq("slow", "broken", "spam", "junk")
        .toDF("term")
      TextAnalysis.blocklistFilter(t(s, dir, "documents"),
          "doc_id", "text", terms, 100000L)
        .orderBy(col("doc_id"))
    },
      // house tokens convention; hits via a list containment over the
      // 4-term dictionary; every doc scaffolds (zero-hit rows included)
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN t IN ('slow', 'broken', 'spam', 'junk')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |    CAST(COUNT(DISTINCT CASE WHEN t IN
        |      ('slow', 'broken', 'spam', 'junk') THEN t END) AS BIGINT)
        |      AS n_terms
        |  FROM toks GROUP BY 1)
        |SELECT d.doc_id, COALESCE(h.n_tokens, 0) AS n_tokens,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  COALESCE(h.n_terms, 0) AS n_terms,
        |  CASE WHEN COALESCE(h.n_tokens, 0) > 0 THEN
        |    ROUND(CAST(h.n_hits AS DOUBLE) / CAST(h.n_tokens AS DOUBLE), 6)
        |  END AS hit_frac,
        |  COALESCE(h.n_hits, 0) > 0 AND
        |    COALESCE(h.n_hits, 0) * 1000000 >
        |      100000 * COALESCE(h.n_tokens, 0) AS flagged
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // ---- line-density boilerplate filter ------------------------------------
    // jusText-class intra-doc gate: docs become 8-token lines plus
    // deterministic planted boilerplate (a link-dense nav line on
    // doc_id % 3, a too-short "click here" on doc_id % 4); keep a line
    // iff >= 4 tokens AND link density <= 1/5 (exact integer compare).
    // Per doc: kept/dropped line counts + token keep-mass.
    // (boilerplate_docs is the complementary CROSS-doc C4 df-rule scrub.)
    QuerySpec("line_density_docs", (s, dir) => {
      val lined = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat_ws("\n", TextAnalysis.wordChunks(col("text"), 8)),
          when(col("doc_id") % 3 === 0,
            lit("home | about | http://site.example/nav www.example.com")),
          when(col("doc_id") % 4 === 0, lit("click here"))).as("text"))
      TextAnalysis.lineDensityFilter(lined, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // sequential (mSPRT) conversion test + its twin share one oracle
      // line-density boilerplate: same 8-token chunking + planted lines,
      // same exact-integer keep rule (nt >= 4 AND nl*5 <= nt*1)
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    array_to_string(list_transform(
        |      range(0, GREATEST(CAST(ceil(len(t) / 8.0) AS INT), 1)),
        |      i -> array_to_string(
        |        t[CAST(i * 8 + 1 AS INT):CAST(i * 8 + 8 AS INT)], ' ')),
        |      chr(10)),
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      'home | about | http://site.example/nav www.example.com'
        |      END,
        |    CASE WHEN doc_id % 4 = 0 THEN 'click here' END) AS text
        |  FROM toks),
        |lines AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        |  FROM lined),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(lt) AS BIGINT) AS nt,
        |    CAST(len(list_filter(lt, x -> contains(x, '://')
        |      OR starts_with(x, 'www.'))) AS BIGINT) AS nl,
        |    CAST(len(list_filter(lt, x -> list_contains(['the', 'a',
        |      'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it', 'that',
        |      'for', 'on', 'with', 'as', 'at', 'by', 'from'], x)))
        |      AS BIGINT) AS ns
        |  FROM (
        |    SELECT doc_id,
        |      list_filter(string_split_regex(lower(line), '\s+'),
        |        x -> len(x) > 0) AS lt
        |    FROM lines)),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CASE WHEN nt >= 4 AND nl * 5 <= nt * 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_lines,
        |    CAST(SUM(CASE WHEN nt >= 4 AND nl * 5 <= nt * 1
        |      THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped_lines,
        |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN nt >= 4 AND nl * 5 <= nt * 1
        |      THEN nt ELSE 0 END) AS BIGINT) AS n_kept_tokens,
        |    CAST(SUM(ns) AS BIGINT) AS n_stop
        |  FROM m GROUP BY doc_id)
        |SELECT doc_id, n_lines, n_kept_lines, n_dropped_lines,
        |  n_tokens, n_kept_tokens, n_stop,
        |  CASE WHEN n_tokens > 0 THEN
        |    ROUND(CAST(n_kept_tokens AS DOUBLE) / n_tokens, 6)
        |  END AS keep_mass
        |FROM agg ORDER BY doc_id""".stripMargin)
  )
}
