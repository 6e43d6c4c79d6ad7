package graft
package queries

import org.apache.spark.sql.functions._

import graft.io.Readers
import graft.metrics.Metrics
import graft.plans.SerializeResplitRule
import graft.sample.Samplers
import graft.scale.Dedup
import graft.serialize.Serialize
import graft.tasks.Wrangler
import graft.transform.TransformProgram

import Shared._

/** The paper's wrangling tasks as queries: entity matching, imputation,
  * error detection and data transformation, end to end.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object WranglerQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ---- J3 entity-matching similarity predicates (PPJoin candidates) ------
    // The fixed-cardinality (p_brand, p_size) blocking self-join is RETIRED
    // (r3+r5 verdicts): its within-block pair mass grows quadratically with
    // the corpus. Candidates now come from the exact prefix-filter generator
    // (Dedup.ppjoinPairs) at a CANDIDATE threshold 0.3 strictly below the
    // 0.5 decision threshold, so both predicate classes survive — pairs in
    // [0.3, 0.5) score "No", pairs ≥ 0.5 score "Yes" — and candidate mass
    // tracks true near-match mass, not block population. No blocking key
    // means the pair universe is the full all-pairs jaccard ≥ 0.3 relation,
    // which the oracle replays brute-force.
    QuerySpec("em_similarity_part", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name"),
          Wrangler.emTokens(col("p_name")).as("toks"))
      // Name-level collapse: candidate generation (Dedup.ppjoinPairs) and
      // BOTH similarity scores run on the name DICTIONARY (names repeat
      // massively — 64 distinct at sf0.1); part-id pairs then materialize
      // by pure member-list expansion (two explodes) with the scores
      // already attached. The expanded relation — 46.9M rows at sf0.1,
      // the true answer mass at threshold 0.3 — is never joined,
      // shuffled, or distinct'd: profiled, every join/distinct touching
      // it cost 5-10 s each, while bare expansion is ~4 s. Correct
      // because a pair's jaccard AND lev_sim are functions of its two
      // NAMES: same-name pairs are the diagonal branch (both scores 1.0),
      // cross-name pairs carry their name pair's scores.
      val members = p.groupBy(col("p_name"))
        .agg(sort_array(collect_list(col("id"))).as("ids"),
          min(col("id")).as("nid"),
          // toks is a function of p_name — first() is deterministic here
          first(col("toks")).as("toks"))
      // ... and so are round(jaccard) and the Yes/No decision — ALL
      // per-pair expressions evaluate once per NAME pair (448 rows at
      // sf0.1); the pair-mass stage is two explodes + least/greatest over
      // finished columns (profiled: evaluating round+CASE per expanded
      // row instead cost ~12 s of the query).
      val npRaw = Dedup.ppjoinPairs(
        members.select(col("nid"), col("toks")), "nid", "toks", 0.3)
      val withLev = npRaw
        .join(members.select(col("nid").as("id_a"), col("p_name").as("__na")),
          Seq("id_a"))
        .join(members.select(col("nid").as("id_b"), col("p_name").as("__nb")),
          Seq("id_b"))
        .select(col("id_a").as("nid_a"), col("id_b").as("nid_b"),
          round(col("jaccard"), 6).as("jaccard_sim"),
          round(Wrangler.levenshteinSim(col("__na"), col("__nb")), 6)
            .as("lev_sim"),
          when(col("jaccard") >= 0.5, "Yes").otherwise("No").as("pred"))
      val cross = withLev
        .join(broadcast(members.select(col("nid").as("nid_a"),
          col("ids").as("ids_a"))), Seq("nid_a"))
        .join(broadcast(members.select(col("nid").as("nid_b"),
          col("ids").as("ids_b"))), Seq("nid_b"))
        .select(explode(col("ids_a")).as("ia"), col("ids_b"),
          col("jaccard_sim"), col("lev_sim"), col("pred"))
        .select(col("ia"), explode(col("ids_b")).as("ib"),
          col("jaccard_sim"), col("lev_sim"), col("pred"))
        .select(least(col("ia"), col("ib")).as("id_a"),
          greatest(col("ia"), col("ib")).as("id_b"),
          col("jaccard_sim"), col("lev_sim"), col("pred"))
      val intra = members
        .filter(size(col("ids")) > 1)
        .select(col("ids"))
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          lit(1.0).as("jaccard_sim"), lit(1.0).as("lev_sim"),
          lit("Yes").as("pred"))
      cross.unionByName(intra)
    },
      // The prefix-filter candidate generator is EXACT, so the oracle is the
      // brute-force all-pairs relation thresholded at the 0.3 candidate
      // threshold — no blocking key anywhere; pred thresholds at 0.5 inside.
      """WITH p AS (
        |  SELECT p_partkey, p_name,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |pairs AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    a.p_name AS name_a, b.p_name AS name_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) AS sim,
        |    1.0 - CAST(levenshtein(lower(a.p_name), lower(b.p_name)) AS DOUBLE)
        |      / GREATEST(length(a.p_name), length(b.p_name)) AS lev_sim
        |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey)
        |SELECT id_a, id_b, ROUND(sim, 6) AS jaccard_sim,
        |  ROUND(lev_sim, 6) AS lev_sim,
        |  CASE WHEN sim >= 0.5 THEN 'Yes' ELSE 'No' END AS pred
        |FROM pairs WHERE sim >= 0.3 ORDER BY id_a, id_b""".stripMargin),

    // ---- J3+G4 EM task end-to-end: PPJoin candidates → similarity
    // predicate → one-pass confusion metrics (gold = same p_type proxy).
    // Same retirement of the (p_brand, p_size) block as em_similarity_part:
    // the candidate universe is the exact all-pairs jaccard ≥ 0.3 relation,
    // pred thresholds at 0.5 within it.
    QuerySpec("em_end_to_end_part", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name"),
          Wrangler.emTokens(col("p_name")).as("toks"), col("p_type"))
      // Dictionary-scale evaluation: the (pred, gold) CLASS COUNTS of the
      // all-pairs ≥ 0.3 relation are computed WITHOUT materializing a
      // single pair. pred is a function of the name pair (jaccard over
      // token sets); gold counts come from per-name TYPE HISTOGRAMS —
      // for a cross-name pair, gold-yes = Σ_t cnt_a(t)·cnt_b(t) (a
      // histogram dot product over the tiny (name, type) table), and for
      // the same-name diagonal, gold-yes = Σ_t C(cnt_t, 2). The pair mass
      // (46.9M rows at sf0.1, unbounded at 100 TB under hot names) never
      // exists anywhere in the plan; the tolerant-equality confusion
      // expression then runs once per (pred, gold) class
      // (Metrics.confusionMetricsWeighted) — identical output to the
      // row-level form, exact integers throughout.
      val names = p.groupBy(col("p_name"))
        .agg(min(col("id")).as("nid"), first(col("toks")).as("toks"),
          count(lit(1)).as("n"))
      val hist = p.groupBy(col("p_name"), col("p_type"))
        .agg(count(lit(1)).as("cnt"))
        .join(names.select(col("p_name"), col("nid")), Seq("p_name"))
        .select(col("nid"), col("p_type"), col("cnt"))
      val np = Dedup
        .ppjoinPairs(names.select(col("nid"), col("toks")),
          "nid", "toks", 0.3)
        .select(col("id_a").as("nid_a"), col("id_b").as("nid_b"),
          when(col("jaccard") >= 0.5, "yes").otherwise("no").as("pred"))
      val gy = np.select(col("nid_a"), col("nid_b"))
        .join(hist.select(col("nid").as("nid_a"), col("p_type"),
          col("cnt").as("__ca")), Seq("nid_a"))
        .join(hist.select(col("nid").as("nid_b"), col("p_type"),
          col("cnt").as("__cb")), Seq("nid_b", "p_type"))
        .groupBy(col("nid_a"), col("nid_b"))
        .agg(sum(col("__ca") * col("__cb")).as("gold_yes"))
      val sizes = names.select(col("nid"), col("n"))
      val crossCls = np
        .join(sizes.select(col("nid").as("nid_a"), col("n").as("__na")),
          Seq("nid_a"))
        .join(sizes.select(col("nid").as("nid_b"), col("n").as("__nb")),
          Seq("nid_b"))
        .join(gy, Seq("nid_a", "nid_b"), "left")
        .select(col("pred"),
          coalesce(col("gold_yes"), lit(0L)).as("gold_yes"),
          (col("__na") * col("__nb") - coalesce(col("gold_yes"), lit(0L)))
            .as("gold_no"))
      val intraCls = hist
        .groupBy(col("nid"))
        .agg(sum(expr("cnt * (cnt - 1) DIV 2")).as("gold_yes"))
        .join(sizes, Seq("nid"))
        .select(lit("yes").as("pred"), col("gold_yes"),
          (expr("n * (n - 1) DIV 2") - col("gold_yes")).as("gold_no"))
      val classes = crossCls.unionByName(intraCls)
        .select(col("pred"), explode(array(
          struct(lit("yes").as("gold"), col("gold_yes").as("w")),
          struct(lit("no").as("gold"), col("gold_no").as("w"))))
          .as("g"))
        .select(col("pred"), col("g.gold").as("gold"), col("g.w").as("w"))
        .groupBy(col("pred"), col("gold")).agg(sum(col("w")).as("__w"))
      Metrics.confusionMetricsWeighted(classes, "pred", "gold", "__w")
    },
      """WITH p AS (
        |  SELECT p_partkey, p_type,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |lab AS (
        |  SELECT
        |    CASE WHEN CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
        |      THEN 'yes' ELSE 'no' END AS pred,
        |    CASE WHEN a.p_type = b.p_type THEN 'yes' ELSE 'no' END AS gold
        |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.3),
        |c AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS crc,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM lab),
        |pr AS (
        |  SELECT *,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fp), 6) AS prec,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fn), 6) AS rec,
        |    ROUND(CAST(crc AS DOUBLE) / total, 6) AS acc
        |  FROM c)
        |SELECT total, crc, tp, fn, tn, fp, prec, rec, acc,
        |  ROUND(2.0 * prec * rec / GREATEST(1.0, prec + rec), 6) AS f1_legacy,
        |  ROUND(CASE WHEN prec + rec > 0.0
        |    THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END, 6) AS f1
        |FROM pr""".stripMargin),

    // ---- J3 scale path: PPJoin prefix-filter EM candidate generation -------
    // Same above-threshold pair semantics as em_similarity_part but with NO
    // blocking key: candidates come from a rarest-token prefix inverted
    // index (exact — no false negatives), so the pair set is the FULL
    // all-pairs `jaccard >= 0.5` relation, not just the within-(brand,size)
    // subset, and candidate mass tracks true near-match mass instead of
    // growing quadratically with block population.
    QuerySpec("em_similarity_ppjoin_part", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("id"),
          col("p_name"),
          Wrangler.emTokens(col("p_name")).as("toks"))
      val pairs = Dedup.ppjoinPairs(p, "id", "toks", 0.5)
      val names = p.select(col("id"), col("p_name"))
      val joined = pairs
        .join(names.select(col("id").as("id_a"), col("p_name").as("name_a")),
          Seq("id_a"))
        .join(names.select(col("id").as("id_b"), col("p_name").as("name_b")),
          Seq("id_b"))
      // Levenshtein once per DISTINCT name pair, not once per matched id
      // pair: the corpus repeats names massively (64 distinct at sf0.1 vs
      // ~3M matched pairs), and per-pair edit distance dominated the query
      // 10:1. The distinct name-pair table is dictionary-scale → broadcast.
      val nameSim = joined.select(col("name_a"), col("name_b")).distinct()
        .withColumn("lev_sim",
          round(Wrangler.levenshteinSim(col("name_a"), col("name_b")), 6))
      // No presentation sort: the output is pair-mass-sized (~3M rows at
      // sf0.1) and the oracle comparison sorts rows itself; a global sort
      // here is a pure range-shuffle tax on the largest column of the plan.
      joined
        .join(broadcast(nameSim), Seq("name_a", "name_b"))
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard_sim"), col("lev_sim"))
    },
      // The prefix-filter join is EXACT, so the oracle is the brute-force
      // all-pairs relation thresholded at 0.5 — no blocking key anywhere.
      """WITH p AS (
        |  SELECT p_partkey, p_name,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |pairs AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    a.p_name AS name_a, b.p_name AS name_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) AS sim,
        |    1.0 - CAST(levenshtein(lower(a.p_name), lower(b.p_name)) AS DOUBLE)
        |      / GREATEST(length(a.p_name), length(b.p_name)) AS lev_sim
        |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey)
        |SELECT id_a, id_b, ROUND(sim, 6) AS jaccard_sim,
        |  ROUND(lev_sim, 6) AS lev_sim
        |FROM pairs WHERE sim >= 0.5 ORDER BY id_a, id_b""".stripMargin),

    // ---- imputation via learned dictionary (broadcast mode-map) ------------
    QuerySpec("impute_dict_customer", (s, dir) => {
      val c = t(s, dir, "customer")
      Wrangler.imputeByDict(
          c.filter(col("c_custkey") % 10 =!= 0),
          c.filter(col("c_custkey") % 10 === 0),
          "c_nationkey", "c_mktsegment")
        .select(col("c_custkey"), col("pred"))
        .orderBy(col("c_custkey"))
    },
      """WITH train AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
        |test AS (SELECT * FROM customer WHERE c_custkey % 10 = 0),
        |cnt AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
        |  FROM train GROUP BY 1, 2),
        |dict AS (
        |  SELECT c_nationkey, c_mktsegment FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY cnt DESC, c_mktsegment) AS rn FROM cnt)
        |  WHERE rn = 1),
        |g AS (
        |  SELECT c_mktsegment FROM train GROUP BY 1
        |  ORDER BY COUNT(*) DESC, c_mktsegment LIMIT 1)
        |SELECT t.c_custkey,
        |  COALESCE(d.c_mktsegment, (SELECT c_mktsegment FROM g)) AS pred
        |FROM test t LEFT JOIN dict d ON t.c_nationkey = d.c_nationkey
        |ORDER BY t.c_custkey""".stripMargin),

    // ---- error detection vs broadcast vocabulary ---------------------------
    QuerySpec("error_detect_vocab_part", (s, dir) => {
      val p = t(s, dir, "part")
      val dirty = p.filter(col("p_partkey") % 10 === 0)
        .withColumn("val",
          when(col("p_partkey") % 50 === 0, concat(col("p_type"), lit("_xx")))
            .otherwise(col("p_type")))
        .select("p_partkey", "val")
      val vocab = p.filter(col("p_partkey") % 10 =!= 0)
        .select(col("p_type").as("val"))
      Wrangler.errorDetectByVocab(dirty, vocab, "val")
        .select(col("p_partkey"), col("pred"))
        .orderBy(col("p_partkey"))
    },
      """WITH vocab AS (
        |  SELECT DISTINCT p_type AS val FROM part WHERE p_partkey % 10 <> 0),
        |test AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 50 = 0 THEN p_type || '_xx' ELSE p_type END AS val
        |  FROM part WHERE p_partkey % 10 = 0)
        |SELECT t.p_partkey,
        |  CASE WHEN v.val IS NULL THEN 'yes' ELSE 'no' END AS pred
        |FROM test t LEFT JOIN vocab v ON t.val = v.val
        |ORDER BY t.p_partkey""".stripMargin),

    // ---- S3+P5/P7+T2+detector+G4: error-detection task end-to-end ----------
    // Reproduces the reference's split-directory layout (run_wrangler.py:
    // 121-135 + data_utils.py:288-305): one per-column CSV per split dir,
    // target column parsed from the filename token; the S3 sweep reads
    // train+test dirs, T2 co-sorts the (train, test, instruction) triples,
    // a vocabulary detector (trained on the clean train rows) predicts per
    // task, and G4 emits per-target confusion metrics. The CSV fixture
    // derives deterministically from `part`, so DuckDB can reproduce the
    // metrics straight from the parquet table.
    QuerySpec("error_detection_end_to_end_part", (s, dir) => {
      val p = t(s, dir, "part")
      val targets = Seq("pbrand" -> "p_brand", "ptype" -> "p_type")
      val root = freshFixtureDir("errdet_splits")
      val trainDir =
        java.nio.file.Files.createDirectory(root.resolve("train_splits_single"))
      val testDir =
        java.nio.file.Files.createDirectory(root.resolve("test_splits_single"))
      def dump(where: java.nio.file.Path, colName: String,
          rows: Seq[String]): Unit = {
        val content = (s"rowkey,$colName,is_clean" +: rows).mkString("\n")
        java.nio.file.Files.write(where.resolve(s"table_split_$colName.csv"),
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      targets.foreach { case (colName, src) =>
        val test = p.filter(col("p_partkey") % 10 === 0)
          .select(col("p_partkey").cast("long").as("k"),
            when(col("p_partkey") % 50 === 0, concat(col(src), lit("_xx")))
              .otherwise(col(src)).as("v"),
            when(col("p_partkey") % 50 === 0, lit(0)).otherwise(lit(1)).as("c"))
          .orderBy(col("k")).collect()
          .map(r => s"${r.getLong(0)},${r.getString(1)},${r.getInt(2)}").toSeq
        val train = p.filter(col("p_partkey") % 10 =!= 0)
          .select(col("p_partkey").cast("long").as("k"), col(src).as("v"))
          .orderBy(col("k")).collect()
          .map(r => s"${r.getLong(0)},${r.getString(1)},1").toSeq
        dump(testDir, colName, test)
        dump(trainDir, colName, train)
      }
      val trainTasks = Readers.errorDetectionDir(s, trainDir.toString)
      val testTasks = Readers.errorDetectionDir(s, testDir.toString)
      val (trainAligned, testAligned, _) = Samplers.coSort3(
        trainTasks.map(x => (x._1, x._2)), testTasks.map(x => (x._1, x._2)),
        trainTasks.map(_._3))
      trainAligned.zip(testAligned).map {
        case ((colName, trainDf), (_, testDf)) =>
          val vocab = trainDf.filter(col("label_str") === "no").select("text")
          val applied = Wrangler.errorDetectByVocab(testDf, vocab, "text")
          Metrics.confusionMetrics(applied, "pred", "label_str")
            .withColumn("target", lit(colName))
      }.reduce(_ unionByName _).orderBy(col("target"))
    },
      // Oracle recomputes the error-detection pipeline straight from `part`
      // (the CSV split-dir round-trip on the Spark side is value-preserving).
      """WITH t1 AS (
        |  SELECT CASE WHEN p_partkey % 50 = 0 THEN p_brand || '_xx'
        |    ELSE p_brand END AS val,
        |    CASE WHEN p_partkey % 50 = 0 THEN 'yes' ELSE 'no' END AS gold
        |  FROM part WHERE p_partkey % 10 = 0),
        |v1 AS (SELECT DISTINCT p_brand AS w FROM part WHERE p_partkey % 10 <> 0),
        |t2 AS (
        |  SELECT CASE WHEN p_partkey % 50 = 0 THEN p_type || '_xx'
        |    ELSE p_type END AS val,
        |    CASE WHEN p_partkey % 50 = 0 THEN 'yes' ELSE 'no' END AS gold
        |  FROM part WHERE p_partkey % 10 = 0),
        |v2 AS (SELECT DISTINCT p_type AS w FROM part WHERE p_partkey % 10 <> 0),
        |lab AS (
        |  SELECT 'pbrand' AS target,
        |    CASE WHEN v1.w IS NULL THEN 'yes' ELSE 'no' END AS pred, gold
        |  FROM t1 LEFT JOIN v1 ON t1.val = v1.w
        |  UNION ALL
        |  SELECT 'ptype' AS target,
        |    CASE WHEN v2.w IS NULL THEN 'yes' ELSE 'no' END AS pred, gold
        |  FROM t2 LEFT JOIN v2 ON t2.val = v2.w),
        |c AS (
        |  SELECT target, COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS crc,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM lab GROUP BY target),
        |p AS (
        |  SELECT *,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fp), 6) AS prec,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fn), 6) AS rec,
        |    ROUND(CAST(crc AS DOUBLE) / total, 6) AS acc
        |  FROM c)
        |SELECT target, total, crc, tp, fn, tn, fp, prec, rec, acc,
        |  ROUND(2.0 * prec * rec / GREATEST(1.0, prec + rec), 6) AS f1_legacy,
        |  ROUND(CASE WHEN prec + rec > 0.0
        |    THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END, 6) AS f1
        |FROM p ORDER BY target""".stripMargin),

    // ---- imputation task end-to-end: learned dict → apply → G4 metrics -----
    QuerySpec("impute_end_to_end_customer", (s, dir) => {
      val c = t(s, dir, "customer")
      val applied = Wrangler.imputeByDict(
        c.filter(col("c_custkey") % 10 =!= 0),
        c.filter(col("c_custkey") % 10 === 0),
        "c_nationkey", "c_mktsegment")
      Metrics.confusionMetrics(
        applied.withColumn("gold", col("c_mktsegment")), "pred", "gold")
    },
      """WITH train AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
        |test AS (SELECT * FROM customer WHERE c_custkey % 10 = 0),
        |cnt AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
        |  FROM train GROUP BY 1, 2),
        |dict AS (
        |  SELECT c_nationkey, c_mktsegment FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY cnt DESC, c_mktsegment) AS rn FROM cnt)
        |  WHERE rn = 1),
        |g AS (
        |  SELECT c_mktsegment FROM train GROUP BY 1
        |  ORDER BY COUNT(*) DESC, c_mktsegment LIMIT 1),
        |pred AS (
        |  SELECT COALESCE(d.c_mktsegment, (SELECT c_mktsegment FROM g)) AS pred,
        |    t.c_mktsegment AS gold
        |  FROM test t LEFT JOIN dict d ON t.c_nationkey = d.c_nationkey),
        |c AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN lower(trim(pred)) = lower(trim(gold))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS crc
        |  FROM pred)
        |SELECT total, crc,
        |  CAST(0 AS BIGINT) AS tp, CAST(0 AS BIGINT) AS fn,
        |  CAST(0 AS BIGINT) AS tn, CAST(0 AS BIGINT) AS fp,
        |  0.0 AS prec, 0.0 AS rec,
        |  ROUND(CAST(crc AS DOUBLE) / total, 6) AS acc,
        |  0.0 AS f1_legacy, 0.0 AS f1
        |FROM c""".stripMargin),

    // ---- transformation task end-to-end: synthesize → apply → G4 metrics ---
    QuerySpec("transform_end_to_end_part", (s, dir) => {
      val data = t(s, dir, "part").select(col("p_partkey"),
        col("p_name").as("text"), upper(col("p_name")).as("label_str"))
      val (_, applied) = Wrangler.runTransformation(data, "p_partkey", None)
      Metrics.confusionMetrics(applied, "pred", "label_str")
    },
      """WITH te AS (
        |  SELECT p_partkey FROM (
        |    SELECT p_partkey, ROW_NUMBER() OVER (ORDER BY p_partkey) AS rn
        |    FROM part) WHERE rn > 3),
        |c AS (SELECT COUNT(*) AS total FROM te)
        |SELECT total, total AS crc,
        |  CAST(0 AS BIGINT) AS tp, CAST(0 AS BIGINT) AS fn,
        |  CAST(0 AS BIGINT) AS tn, CAST(0 AS BIGINT) AS fp,
        |  0.0 AS prec, 0.0 AS rec, 1.0 AS acc,
        |  0.0 AS f1_legacy, 0.0 AS f1
        |FROM c""".stripMargin),

    // ---- V1-V5+F2 end-to-end program synthesis + distributed apply ---------
    // Deterministic: demos (first 3 parts by key) admit exactly UpperCase
    // from the RuleSynthesizer candidate order.
    QuerySpec("synthesize_transform_part", (s, dir) => {
      val data = t(s, dir, "part").select(col("p_partkey"),
        col("p_name").as("text"), upper(col("p_name")).as("label_str"))
      val (_, applied) = Wrangler.runTransformation(data, "p_partkey", None)
      applied.select(col("p_partkey"), col("pred")).orderBy(col("p_partkey"))
    },
      """SELECT p_partkey, upper(p_name) AS pred FROM (
        |  SELECT p_partkey, p_name,
        |    ROW_NUMBER() OVER (ORDER BY p_partkey) AS rn FROM part)
        |WHERE rn > 3 ORDER BY p_partkey""".stripMargin),

    // ---- §4 custom rule: serialize→re-split round trip collapses -----------
    // P2-serializes three part columns then applies the synthesized
    // SplitIndex program — the exact build-a-string-then-reparse shape the
    // reference's prompts teach. With SerializeResplitRule registered, the
    // optimized plan reads `p_brand` directly (RuleSpec asserts the collapse;
    // the oracle checks the values). The rule lives in a DEDICATED child
    // session (`newSession`: same SparkContext + catalog state isolation),
    // never the shared one — round-2 registered it into the shared session's
    // `experimental.extraOptimizations`, which made every later query in the
    // run pay the rule's pattern match over its plan.
    QuerySpec("resplit_rewrite_part", (s, dir) => {
      val ruled = s.newSession()
      ruled.experimental.extraOptimizations = Seq(SerializeResplitRule)
      val prog = TransformProgram.SplitIndex("^", 1)
      t(ruled, dir, "part")
        .withColumn("text",
          Serialize.serializeSimple(Seq("p_name", "p_brand", "p_type")))
        .select(col("p_partkey"), prog.toColumn(col("text")).as("pred"))
        .orderBy(col("p_partkey"))
    },
      // The rewrite is semantics-preserving: the oracle is simply the column
      // the collapsed plan reads directly.
      """SELECT p_partkey, p_brand AS pred
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- F1 transform program as a column expression (unit conversion) -----
    QuerySpec("transform_affine_lineitem", (s, dir) => {
      val prog = TransformProgram.AffineNumber(1.8, 32.0, 1) // °C → °F
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          prog.toColumn(col("l_quantity").cast("string")).as("pred"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  CAST(ROUND(l_quantity * 1.8 + 32, 1) AS VARCHAR) AS pred
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- F6 geo/calendar DSL family: deg↔DMS + fixed-zone shift ------------
    // Inputs are built from exact integers via identical printf formats in
    // both engines, so the only doubles are the conversion arithmetic —
    // identical IEEE ops on identical inputs.
    QuerySpec("transform_geo_part", (s, dir) => {
      val toDms = TransformProgram.DegToDms(1)
      val toDeg = TransformProgram.DmsToDeg(6)
      val shift = TransformProgram.FixedZoneShift(
        "yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy HH:mm", 330)
      val hijri = TransformProgram.GregorianToHijri()
      val p = t(s, dir, "part")
        .withColumn("deg_in",
          format_string("%d.%04d", col("p_partkey") % 90,
            col("p_partkey") % 10000))
        .withColumn("ts_in",
          format_string("%04d-%02d-%02d %02d:%02d:00",
            lit(1995) + col("p_partkey") % 3,
            lit(1) + col("p_partkey") % 12,
            lit(1) + col("p_partkey") % 28,
            col("p_partkey") % 24, col("p_partkey") % 60))
        .withColumn("date_in",
          format_string("%04d-%02d-%02d",
            lit(1990) + col("p_partkey") % 60,
            lit(1) + col("p_partkey") % 12,
            lit(1) + col("p_partkey") % 28))
      p.select(col("p_partkey"),
          toDms.toColumn(col("deg_in")).as("dms"),
          toDeg.toColumn(toDms.toColumn(col("deg_in"))).as("deg_roundtrip"),
          shift.toColumn(col("ts_in")).as("shifted"),
          hijri.toColumn(col("date_in")).as("hijri"))
        .orderBy(col("p_partkey"))
    },
      // deg→DMS→deg + fixed-zone shift replay: the same IEEE double ops on
      // the same printf-built inputs; the DMS seconds string round-trips
      // exactly (shortest double representation), so the reconstruction uses
      // the numeric components directly.
      """WITH base AS (
        |  SELECT p_partkey,
        |    CAST(printf('%d.%04d', p_partkey % 90, p_partkey % 10000)
        |      AS DOUBLE) AS v,
        |    printf('%04d-%02d-%02d %02d:%02d:00',
        |      1995 + p_partkey % 3, 1 + p_partkey % 12, 1 + p_partkey % 28,
        |      p_partkey % 24, p_partkey % 60) AS ts_in,
        |    1990 + p_partkey % 60 AS gy, 1 + p_partkey % 12 AS gm,
        |    1 + p_partkey % 28 AS gd
        |  FROM part),
        |dms AS (
        |  SELECT p_partkey, v, ts_in, gy, gm, gd,
        |    CAST(FLOOR(v) AS BIGINT) AS d,
        |    CAST(FLOOR((v - FLOOR(v)) * 60) AS BIGINT) AS m,
        |    ROUND(((v - FLOOR(v)) * 60 - FLOOR((v - FLOOR(v)) * 60)) * 60, 1)
        |      AS sec
        |  FROM base),
        |hj1 AS (
        |  SELECT *, (14 - gm) // 12 AS ha FROM dms),
        |hj2 AS (
        |  SELECT *, gd + ((gm + ha*12 - 3) * 153 + 2) // 5
        |    + (gy + 4800 - ha) * 365 + (gy + 4800 - ha) // 4
        |    - (gy + 4800 - ha) // 100 + (gy + 4800 - ha) // 400 - 32045
        |    AS jdn
        |  FROM hj1),
        |hj3 AS (SELECT *, jdn - 1948440 + 10632 AS l0 FROM hj2),
        |hj4 AS (SELECT *, (l0 - 1) // 10631 AS n FROM hj3),
        |hj5 AS (SELECT *, l0 - n * 10631 + 354 AS l1 FROM hj4),
        |hj6 AS (
        |  SELECT *, ((10985 - l1) // 5316) * ((l1 * 50) // 17719)
        |    + (l1 // 5670) * ((l1 * 43) // 15238) AS hj
        |  FROM hj5),
        |hj7 AS (
        |  SELECT *, l1 - ((30 - hj) // 15) * ((hj * 17719) // 50)
        |    - (hj // 16) * ((hj * 15238) // 43) + 29 AS l2
        |  FROM hj6),
        |hj8 AS (
        |  SELECT *, n * 30 + hj - 30 AS hy, (l2 * 24) // 709 AS hm
        |  FROM hj7)
        |SELECT p_partkey,
        |  CAST(d AS VARCHAR) || '°' || CAST(m AS VARCHAR) || '''' ||
        |    CAST(sec AS VARCHAR) || '"' AS dms,
        |  CAST(ROUND(d + m / 60.0 + sec / 3600.0, 6) AS VARCHAR)
        |    AS deg_roundtrip,
        |  strftime(strptime(ts_in, '%Y-%m-%d %H:%M:%S')
        |    + INTERVAL 330 MINUTE, '%d/%m/%Y %H:%M') AS shifted,
        |  printf('%04d-%02d-%02d', hy, hm, l2 - (hm * 709) // 24) AS hijri
        |FROM hj8 ORDER BY p_partkey""".stripMargin),

    // ---- F6 geo envelope: geodesic distance (haversine DSL node) -----------
    // Coordinate pairs synthesized from p_partkey with INTEGER printf so
    // both engines build byte-identical input strings; the node parses and
    // computes the identical double formula (see HaversineKm).
    QuerySpec("transform_haversine_part", (s, dir) => {
      val hv = TransformProgram.HaversineKm(3)
      val p = t(s, dir, "part")
        .withColumn("pair_in",
          format_string("%d.%02d,%d.%02d -> %d.%02d,%d.%02d",
            col("p_partkey") % 80, col("p_partkey") % 100,
            col("p_partkey") % 170, (col("p_partkey") * 7) % 100,
            (col("p_partkey") * 3) % 80, (col("p_partkey") * 13) % 100,
            (col("p_partkey") * 11) % 170, (col("p_partkey") * 17) % 100))
      p.select(col("p_partkey"), col("pair_in"),
          hv.toColumn(col("pair_in")).as("dist_km"))
        .orderBy(col("p_partkey"))
    },
      // Haversine: the oracle re-parses the pair string with the same regex
      // and runs the same fixed-order double formula (pi()/libm trig agree
      // bit-for-bit with the JVM on this platform — the ln/exp contract
      // every scored query already relies on; ROUND(.,3) is the guard).
      """WITH base AS (
        |  SELECT p_partkey,
        |    printf('%d.%02d,%d.%02d -> %d.%02d,%d.%02d',
        |      p_partkey % 80, p_partkey % 100,
        |      p_partkey % 170, (p_partkey * 7) % 100,
        |      (p_partkey * 3) % 80, (p_partkey * 13) % 100,
        |      (p_partkey * 11) % 170, (p_partkey * 17) % 100) AS pair_in
        |  FROM part),
        |px AS (
        |  SELECT p_partkey, pair_in,
        |    CAST(regexp_extract(pair_in,
        |      '(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)\s*->\s*(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)', 1) AS DOUBLE)
        |      * pi() / 180.0 AS la1,
        |    CAST(regexp_extract(pair_in,
        |      '(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)\s*->\s*(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)', 2) AS DOUBLE)
        |      * pi() / 180.0 AS lo1,
        |    CAST(regexp_extract(pair_in,
        |      '(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)\s*->\s*(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)', 3) AS DOUBLE)
        |      * pi() / 180.0 AS la2,
        |    CAST(regexp_extract(pair_in,
        |      '(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)\s*->\s*(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)', 4) AS DOUBLE)
        |      * pi() / 180.0 AS lo2
        |  FROM base),
        |h AS (
        |  SELECT p_partkey, pair_in,
        |    power(sin((la2 - la1) / 2), 2)
        |      + cos(la1) * cos(la2) * power(sin((lo2 - lo1) / 2), 2) AS hh
        |  FROM px)
        |SELECT p_partkey, pair_in,
        |  CAST(ROUND(asin(sqrt(least(1.0, hh))) * 12742.0176, 3) AS VARCHAR) AS dist_km
        |FROM h ORDER BY p_partkey""".stripMargin),

    // ---- F1 tier-2 escape hatch: opaque closure behind a ScalaUDF ----------
    // A program the closed DSL can't express (reverse + conditional throw),
    // with the reference's per-row try/except semantics: the throwing rows
    // surface as the "Not excutable" sentinel (function_generator.py:143-147).
    QuerySpec("transform_opaque_part", (s, dir) => {
      val prog = TransformProgram.Chain(Seq(
        TransformProgram.TrimWs,
        TransformProgram.OpaqueFn("rev_upper_mod7", { v =>
          if (v.length % 7 == 0) throw new IllegalArgumentException("mod7")
          else v.reverse.toUpperCase
        })))
      Wrangler.applyProgram(
          t(s, dir, "part").select(col("p_partkey"), col("p_name")),
          prog, "p_name")
        .select(col("p_partkey"), col("pred"))
        .orderBy(col("p_partkey"))
    },
      // Opaque-UDF semantics replayed declaratively: trim, then either the
      // reverse-upper transform or the sentinel where the closure throws
      // (length divisible by 7 after trim).
      """SELECT p_partkey,
        |  CASE WHEN length(trim(p_name)) % 7 = 0 THEN 'Not excutable'
        |       ELSE upper(reverse(trim(p_name))) END AS pred
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- EM blocking: sorted-neighborhood candidates -----------------------
    // The fixed-pair-budget blocking scheme beside PPJoin: sort parts by
    // lowercased name, window 8 — candidate mass is n·7 by construction.
    // Each candidate pair scores the usual token-jaccard decision.
    QuerySpec("em_snm_part", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").cast("long").as("id"),
          lower(col("p_name")).as("key"),
          Wrangler.emTokens(col("p_name")).as("toks"))
      val names = p.select(col("id"), col("toks"))
      Dedup.snmPairs(p.select(col("id"), col("key")), "id", "key", 8)
        .join(names.select(col("id").as("id_a"), col("toks").as("__ka")),
          Seq("id_a"))
        .join(names.select(col("id").as("id_b"), col("toks").as("__kb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("rank_dist"),
          round(Wrangler.tokenJaccardArrays(col("__ka"), col("__kb")), 6)
            .as("jaccard_sim"))
        .withColumn("pred",
          when(col("jaccard_sim") >= 0.5, "Yes").otherwise("No"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // SNM replay: the rank is a plain ROW_NUMBER over (key, id) — the
      // bucket join is pure plumbing, so the oracle states the semantics
      // directly as a rank-distance self-join.
      """WITH p AS (
        |  SELECT p_partkey AS id, lower(p_name) AS k, p_name,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |r AS (
        |  SELECT id, toks,
        |    ROW_NUMBER() OVER (ORDER BY k, id) AS rn
        |  FROM p),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(b.rn - a.rn AS BIGINT) AS rank_dist,
        |    ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))), 6)
        |      AS jaccard_sim
        |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 7)
        |SELECT id_a, id_b, rank_dist, jaccard_sim,
        |  CASE WHEN jaccard_sim >= 0.5 THEN 'Yes' ELSE 'No' END AS pred
        |FROM pairs ORDER BY id_a, id_b""".stripMargin)
  )
}
