package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.{Readers, Tables}
import graft.metrics.Metrics
import graft.plans.{Joins, SerializeResplitRule}
import graft.sample.Samplers
import graft.scale.{Baskets, Dedup, Events, Geo, Graph, Multimodal, Similarity, TextAnalysis}
import graft.serialize.Serialize
import graft.streaming.Streams
import graft.tasks.Wrangler
import graft.transform.TransformProgram

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a deterministic demonstration of one
  * SURVEY.md §2 operator (or a scale-path operator) over the harness corpus,
  * paired with DuckDB-equivalent SQL in [[oracleSql]]. Determinism rules
  * (SURVEY §5.3): no rand, md5-based hashing, decimal-exact money sums,
  * integer-quantized vector math, epoch-second timestamps, explicit ORDER BY.
  */
object SparkEntry {

  /** Arena-match fabrication shared by the preference queries (batch and
    * streaming): players from event_id, outcome keyed on user_id % 10
    * (0 tie, 1..6 lower index wins, 7..9 higher).
    */
  private def arenaMatches(df: DataFrame): DataFrame =
    df.select(col("event_id").as("mid"),
        expr("event_id % 12").as("pa"),
        expr("(event_id div 12) % 12").as("pb"),
        expr("user_id % 10").as("ock"))
      .withColumn("oc",
        when(col("ock") === 0, lit(2))
          .when(col("ock") <= 6,
            when(col("pa") < col("pb"), lit(0)).otherwise(lit(1)))
          .otherwise(
            when(col("pa") > col("pb"), lit(0)).otherwise(lit(1))))

  /** Arena 3-way-race fabrication (the listwise sibling of
    * [[arenaMatches]]): three distinct players from event_id digit
    * groups, finish order keyed on user_id % 10 — 0..4 the id-ascending
    * order (lower index = stronger), 5..9 one of the five other
    * permutations each.
    */
  private def arenaRaces(df: DataFrame): DataFrame =
    df.select(expr("event_id % 12").as("x"),
        expr("(event_id div 12) % 12").as("y"),
        expr("(event_id div 144) % 12").as("z"),
        expr("user_id % 10").as("k"))
      .filter(col("x") =!= col("y") && col("x") =!= col("z") &&
        col("y") =!= col("z"))
      .withColumn("a", least(col("x"), col("y"), col("z")))
      .withColumn("c", greatest(col("x"), col("y"), col("z")))
      .withColumn("b",
        col("x") + col("y") + col("z") - col("a") - col("c"))
      .selectExpr(
        "CASE WHEN k <= 5 THEN a WHEN k <= 7 THEN b ELSE c END AS f",
        "CASE WHEN k <= 4 THEN b WHEN k = 5 THEN c WHEN k = 6 THEN a " +
          "WHEN k = 7 THEN c WHEN k = 8 THEN a ELSE b END AS s",
        "CASE WHEN k <= 4 THEN c WHEN k = 5 THEN b WHEN k = 6 THEN c " +
          "WHEN k = 7 THEN a WHEN k = 8 THEN b ELSE a END AS t3")

  /** The standard quantile probe set of the KLL sketch queries. */
  private val kllProbes: Seq[(Int, Int)] =
    Seq((1, 100), (5, 100), (10, 100), (25, 100), (50, 100), (75, 100),
      (90, 100), (95, 100), (99, 100))

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The planted benchmark set of the semantic-decontamination queries:
    * vec_id % 7 = 0 items are PARAPHRASES — the corpus embedding's
    * 1e-3-quantized integers jittered by (vec_id + i) % 5 − 2 milli-units
    * and divided back, so both engines recover exactly v_i + j_i after
    * quantization (no float-boundary flap; cosine to the source stays
    * ≈ 1). vec_id % 7 = 3 items are NOVEL — the reversed vector,
    * decorrelated from every corpus embedding (must not flag at 0.95).
    */
  private def semanticBench(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 7 === 0 || col("vec_id") % 7 === 3)
      .select(col("vec_id").as("bench_id"), expr(
        """CASE WHEN vec_id % 7 = 0 THEN
          |  transform(sequence(1, size(embedding)), i ->
          |    (round(CAST(element_at(embedding, i) AS DOUBLE) * 1000)
          |     + CAST((vec_id + i) % 5 - 2 AS DOUBLE)) / 1000.0D)
          |ELSE transform(sequence(1, size(embedding)), i ->
          |  CAST(element_at(embedding, size(embedding) - i + 1)
          |    AS DOUBLE))
          |END""".stripMargin).as("embedding"))

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

  /** Shared candidate relation of the two Fellegi-Sunter queries: SNM
    * blocking (lowercased name, window 8) over part, each pair carrying
    * its field-agreement booleans + the p_type gold label.
    */
  private def fsPairs(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    // tokens materialized ONCE per row before the pair join (emTokens'
    // documented rule) — per-pair tokenization re-splits each name
    // window−1 times
    val attrs = p.select(col("p_partkey").cast("long").as("id"),
      Wrangler.emTokens(col("p_name")).as("toks"),
      col("p_brand"), col("p_type"), col("p_size"))
    Dedup.snmPairs(
        p.select(col("p_partkey").cast("long").as("id"),
          lower(col("p_name")).as("key")),
        "id", "key", 8)
      .join(attrs.select(col("id").as("id_a"), col("toks").as("__ka"),
        col("p_brand").as("__ba"), col("p_type").as("__ta"),
        col("p_size").as("__sa")), Seq("id_a"))
      .join(attrs.select(col("id").as("id_b"), col("toks").as("__kb"),
        col("p_brand").as("__bb"), col("p_type").as("__tb"),
        col("p_size").as("__sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("__ba") === col("__bb")).as("brand_eq"),
        (abs(col("__sa") - col("__sb")) <= 1).as("size_close"),
        (Wrangler.tokenJaccardArrays(col("__ka"), col("__kb")) >= 0.5)
          .as("name_sim"),
        (col("__ta") === col("__tb")).as("gold"))
  }

  /** Map builder that REFUSES duplicate keys. A `Map(...)` literal silently
    * keeps the LAST binding on key collision — which really happened: a
    * reused "percentiles_lineitem" key shadowed the interpolated-percentile
    * query out of the oracle gate for part of a round, and the gate cannot
    * see a query that vanished from the map. Collisions fail loudly at
    * first registry access instead (every Verify/Bench/spec run hits this).
    */
  private[graft] def distinctKeys[V](what: String, pairs: Seq[(String, V)])
      : Map[String, V] = {
    val dups = pairs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate $what keys (silent shadowing): ${dups.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  /** Money-safe exact sum: cast to decimal, sum exactly, emit double. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** TPC-H discounted revenue Σ extendedprice·(1−discount), decimal-exact
    * (one definition — six query shapes share it, so a precision change
    * cannot silently diverge per query).
    */
  private def discountedRevenue: Column =
    sum(col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("double")

  /** Root for filesystem fixtures written by round-trip queries (CSV split
    * dirs, JSONL dumps); recursively deleted at JVM exit so repeated
    * bench/verify runs can't accumulate unbounded /tmp usage. Deletion must
    * be deferred to exit — the returned DataFrames read these paths lazily
    * at execution time.
    */
  private lazy val fixturesRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_fixtures")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(p.toFile)
    }))
    p
  }

  private def freshFixtureDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(fixturesRoot, prefix)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    pricingSummary(spark, "/root/testdata/sf0.001")

  /** TPC-H Q1-shaped rollup: scan → filter-free agg → sort. Exercises
    * parquet scan, partial+final hash agg, decimal-exact sums.
    */
  private def pricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        discountedRevenue.as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Morton interleave of the low 10 bits of x and y as portable SQL bit
    * ops — mirrors [[graft.io.ZOrder.zValue]] term for term.
    */
  private val zInterleaveSql: String =
    (0 until 10).map(i =>
      s"((((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1}))")
      .mkString(" | ")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    distinctKeys("queries", Seq(
    // ---- flagship scan+agg+sort -------------------------------------------
    "q1_pricing_summary" -> ((s, dir) => pricingSummary(s, dir)),

    // ---- P1 keyed serialization (customer) --------------------------------
    "serialize_keyed_customer" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          Serialize.serializeKeyed(Seq(
            "c_name" -> "c_name", "c_nationkey" -> "c_nationkey",
            "c_mktsegment" -> "c_mktsegment")).as("text"))
        .orderBy(col("c_custkey"))),

    // ---- P2 simple serialization (part) -----------------------------------
    "serialize_simple_part" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          Serialize.serializeSimple(
            Seq("p_name", "p_brand", "p_type", "p_size")).as("text"))
        .orderBy(col("p_partkey"))),

    // ---- J1+P3+P4 blocked-pair join + merged A/B serialization ------------
    // lineitem plays the labels table (ltable=part, rtable=supplier);
    // both dims broadcast (SURVEY §2.3 J1 scale note).
    "em_blocked_pairs" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = broadcast(t(s, dir, "part"))
      val supp = broadcast(t(s, dir, "supplier"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          Serialize.serializeMergedAB(
            Seq(col("p_name"), col("p_brand"), col("p_size")),
            Seq(col("s_name"), col("s_nationkey"),
              col("s_acctbal").cast("decimal(18,2)"))).as("text"),
          Serialize.yesNoLabel(
            when(col("l_returnflag") === "R", 1).otherwise(0)).as("label_str"))
      // no presentation sort: 600k output rows at sf0.1 — a trailing global
      // orderBy would be the single most expensive stage of the query, and
      // the driver compare is order-insensitive (it sorts rows itself).
      // Convention: small outputs keep ORDER BY for inspectability; the
      // >=50k-row outputs drop it (same for the other lineitem-wide tails).
    }),

    // ---- P1+P6+P8 imputation serialization (customer, target=mktsegment) --
    "impute_serialize_customer" -> ((s, dir) =>
      t(s, dir, "customer")
        .withColumn("c_acctbal_d", col("c_acctbal").cast("decimal(18,2)"))
        .select(col("c_custkey"),
          Serialize.serializeKeyed(Seq(
            "c_name" -> "c_name", "c_nationkey" -> "c_nationkey",
            "c_acctbal_d" -> "c_acctbal")).as("text"),
          Serialize.imputeLabel(col("c_mktsegment")).as("label_str"))
        .orderBy(col("c_custkey"))),

    // ---- P5+P7 error-detection labels (events as the dirty table) ---------
    "error_detection_labels" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("is_clean",
          when(col("event_type") =!= "error", 1).otherwise(0))
        .select(col("event_id"), col("props").as("text"),
          Serialize.invertedCleanLabel(col("is_clean")).as("label_str"))),

    // ---- A3 class-balanced downsample (deterministic variant) -------------
    "class_balanced_orders" -> ((s, dir) =>
      Samplers.classBalancedDeterministic(
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus"),
          "o_orderstatus", "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy(col("o_orderkey"))),

    // ---- A2 stratified sample (deterministic variant) ---------------------
    "stratified_sample_docs" -> ((s, dir) =>
      Samplers.stratifiedDeterministic(
          t(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id", 20)
        .orderBy(col("doc_id"))),

    // ---- A6 positional split (test side) ----------------------------------
    "positional_split_docs" -> ((s, dir) => {
      val (_, test) = Samplers.positionalSplit(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id", 3)
      test.orderBy(col("doc_id"))
    }),

    // ---- A5 head-fraction limit (parallel two-phase global rank — no
    // single-partition window stage) -----------------------------------------
    "head_fraction_lineitem" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      Samplers.headFractionOrdered(
          li, Seq("l_orderkey", "l_linenumber"), 0.1)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- deterministic hash-ish sample (shuffle-free, pruning-friendly) ----
    "modulo_sample_lineitem" -> ((s, dir) =>
      Samplers.moduloSample(
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_partkey"),
          "l_orderkey", 10, 3)
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // ---- T1 top-k ---------------------------------------------------------
    "topk_orders" -> ((s, dir) =>
      Samplers.topK(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        col("o_totalprice").desc, col("o_orderkey"), 10)),

    // ---- G1-G3 grouped aggregation stats ----------------------------------
    "group_stats_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"))),

    // ---- G4 confusion-matrix metrics (one-pass conditional agg) -----------
    "confusion_metrics_events" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("gold",
          when(col("value") > 100.0, "yes").otherwise("no"))
        .withColumn("pred",
          when(col("event_type").isin("error", "purchase"), "yes")
            .otherwise("no"))
      Metrics.confusionMetrics(e, "pred", "gold")
    }),

    // ---- F4 tolerant numeric equality (full extract→compare pipeline) -----
    "tolerant_equality_lineitem" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val delta = (col("l_linenumber") % 5).cast("double") * 0.01
      val pred = concat(lit("qty "),
        (col("l_quantity") + delta).cast("string"))
      val gold = concat(lit("qty "), col("l_quantity").cast("string"))
      li.select(col("l_orderkey"), col("l_linenumber"),
          Metrics.tolerantEquals(pred, gold).as("crc"))
    }),

    // ---- F4 fraction parsing path -----------------------------------------
    "tolerant_fraction_lineitem" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val pred = concat((col("l_partkey") % 7).cast("string"), lit("/8"))
      val gold = concat((col("l_suppkey") % 7).cast("string"), lit("/8"))
      li.select(col("l_orderkey"), col("l_linenumber"),
          Metrics.tolerantEquals(pred, gold).as("crc"))
    }),

    // ---- scale: exact dedup -----------------------------------------------
    "dedup_exact_docs" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), Seq("text"), "doc_id")
        .select("doc_id", "n_dups")
        .orderBy(col("doc_id"))),

    // ---- scale: MinHash signatures + LSH banding --------------------------
    "minhash_bands_docs" -> ((s, dir) =>
      Dedup.lshBands(
          Dedup.minhashSignatures(
            t(s, dir, "documents"), "doc_id", "text", 8, 3),
          "doc_id", 8, 2)
        .orderBy(col("doc_id"), col("band"))),

    // ---- scale: LSH candidate pairs ---------------------------------------
    "minhash_pairs_docs" -> ((s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text", 8, 2, 3)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- scale: incremental batch-vs-corpus dedup (exact + LSH screens) ----
    "incremental_dedup_docs" -> ((s, dir) =>
      Dedup.incrementalDedup(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- scale: LSH pairs → connected components → dedup clusters ----------
    "dup_clusters_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.duplicateClusters(docs,
          Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- dedup impact report: component-size distribution -------------------
    // How the duplicate mass is shaped: many pairs vs few giant templates
    // decide whether keep-one dedup or boilerplate scrubbing is the fix.
    "component_sizes_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sizes = Dedup.duplicateClusters(docs,
          Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id")
        .groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("sz"))
        .localCheckpoint(true) // cluster dictionary; feeds totals + panel
      val tot = sizes.agg(sum(col("sz")).as("__n"))
      sizes.groupBy(col("sz").as("size"))
        .agg(count(lit(1)).as("n_components"))
        .crossJoin(broadcast(tot))
        .select(col("size"), col("n_components"),
          (col("size") * col("n_components")).as("n_docs"),
          round((col("size") * col("n_components")).cast("double") /
            col("__n").cast("double"), 6).as("doc_share"))
        .orderBy(col("size"))
    }),

    // ---- scale: same clusters via large-star/small-star contraction --------
    // The extreme-diameter CC path (Kiveris et al. SOCC'14) over the same
    // LSH pairs — identical output contract, so it shares the recursive-SQL
    // oracle with dup_clusters_docs (the oracle describes components, not
    // the algorithm).
    "dup_clusters_star_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.connectedComponentsStar(docs,
          Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- scale: intra-document repeated-sentence removal -------------------
    "sentence_dedup_docs" -> ((s, dir) =>
      Dedup.dedupSentences(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- scale: dedup-threshold tuning curve -------------------------------
    "dedup_threshold_sweep_docs" -> ((s, dir) =>
      Dedup.dedupThresholdSweep(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("threshold"))),

    // ---- scale: leakage-safe split (clusters are the assignment unit) ------
    "leakage_split_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.leakageSafeSplit(docs,
          Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id", 0.2)
        .orderBy(col("doc_id"))
    }),

    // ---- leakage-safe k-fold cross-validation assignment -------------------
    // Every near-dup cluster lands whole in one of 5 folds (salted hash of
    // the cluster representative) — no fold validates on a near-duplicate
    // of another fold's training data, and membership is content-stable
    // under corpus growth.
    "kfold_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.kFoldSplit(docs,
          Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id", 5)
        .orderBy(col("doc_id"))
    }),

    // ---- scale: n-gram Jaccard near-dup pairs -----------------------------
    "jaccard_pairs_docs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
          t(s, dir, "documents"), "doc_id", "text", 3, 0.2, 100)
        .select(col("id_a"), col("id_b"), col("n_common"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // ---- LSH tuning advisor: expected recall of (b=4, r=2) on THIS
    // corpus's near-dup pair population, per similarity decile -------------
    "lsh_tuning_docs" -> ((s, dir) =>
      Dedup.lshRecallEstimate(
          Dedup.ngramJaccardPairs(
            t(s, dir, "documents"), "doc_id", "text", 3, 0.2, 100),
          4, 2)
        .orderBy(col("bucket"))),

    // ---- scale: SimHash near-dup pairs (oracle: DuckDB '0x..' hex cast) ---
    "simhash_pairs_docs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", 20, 8)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- scale: text quality features -------------------------------------
    "quality_docs" -> ((s, dir) =>
      TextAnalysis.qualityFeatures(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "n_distinct", "distinct_ratio",
          "stopword_ratio")
        .orderBy(col("doc_id"))),

    // ---- scale: language-ID heuristic --------------------------------------
    "lang_id_docs" -> ((s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"), "text")
        .select("doc_id", "lang", "pred_lang")
        .orderBy(col("doc_id"))),

    // ---- scale: document fingerprints --------------------------------------
    "fingerprint_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.minShingleFingerprint(col("text"), 3).as("min_shingle_fp"))
        .orderBy(col("doc_id"))),

    // ---- scale: token counting ---------------------------------------------
    "token_count_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
          size(TextAnalysis.regexTokens(col("text"))).as("n_re_tokens"))
        .orderBy(col("doc_id"))),

    // ---- scale: concat-and-chunk sequence packing ---------------------------
    // The GPT pretraining manifest: documents laid end-to-end in doc_id
    // order, the token stream cut into 256-token context windows, one
    // row per (chunk, doc piece) with offsets. One globalCumSum scaffold
    // pass + a narrow per-doc sequence() explode — output mass is
    // corpus tokens / 256 + one row per doc.
    "pack_sequences_docs" -> ((s, dir) =>
      TextAnalysis.packSequences(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", 256L)
        .orderBy(col("chunk_id"), col("chunk_offset"))),

    // ---- scale: brute-force cosine top-k (quantized, oracle-exact) --------
    "ann_topk_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ---- scale: 1-bit binary quantization, Hamming shortlist + rerank ------
    "bq_topk_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bqTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", 10, 40)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ---- scale: ANN recall@k — IVF result graded against exact top-k -------
    "ann_recall_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      Similarity.recallAtK(
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10),
          Similarity.ivfTopK(q, e, "vec_id", "embedding", 10, 100),
          10)
        .orderBy(col("query_id"))
    }),

    // ---- index quality beyond recall: rank-biased overlap -------------------
    // Same exact-vs-IVF comparison as ann_recall, but depth-weighted:
    // right neighbors in the wrong ORDER score below a nailed head.
    "rbo_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      Similarity.rankBiasedOverlap(
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10),
          Similarity.ivfTopK(q, e, "vec_id", "embedding", 10, 100),
          10)
        .orderBy(col("query_id"))
    }),

    // ---- scale: one Lloyd iteration, oracle-exact (quantized L2 argmin) ----
    // Assignment by exact-integer squared L2 over quantized vectors (native
    // l2Sq kernel), deterministic ties → lowest centroid; centroid update as
    // exact integer sums per (centroid, dim) → rounded mean. The
    // k-means/IVF training loop's single step, DuckDB-checkable.
    // ---- cluster-balanced (√-mass quota) selection --------------------------
    "cluster_balanced_embeddings" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      val cents = vecs.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          Similarity.quantize(col("embedding")).as("centv"))
      Similarity.clusterBalancedSelect(vecs, cents,
          "vec_id", "embedding", 300L)
        .orderBy(col("cluster"), col("sel_rank"))
    }),

    "kmeans_assign_embeddings" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id").as("__id"),
          Similarity.quantize(col("embedding")).as("__v"))
      val cents = vecs.filter(col("__id") < 4)
        .select(col("__id").as("centroid_id"), col("__v").as("centv"))
      val w = Window.partitionBy(col("__id"))
        .orderBy(col("__d2"), col("centroid_id"))
      val assigned = vecs.crossJoin(broadcast(cents))
        .withColumn("__d2", Similarity.l2Sq(col("__v"), col("centv")))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
      assigned
        .select(col("centroid_id"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .select(col("centroid_id"), col("pos"), col("n"),
          round(col("sx").cast("double") / col("n"), 6).as("m"))
        .orderBy(col("centroid_id"), col("pos"))
    }),

    // ---- scale: embedding near-dup pairs (sign-LSH blocked) ----------------
    "cosine_near_dup_embeddings" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding", 0.4, 8)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- scale: DBSCAN density clusters over embedding cosine ---------------
    // Cores/borders/noise over the sign-LSH-blocked eps-graph; cluster
    // labels = min member id via the CC machinery.
    "dbscan_embeddings" -> ((s, dir) =>
      Similarity.dbscanClusters(
          t(s, dir, "embeddings"), "vec_id", "embedding", 0.15, 3)
        .orderBy(col("id"))),

    // ---- scale: event sessionization (gap-based) ---------------------------
    "sessionize_events" -> ((s, dir) =>
      Events.sessionize(t(s, dir, "events"), 1800L)
        .orderBy(col("user_id"), col("session_idx"))),

    // ---- scale: tumbling-window aggregation --------------------------------
    "hourly_agg_events" -> ((s, dir) =>
      Events.hourlyAgg(t(s, dir, "events"))
        .orderBy(col("hour_epoch"), col("event_type"))),

    // ---- scale: sliding-window aggregation (1h window / 30m slide) ---------
    "sliding_agg_events" -> ((s, dir) =>
      Events.slidingAgg(t(s, dir, "events"))
        .orderBy(col("win_start"), col("event_type"))),

    // ---- scale: JSON property extraction + agg -----------------------------
    "json_props_events" -> ((s, dir) =>
      Events.extractProps(t(s, dir, "events"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("prop_k")).as("sum_k"),
          count(col("prop_k")).as("n_k"))
        .orderBy(col("event_type"))),

    // ---- full TPC-H Q1 shape: filtered scan (pushdown) + avg columns -------
    "q1_full_pricing" -> ((s, dir) => {
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
    }),

    // ---- grouping sets (beyond rollup/cube: explicit set list) -------------
    "grouping_sets_events" -> ((s, dir) => {
      val e = t(s, dir, "events")
      // (event_type) and (user_bucket) marginals in one pass
      e.groupBy(col("event_type"), (col("user_id") % 5).as("user_bucket"))
        .agg(count(lit(1)).as("n"))
        .cube(col("event_type"), col("user_bucket"))
        .agg(sum(col("n")).as("n"))
        .filter(grouping(col("event_type")) + grouping(col("user_bucket")) === 1)
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("user_bucket").cast("string"), lit("ALL"))
            .as("user_bucket"),
          col("n"))
        .orderBy(col("event_type"), col("user_bucket"))
    }),

    // ---- TPC-H Q3 shape: 3-way join, pushed filters, top-10 by revenue -----
    // customer filter and both date filters push into the parquet scans;
    // orders⋈lineitem is the fact-fact shuffle join, customer broadcasts.
    "q3_shipping_priority" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q5 shape: 6-way join, dims broadcast, region-filtered -------
    "q5_local_supplier" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q6 shape: pure pushed-filter scan + single aggregate --------
    "q6_forecast_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,4)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))),

    // ---- TPC-H Q18 shape: having-filtered fact agg semi-joined back --------
    // big-quantity orders: aggregate lineitem per order, HAVING over the
    // sum, then join orders+customer for the report — the agg output is the
    // small side and broadcasts back against the fact tables.
    "q18_large_orders" -> ((s, dir) => {
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
    }),

    // ---- window range frame: trailing 7-day spend per customer -------------
    "range_frame_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("day",
          expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) DIV 86400"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-7L, Window.currentRow)
      o.select(col("o_orderkey"), col("o_custkey"), col("day"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("spend_7d"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- §2.8 ranking/analytic windows (rank, lag, running frame sum) ------
    "window_analytics_orders" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          row_number().over(w).as("rn"),
          lag(col("o_totalprice").cast("decimal(18,2)"), 1).over(w)
            .cast("double").as("prev_price"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(wf)
            .cast("double").as("run_sum"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // ---- §2.3 semi join (customers with ≥1 finished order) -----------------
    "semi_join_customers" -> ((s, dir) => {
      val f = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      t(s, dir, "customer")
        .join(f, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy(col("c_custkey"))
    }),

    // ---- §2.3 anti join (dedup-against-seen shape) -------------------------
    "anti_join_customers" -> ((s, dir) => {
      val f = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      t(s, dir, "customer")
        .join(f, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy(col("c_custkey"))
    }),

    // ---- grouping-set family: rollup ---------------------------------------
    "rollup_revenue_lineitem" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ---- set ops: except + intersect ---------------------------------------
    "set_ops_docs" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id")
      d.except(d.filter(col("doc_id") % 7 === 0))
        .intersect(d.filter(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"))
    }),

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
    "em_similarity_part" -> ((s, dir) => {
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
    }),

    // ---- J3+G4 EM task end-to-end: PPJoin candidates → similarity
    // predicate → one-pass confusion metrics (gold = same p_type proxy).
    // Same retirement of the (p_brand, p_size) block as em_similarity_part:
    // the candidate universe is the exact all-pairs jaccard ≥ 0.3 relation,
    // pred thresholds at 0.5 within it.
    "em_end_to_end_part" -> ((s, dir) => {
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
    }),

    // ---- J3 scale path: PPJoin prefix-filter EM candidate generation -------
    // Same above-threshold pair semantics as em_similarity_part but with NO
    // blocking key: candidates come from a rarest-token prefix inverted
    // index (exact — no false negatives), so the pair set is the FULL
    // all-pairs `jaccard >= 0.5` relation, not just the within-(brand,size)
    // subset, and candidate mass tracks true near-match mass instead of
    // growing quadratically with block population.
    "em_similarity_ppjoin_part" -> ((s, dir) => {
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
    }),

    // ---- imputation via learned dictionary (broadcast mode-map) ------------
    "impute_dict_customer" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      Wrangler.imputeByDict(
          c.filter(col("c_custkey") % 10 =!= 0),
          c.filter(col("c_custkey") % 10 === 0),
          "c_nationkey", "c_mktsegment")
        .select(col("c_custkey"), col("pred"))
        .orderBy(col("c_custkey"))
    }),

    // ---- error detection vs broadcast vocabulary ---------------------------
    "error_detect_vocab_part" -> ((s, dir) => {
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
    }),

    // ---- S3+P5/P7+T2+detector+G4: error-detection task end-to-end ----------
    // Reproduces the reference's split-directory layout (run_wrangler.py:
    // 121-135 + data_utils.py:288-305): one per-column CSV per split dir,
    // target column parsed from the filename token; the S3 sweep reads
    // train+test dirs, T2 co-sorts the (train, test, instruction) triples,
    // a vocabulary detector (trained on the clean train rows) predicts per
    // task, and G4 emits per-target confusion metrics. The CSV fixture
    // derives deterministically from `part`, so DuckDB can reproduce the
    // metrics straight from the parquet table.
    "error_detection_end_to_end_part" -> ((s, dir) => {
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
    }),

    // ---- imputation task end-to-end: learned dict → apply → G4 metrics -----
    "impute_end_to_end_customer" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val applied = Wrangler.imputeByDict(
        c.filter(col("c_custkey") % 10 =!= 0),
        c.filter(col("c_custkey") % 10 === 0),
        "c_nationkey", "c_mktsegment")
      Metrics.confusionMetrics(
        applied.withColumn("gold", col("c_mktsegment")), "pred", "gold")
    }),

    // ---- transformation task end-to-end: synthesize → apply → G4 metrics ---
    "transform_end_to_end_part" -> ((s, dir) => {
      val data = t(s, dir, "part").select(col("p_partkey"),
        col("p_name").as("text"), upper(col("p_name")).as("label_str"))
      val (_, applied) = Wrangler.runTransformation(data, "p_partkey", None)
      Metrics.confusionMetrics(applied, "pred", "label_str")
    }),

    // ---- V1-V5+F2 end-to-end program synthesis + distributed apply ---------
    // Deterministic: demos (first 3 parts by key) admit exactly UpperCase
    // from the RuleSynthesizer candidate order.
    "synthesize_transform_part" -> ((s, dir) => {
      val data = t(s, dir, "part").select(col("p_partkey"),
        col("p_name").as("text"), upper(col("p_name")).as("label_str"))
      val (_, applied) = Wrangler.runTransformation(data, "p_partkey", None)
      applied.select(col("p_partkey"), col("pred")).orderBy(col("p_partkey"))
    }),

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
    "resplit_rewrite_part" -> ((s, dir) => {
      val ruled = s.newSession()
      ruled.experimental.extraOptimizations = Seq(SerializeResplitRule)
      val prog = TransformProgram.SplitIndex("^", 1)
      t(ruled, dir, "part")
        .withColumn("text",
          Serialize.serializeSimple(Seq("p_name", "p_brand", "p_type")))
        .select(col("p_partkey"), prog.toColumn(col("text")).as("pred"))
        .orderBy(col("p_partkey"))
    }),

    // ---- F1 transform program as a column expression (unit conversion) -----
    "transform_affine_lineitem" -> ((s, dir) => {
      val prog = TransformProgram.AffineNumber(1.8, 32.0, 1) // °C → °F
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          prog.toColumn(col("l_quantity").cast("string")).as("pred"))
    }),

    // ---- F6 geo/calendar DSL family: deg↔DMS + fixed-zone shift ------------
    // Inputs are built from exact integers via identical printf formats in
    // both engines, so the only doubles are the conversion arithmetic —
    // identical IEEE ops on identical inputs.
    "transform_geo_part" -> ((s, dir) => {
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
    }),

    // ---- F6 geo envelope: geodesic distance (haversine DSL node) -----------
    // Coordinate pairs synthesized from p_partkey with INTEGER printf so
    // both engines build byte-identical input strings; the node parses and
    // computes the identical double formula (see HaversineKm).
    "transform_haversine_part" -> ((s, dir) => {
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
    }),

    // ---- F1 tier-2 escape hatch: opaque closure behind a ScalaUDF ----------
    // A program the closed DSL can't express (reverse + conditional throw),
    // with the reference's per-row try/except semantics: the throwing rows
    // surface as the "Not excutable" sentinel (function_generator.py:143-147).
    "transform_opaque_part" -> ((s, dir) => {
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
    }),

    // ---- multimodal: binary payload + stub decode (mapPartitions batch) ----
    "multimodal_features_docs" -> ((s, dir) => {
      val mm = Multimodal.decodeFeatures(
        Multimodal.fromDocuments(t(s, dir, "documents")))
      mm.select(col("doc_id"), col("kind"), col("n_bytes"),
          element_at(col("features"), 1).as("f0"),
          element_at(col("features"), 2).as("f1"),
          element_at(col("features"), 3).as("f2"),
          element_at(col("features"), 4).as("f3"))
        .orderBy(col("doc_id"))
    }),

    // ---- audio screening panel over the codec seam -------------------------
    // Real RIFF/PCM16 payloads decode for real (incl. stereo downmix);
    // the text corpus flows through the md5 stub waveform. mapPartitions
    // emits exact integers only; RMS/silence are mirrored expressions.
    "audio_stats_docs" -> ((s, dir) =>
      Multimodal.audioStats(
        Multimodal.fromDocuments(t(s, dir, "documents")))
        .orderBy(col("doc_id"))),

    // ---- as-of join (union-sort, single shuffle): purchase ← last click ----
    // Times are epoch-µs: DuckDB timestamps are µs-precision, so the oracle
    // can only see µs — both engines compare/emit the same truncation.
    "asof_purchase_click_events" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          Events.epochMicros(e).as("pts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), Events.epochMicros(e).as("ts"), col("value"))
      Joins.asOfJoin(purchases, clicks, "user_id", "user_id",
          col("pts"), col("ts"), Seq("ts", "value"))
        .orderBy(col("event_id"))
    }),

    // ---- ANN scale path: IVF (assign → invert → probe own cell) ------------
    "ivf_topk_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e.filter(col("vec_id") < 5), e, "vec_id",
          "embedding", 5, 100)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ---- scale: IVF-PQ asymmetric-distance search (the 100 TB config) ------
    "ivfpq_topk_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 5), e, "vec_id",
          "embedding", 10)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ---- scale: IVF-PQ recall@k vs the exact-L2 ground truth ---------------
    // Same-metric grading: PQ approximates L2², so the ground truth is the
    // exact-L2 top-k, not the cosine one ann_recall uses for IVF-cosine.
    "ivfpq_recall_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      Similarity.recallAtK(
          Similarity.bruteForceTopKL2(q, e, "vec_id", "embedding", 10),
          Similarity.ivfPqTopK(q, e, "vec_id", "embedding", 10),
          10)
        .orderBy(col("query_id"))
    }),

    // ---- scale: OPQ (variance-balanced allocation) vs plain IVF-PQ ---------
    // Both indexes graded on the SAME shortlist budget against the same
    // exact-L2 ground truth (permutation preserves L2, so the truth is
    // shared); the snake-dealt layout spreads the variance budget across
    // subspaces where the contiguous split concentrates it.
    "opq_recall_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopKL2(q, e, "vec_id", "embedding", 10)
      val perm = Similarity.opqPermutation(e, "embedding", 4, 64)
      val er = Similarity.opqApply(e, "embedding", perm, 64)
      val qr = er.filter(col("vec_id") < 5)
      val pq = Similarity.recallAtK(exact,
          Similarity.ivfPqTopK(q, e, "vec_id", "embedding", 10), 10)
        .select(col("query_id"), col("n_hit").as("n_hit_pq"),
          col("recall").as("recall_pq"))
      val opq = Similarity.recallAtK(exact,
          Similarity.ivfPqTopK(qr, er, "vec_id", "embedding", 10), 10)
        .select(col("query_id"), col("n_hit").as("n_hit_opq"),
          col("recall").as("recall_opq"))
      pq.join(opq, Seq("query_id")).orderBy(col("query_id"))
    }),

    // ---- scale: RESIDUAL-encoding IVF-PQ recall (IVFADC proper) ------------
    // The codebook describes within-cell displacement instead of re-
    // describing each cell's centroid offset — the real billion-scale
    // index layout; graded against the same exact-L2 ground truth.
    "ivfpq_residual_recall_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      Similarity.recallAtK(
          Similarity.bruteForceTopKL2(q, e, "vec_id", "embedding", 10),
          Similarity.ivfPqResidualTopK(q, e, "vec_id", "embedding", 10),
          10)
        .orderBy(col("query_id"))
    }),

    // ---- canonical-representative dedup (keep best per group) -------------
    "dedup_keep_best_docs" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("doc_id", "source", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // ---- dedup diagnostic: duplication exposed by canonical-form choice ----
    // The synthetic corpus has zero byte-identical dups, so to give the
    // before/after diagnostic a real signal the query injects re-punctuated
    // copies of every 7th doc (the classic boilerplate-suffix case): raw
    // dedup must NOT catch them, normalized dedup must.
    "norm_dedup_gain_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val variants = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id") + 1000000L,
          concat(col("text"), lit(" !!")).as("text"))
      Dedup.normalizationGain(docs.union(variants), "text")
    }),

    // ---- layout: small-file compaction round trip ---------------------------
    // THE operational problem at 100 TB: a table fragmented into thousands
    // of small files (one per micro-batch/task) read-amplifies every scan.
    // Write the corpus as 64 shards, compact to ceil(n/200) by row count,
    // and prove bit fidelity via an order-invariant row checksum computed
    // on both layouts (oracle computes the same checksum from the source
    // table — all three must agree).
    "compaction_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = freshFixtureDir("graft_compact").toString
      val small = s"$base/small"; val packed = s"$base/packed"
      docs.repartition(64).write.mode("overwrite").parquet(small)
      val readSmall = s.read.parquet(small)
      val n = readSmall.count()
      val target = ((n + 199L) / 200L).toInt
      readSmall.repartition(target).write.mode("overwrite").parquet(packed)
      // unresolved column expression — binds to whichever layout it
      // aggregates over
      val checksum: Column = sum(Samplers.hashDraw32(
        concat_ws("|", col("doc_id").cast("string"), col("lang"),
          col("source"), col("n_chars").cast("string"),
          md5(col("text").cast("binary")))))
      // the oracle checks DATA fidelity (row count + content checksums
      // across the rewrite); the file-count layout expectation
      // (64 small → ceil(n/200) packed) is a property of the WRITER, which
      // DuckDB can't observe — it is asserted in LayoutSpec's compaction
      // test, so a writer-behavior change fails the spec with a layout
      // message instead of masquerading as an operator wrong-answer here
      s.read.parquet(packed).agg(checksum.as("checksum_packed"))
        .crossJoin(readSmall.agg(checksum.as("checksum_small"),
          count(lit(1)).as("n_rows")))
        .select(col("n_rows"), col("checksum_small"), col("checksum_packed"))
    }),

    // ---- ML eval: Brier decomposition + ECE/MCE of the hashed classifier ---
    // The scalar report card over the calibration curve: probability =
    // exact rational (w_sum + 1000n)/(2000n); Murphy terms fold on the
    // 10-bin dictionary.
    "brier_panel_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Metrics.brierPanel(
        TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"),
            (col("lang") === "en").cast("long").as("y")), Seq("doc_id"))
          .withColumn("pnum", col("w_sum") + lit(1000L) * col("n_tokens"))
          .withColumn("pden", lit(2000L) * col("n_tokens")),
        "pnum", "pden", "y", 10)
    }),

    // ---- isotonic calibration (PAV, exact minimax form) --------------------
    // The FIX beside the brier/ECE measurement: the optimal monotone
    // recalibration map over the same probability bins — fractions
    // ordered by cross-multiplication, nothing float-ordered.
    "isotonic_calibration_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Metrics.isotonicCalibration(
        TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"),
            (col("lang") === "en").cast("long").as("y")), Seq("doc_id"))
          .withColumn("pnum", col("w_sum") + lit(1000L) * col("n_tokens"))
          .withColumn("pden", lit(2000L) * col("n_tokens")),
        "pnum", "pden", "y", 10)
        .orderBy(col("bin"))
    }),

    // ---- ML eval: calibration curve of the hashed linear classifier --------
    // Decile-ish bins by EXACT integer math on (w_sum, n_tokens) — never
    // float bin edges, and the +1000·n offset keeps the dividend
    // non-negative so truncating (Spark DIV) and flooring (DuckDB //)
    // integer division agree.
    "calibration_docs" -> ((s, dir) => {
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
    }),

    // ---- batching: padding waste, arrival vs length-sorted batches ---------
    "padding_waste_docs" -> ((s, dir) =>
      TextAnalysis.paddingWaste(t(s, dir, "documents"), "doc_id", "text", 32)
        .orderBy(col("strategy"))),

    // ---- corpus statistics: Zipf-law fit over token frequencies ------------
    "zipf_fit_docs" -> ((s, dir) =>
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", 100)),

    // ---- corpus statistics: n-gram diversity (distinct-1/2/3 ratios) -------
    "ngram_diversity_docs" -> ((s, dir) =>
      TextAnalysis.ngramDiversity(t(s, dir, "documents"), "text", 3)
        .orderBy(col("n"))),

    // ---- corpus statistics: vocabulary coverage curve (tokenizer budget) ---
    "vocab_coverage_docs" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text", 200)
        .orderBy(col("rank"))),

    // ---- dedup QA: MinHash estimate vs exact Jaccard on LSH candidates -----
    "minhash_accuracy_docs" -> ((s, dir) =>
      Dedup.minhashAccuracy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))),

    // ---- corpus statistics: top-k tokens (explode → count → topk) ----------
    "top_tokens_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)),

    // ---- scale: token-budget shard packing (parallel global cumsum) --------
    "shard_pack_docs" -> ((s, dir) =>
      TextAnalysis.packIntoShards(t(s, dir, "documents"), "doc_id", "text", 1000L)
        .select(col("doc_id"), col("n_tokens"), col("shard_id"))
        .orderBy(col("doc_id"))),

    // ---- BFD sequence packing into fixed context windows -------------------
    // Whole-document packing with power-of-two length buckets: best-fit-
    // decreasing is optimal for divisor-chain sizes (Coffman-Garey-Johnson
    // 1987) and collapses to bins = ceil(volume/C) — exact rounding +
    // tail waste, vs the doc-splitting greedy (shard_pack) and the batch
    // padding account (padding_waste).
    "sequence_pack_docs" -> ((s, dir) =>
      TextAnalysis.bfdPack(t(s, dir, "documents"), "text", 256)
        .orderBy(col("kind"), col("bucket_len"))),

    // ---- BFD packing MANIFEST (the doc -> window assignment) ---------------
    // Contiguous volume layout in (bucket desc, id) order realizes the
    // same BFD packing per-document: divisor-chain buckets mean no doc
    // ever straddles a C-cut (see TextAnalysis.bfdPackManifest proof).
    "sequence_pack_manifest_docs" -> ((s, dir) =>
      TextAnalysis.bfdPackManifest(t(s, dir, "documents"), "doc_id",
          "text", 256)
        .orderBy(col("doc_id"))),

    // ---- shard release manifest (per-shard stats + content checksums) ------
    "shard_manifest_docs" -> ((s, dir) =>
      TextAnalysis.shardManifest(t(s, dir, "documents"), "doc_id", "text",
          1000L)
        .orderBy(col("shard_id"))),

    // ---- multimodal: frame sampling over video payloads --------------------
    "frame_sample_docs" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.fromDocuments(t(s, dir, "documents")), stride = 5)
        .orderBy(col("doc_id"), col("frame"))),

    // ---- JSONL source/sink round trip (LLM-corpus interchange format) ------
    // Writes the documents table as JSONL (distributed sink), reads it back
    // schema-first, and checks full row fidelity against the parquet
    // original (text via md5 to keep rows narrow). JSON escaping must be
    // lossless for this to hash-match.
    "jsonl_roundtrip_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val out = freshFixtureDir("graft_jsonl").toString
      docs.write.mode("overwrite").json(out)
      Readers.jsonl(s, out, Some(docs.schema))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- ORC source/sink round trip (second columnar format) ---------------
    "orc_roundtrip_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val out = freshFixtureDir("graft_orc").toString
      docs.write.mode("overwrite").orc(out)
      s.read.schema(docs.schema).orc(out)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- hive-partitioned layout: write by lang, read one partition --------
    // The partition filter must prune at the directory level (LayoutSpec
    // asserts the pruned plan); the oracle checks the data survives the
    // partitioned round trip exactly.
    "partitioned_layout_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val out = freshFixtureDir("graft_part").toString
      docs.write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- scale: passage-level cross-corpus dedup + reassembly --------------
    "passage_dedup_docs" -> ((s, dir) =>
      Dedup.passageDedup(t(s, dir, "documents"), "doc_id", "text", 10)
        .orderBy(col("doc_id"))),

    // ---- scale: benchmark decontamination (shared n-gram flag) -------------
    "decontaminate_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", 3)
        .orderBy(col("doc_id"))
    }),

    // ---- scale: FUZZY (MinHash-LSH) decontamination -------------------------
    "decontaminate_fuzzy_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateFuzzy(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", 8, 2, 3, 600000L)
        .orderBy(col("doc_id"))
    }),

    // ---- scale: SEMANTIC (embedding-space) decontamination ------------------
    // The paraphrase gate the lexical passes above miss: benchmark =
    // planted PARAPHRASE vectors (vec_id % 7 = 0 — the corpus vector
    // jittered by <= 2 milli-units per dim: same meaning-point in
    // embedding space, ZERO lexical trace for any n-gram pass to find)
    // plus novel items (vec_id % 7 = 3 — the REVERSED vector,
    // decorrelated: must NOT flag). IVF cell-probe walk, cosine >= 0.95
    // within cells only.
    "decontaminate_semantic_docs" -> ((s, dir) =>
      Dedup.decontaminateSemantic(t(s, dir, "embeddings"),
          semanticBench(t(s, dir, "embeddings")),
          "vec_id", "bench_id", "embedding", 0.95)
        .orderBy(col("corpus_id"))),

    // ---- MEASURED recall of the semantic pass against the planted truth ----
    // The phonetic_blocking_quality discipline: the planted paraphrases
    // ARE the ground truth, so recall is a measurement, not an
    // assertion — n_planted_flagged / n_planted, with the non-planted
    // flag count beside it (reversed novel items must contribute 0).
    "decontaminate_semantic_recall_docs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val flagged = Dedup.decontaminateSemantic(emb, semanticBench(emb),
        "vec_id", "bench_id", "embedding", 0.95)
      val hits = flagged.agg(
        count(lit(1)).as("n_flagged"),
        sum(when(col("corpus_id") % 7 === 0, 1L).otherwise(0L))
          .as("n_planted_flagged"))
      emb.agg(count(lit(1)).as("n_corpus"),
          sum(when(col("vec_id") % 7 === 0, 1L).otherwise(0L))
            .as("n_planted"))
        .crossJoin(hits)
        .withColumn("recall", when(col("n_planted") > 0L,
          round(col("n_planted_flagged").cast("double") /
            col("n_planted").cast("double"), 6)))
    }),

    // ---- per-benchmark contamination report (the release-audit table) -------
    // Three synthetic benchmarks carved from the eval slice; one band-
    // gated MinHash pass audits all of them, char mass as the reported
    // overlap weight.
    "contamination_report_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationReport(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0)
            .withColumn("benchmark",
              concat(lit("bench_"), (col("doc_id") % 3).cast("string"))),
          "doc_id", "text", "benchmark", "n_chars", 8, 2, 3, 600000L)
        .orderBy(col("benchmark"))
    }),

    // ---- scale: Flesch readability panel ------------------------------------
    "readability_docs" -> ((s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- scale: script / writing-system ID ---------------------------------
    // deterministic multi-script garnish per doc_id residue (the pii_scrub
    // synthetic-span precedent) so every class exercises at any sf
    "script_id_docs" -> ((s, dir) =>
      TextAnalysis.scriptId(t(s, dir, "documents")
          .withColumn("tx", concat(col("text"),
            when(col("doc_id") % 5 === 1, lit(" привет мир"))
              .when(col("doc_id") % 5 === 2, lit(" 你好 世界"))
              .when(col("doc_id") % 5 === 3, lit(" αβγ δε"))
              .when(col("doc_id") % 5 === 4, lit(" 0123 456789"))
              .otherwise(lit("")))),
        "doc_id", "tx")
        .orderBy(col("doc_id"))),

    // ---- scale: repetition quality signal (top-bigram fraction) ------------
    "repetition_docs" -> ((s, dir) =>
      TextAnalysis.repetitionScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- scale: corpus-frequency rarity score ------------------------------
    "corpus_freq_docs" -> ((s, dir) =>
      TextAnalysis.corpusFrequencyScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- scale: PII scrubbing (synthetic spans injected deterministically) -
    "pii_scrub_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.scrubPii(concat(
            col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@mail.com or 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-1234"))).as("clean_text"))
        .orderBy(col("doc_id"))),

    // ---- scale: checksum-validated PII detection (Luhn + IBAN mod-97) -----
    // Precision upgrade over the shape-only scrub: injected valid/invalid
    // card and IBAN spans per doc_id residue (plus too-short/too-long
    // digit-run decoys) — only checksum-passing candidates flag.
    "pii_luhn_docs" -> ((s, dir) =>
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
        .orderBy(col("doc_id"), col("kind"), col("token"))),

    // ---- streaming in the CHECKED surface: hourly agg via a file stream ---
    // Structured Streaming over the events parquet (AvailableNow semantics
    // through processAllAvailable), Complete-mode memory sink; deterministic
    // columns only (streaming countDistinct is unsupported → omitted). Same
    // oracle math as hourly_agg_events.
    "streaming_hourly_agg_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val agg = stream
        .groupBy(Events.hourEpoch(stream).as("hour_epoch"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      Streams.runToMemory(agg, "stream_hourly", OutputMode.Complete())
        .orderBy(col("hour_epoch"), col("event_type"))
    }),

    // ---- APPEND-mode hourly agg: watermark-evicted event-time windows ------
    // The state-retention story a continuous 100 TB ingest needs: Complete
    // mode re-emits (and retains) every window forever; HERE the 1-hour
    // watermark finalizes each window once event time passes its end,
    // emits it exactly once, and EVICTS its state — steady-state memory is
    // the open-window frontier, not the stream's history. Only closed
    // windows appear: window end ≤ watermark = ms-truncated max event
    // time − 1 h (the trailing open windows are withheld by design; the
    // oracle applies the same integer cutoff).
    "streaming_hourly_append_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val agg = stream
        .withColumn("__ts", Events.tsAsTimestamp(stream))
        .withWatermark("__ts", "1 hour")
        .groupBy(window(col("__ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(col("window.start").cast("long").as("hour_epoch"),
          col("event_type"), col("n_events"), col("sum_value"))
      Streams.runToMemory(agg, "stream_happend", OutputMode.Append())
        .orderBy(col("hour_epoch"), col("event_type"))
    }),

    // ---- streaming gap-based session windows in the CHECKED surface --------
    // session_window semantics are HALF-OPEN at µs precision: a new
    // session opens iff the inter-event gap is >= 30 min (the batch
    // lag-based sessionize uses strictly-greater at SECOND precision — a
    // deliberate pair of boundary semantics, each oracle-matched to its
    // operator). Complete mode: every session emits, matching the batch
    // ground truth over the full fixture.
    "streaming_session_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val agg = stream
        .withColumn("__ts", Events.tsAsTimestamp(stream))
        .groupBy(session_window(col("__ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"), col("sum_value"))
      Streams.runToMemory(agg, "stream_session", OutputMode.Complete())
        .orderBy(col("user_id"), col("start_us"))
    }),

    // ---- APPEND-mode session windows: watermark-evicted sessions -----------
    // The session-shaped eviction story beside the hourly Append twin: a
    // session closes (emits once, state evicted) when the watermark
    // passes its end = last event + gap; the trailing open sessions are
    // withheld by design and the oracle applies the same integer cutoff.
    "streaming_session_append_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val agg = stream
        .withColumn("__ts", Events.tsAsTimestamp(stream))
        .withWatermark("__ts", "1 hour")
        .groupBy(session_window(col("__ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"), col("sum_value"))
      Streams.runToMemory(agg, "stream_sessapp", OutputMode.Append())
        .orderBy(col("user_id"), col("start_us"))
    }),

    // ---- streaming sliding windows in the CHECKED surface ------------------
    "streaming_sliding_agg_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val agg = stream
        .withColumn("__ts", Events.tsAsTimestamp(stream))
        .groupBy(window(col("__ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
      Streams.runToMemory(agg, "stream_sliding", OutputMode.Complete())
        .orderBy(col("win_start"), col("event_type"))
    }),

    // ---- pivot (explicit value list → deterministic columns) ---------------
    "pivot_events" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .orderBy(col("user_bucket"))),

    // ---- cube over event_type × high-value flag ----------------------------
    // rollup nulls project to 'ALL': nullable booleans stringify differently
    // in the two engines' pandas bridges ('None' vs NaN) — a checker
    // artifact, not semantics — so the output carries no nulls.
    "cube_events" -> ((s, dir) =>
      t(s, dir, "events")
        .cube(col("event_type"),
          (col("value") > 100.0).as("high_value"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("high_value").cast("string"), lit("ALL"))
            .as("high_value"),
          col("n"))
        .orderBy(col("event_type"), col("high_value"))),

    // ---- sketches: approx distinct + approx percentiles (rows-only check:
    // sketch internals are engine-specific by design) ------------------------
    // The sketches themselves are engine-specific (HLL++ register layout,
    // quantile-summary compression order), so their raw values can't be
    // oracle-compared — and percentile_approx isn't even stable across
    // partitionings. What IS deterministic: each sketch's documented error
    // CONTRACT. The query emits exact companions plus boolean in-bound
    // flags — hll within 3×rsd of the exact distinct; each approx
    // percentile's rank interval [count(<v), count(<=v)]/n intersecting
    // q ± (1/accuracy + slack) — computed by joining the 5-row sketch
    // output back over the data (one extra broadcast-join scan). The
    // oracle pins the flags to TRUE: a sketch drifting out of contract
    // flips a flag and fails the hash compare.
    "approx_stats_events" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"), col("user_id"), col("value"))
      val sk = ev.groupBy(col("event_type")).agg(
        approx_count_distinct(col("user_id")).as("__au"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("__p50"),
        percentile_approx(col("value"), lit(0.99), lit(1000)).as("__p99"),
        countDistinct(col("user_id")).as("n_users"),
        count(col("value")).as("n_vals"))
      val n = col("n_vals").cast("double")
      ev.join(broadcast(sk), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          first(col("n_users")).as("n_users"),
          first(col("n_vals")).as("n_vals"),
          (abs(first(col("__au")) - first(col("n_users"))) <=
            first(col("n_users")) * 0.15).as("hll_ok"),
          (sum(when(col("value") < col("__p50"), 1L).otherwise(0L)) <=
            first(n) * 0.51 &&
           sum(when(col("value") <= col("__p50"), 1L).otherwise(0L)) >=
            first(n) * 0.49).as("p50_ok"),
          (sum(when(col("value") < col("__p99"), 1L).otherwise(0L)) <=
            first(n) * 1.0 &&
           sum(when(col("value") <= col("__p99"), 1L).otherwise(0L)) >=
            first(n) * 0.98).as("p99_ok"))
        .orderBy(col("event_type"))
    }),

    // ---- bounded-state mergeable distinct sketch (KMV / bottom-k) ----------
    // The deterministic counterpart of approx_count_distinct: state is the
    // 64 smallest distinct md5-prefix hashes per group (constant-width
    // map-side partials, merge-order-independent), so unlike HLL the oracle
    // replays kth/estimate EXACTLY — no tolerance flags.
    "kmv_distinct_events" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val hashed = ev.withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
        col("user_id").cast("string").cast("binary"), 15))
      graft.scale.Sketches.kmvDistinct(hashed, Seq("event_type"), col("__h"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_users")), Seq("event_type"))
        .select(col("event_type"), col("n_users"), col("n_sketch"),
          col("kmv_kth"), col("kmv_est"))
        .orderBy(col("event_type"))
    }),

    // ---- HLL distinct sketch (exactly-replayable registers) ----------------
    // The constant-state counterpart of kmv_distinct_events with O(1)
    // reduce: 64 byte registers per group, merged by elementwise max.
    // Registers are an exact function of the input SET (bucket + leading-
    // zero rank of the md5-prefix hash), so n_zero_regs / harmonic_num /
    // regs_digest are exact integers the oracle replays, and the final
    // alpha·m²·2^R/num estimate (with linear-counting small-range branch)
    // is one fixed-order double expression over them. Exact countDistinct
    // rides along for accuracy eyeballing.
    "hll_distinct_events" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val hashed = ev.withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
        col("user_id").cast("string").cast("binary"), 15))
      graft.scale.Sketches.hllDistinct(hashed, Seq("event_type"), col("__h"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_users")), Seq("event_type"))
        .select(col("event_type"), col("n_users"), col("n_zero_regs"),
          col("harmonic_num"), col("regs_digest"), col("hll_est"))
        .orderBy(col("event_type"))
    }),

    // ---- sliding-window distinct via mergeable HLL registers ---------------
    // Distinct users in the trailing 4 hours, per (event_type, hour) — the
    // sketch-ALGEBRA payoff: the raw events are scanned once into per-hour
    // register tables; every window is a register-max union of 4 tiny
    // rows-per-bucket slices (see Sketches.hllRollingDistinct). The exact
    // recount rides along as the accuracy companion (it pays the per-window
    // rescan the sketch exists to avoid).
    "rolling_hll_events" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0
        .withColumn("__es", graft.scale.Events.epochSeconds(ev0))
        .withColumn("hour", expr("__es DIV 3600"))
        .withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
          col("user_id").cast("string").cast("binary"), 15))
      val sk = graft.scale.Sketches.hllRollingDistinct(
          ev, Seq("event_type"), col("hour"), col("__h"), 4)
        .withColumnRenamed("tb", "hour")
      val du = ev.select(col("event_type"), col("hour"), col("user_id"))
        .distinct()
      // equi-ized trailing window (the hllRollupWindows rewrite): expand
      // each (type, hour, user) to the 4 anchor hours it can serve and
      // hash-agg, instead of the group-equality + hour-range join (a
      // per-type cartesian); left_semi keeps only anchors that exist
      val anchors = du.select(col("event_type").as("a_t"),
        col("hour").as("a_h")).distinct()
      val exact = du
        .select(col("event_type"),
          explode(sequence(col("hour"), col("hour") + lit(3L)))
            .as("hour"),
          col("user_id"))
        .join(anchors, col("event_type") === col("a_t") &&
          col("hour") === col("a_h"), "left_semi")
        .groupBy(col("event_type"), col("hour"))
        .agg(countDistinct(col("user_id")).as("n_users_4h"))
      sk.join(exact, Seq("event_type", "hour"))
        .select(col("event_type"), col("hour"), col("n_users_4h"),
          col("n_zero_regs"), col("harmonic_num"), col("regs_digest"),
          col("hll_est"))
        .orderBy(col("event_type"), col("hour"))
    }),

    // ---- KMV set-operation estimates (theta-sketch shape) ------------------
    // Per event_type: user-set overlap of two event slices (A = event_id
    // not ≡ 0 mod 3, B = even event_id) from 64-long sketches only — the
    // cross-corpus-overlap question at 100 TB without an exact distinct
    // join. Exact companions ride along; every sketch output is
    // exact-integer and replayed verbatim by the oracle.
    "kmv_setops_events" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val h = graft.scale.HashExprs.md5PrefixLong(
        col("user_id").cast("string").cast("binary"), 15)
      val a = ev.filter(col("event_id") % 3 =!= 0).withColumn("__h", h)
      val b = ev.filter(col("event_id") % 2 === 0).withColumn("__h", h)
      val sketch = graft.scale.Sketches.kmvSetEstimate(
        a, b, Seq("event_type"), col("__h"))
      val flags = ev.groupBy(col("event_type"), col("user_id")).agg(
        max(when(col("event_id") % 3 =!= 0, 1L).otherwise(0L)).as("ia"),
        max(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("ib"))
      val exact = flags.groupBy(col("event_type")).agg(
        sum(col("ia")).as("n_a"), sum(col("ib")).as("n_b"),
        sum(when(col("ia") === 1L || col("ib") === 1L, 1L).otherwise(0L))
          .as("n_union"),
        sum(when(col("ia") === 1L && col("ib") === 1L, 1L).otherwise(0L))
          .as("n_inter"))
      sketch.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_a"), col("n_b"), col("n_union"),
          col("n_inter"), col("n_both"), col("est_union"),
          col("est_intersect"))
        .orderBy(col("event_type"))
    }),

    // ---- Gopher repetition rule family (quality screens) -------------------
    "gopher_repetition_docs" -> ((s, dir) =>
      TextAnalysis.gopherRepetition(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("n"))),

    // ---- corpus-overlap matrix from per-source KMV sketches ----------------
    // Pairwise vocabulary union/intersection estimates between EVERY two
    // sources, from one 64-long sketch per source: the "which sources
    // duplicate each other" pre-dedup diagnostic. The corpus is scanned
    // once (sketch build); the 20×19/2 pair matrix is array math on ≤128
    // longs per pair — never a data-mass term.
    "kmv_source_overlap_docs" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("__w"))
        .withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
          col("__w").cast("binary"), 15))
      graft.scale.Sketches.kmvPairwiseOverlap(words, "source", col("__h"))
        .orderBy(col("g_a"), col("g_b"))
    }),

    // ---- media near-dup: perceptual-signature multi-band Hamming LSH -------
    // The LAION-style image-dedup shape over the fabricated media table:
    // REAL 60-bit DCT pHash (integer 8×8 DCT-II + median threshold,
    // Multimodal.dctPhash; only the pixel DECODE is the codec-seam stub)
    // → 4×15-bit band bucket join (complete for hamming ≤ 3 by
    // pigeonhole, linear candidate mass) → exact bit_count(xor) verify.
    "phash_pairs_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // deterministic duplicate injection (every 97th doc re-ingested under
      // a shifted id — the re-crawled-image situation), so the pair output
      // is non-empty at every SF: sf0.01 has no natural byte-identical docs
      val echo = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      val media = graft.scale.Multimodal.fromDocuments(docs.unionByName(echo))
      graft.scale.Multimodal.phashPairs(media)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- image-quality screening panel (blur / exposure, real pixels) -----
    // The LAION-style pre-fingerprint curation gate: variance-of-Laplacian
    // sharpness + brightness/contrast/extreme-pixel exposure screens over
    // the decoded 8×8 gray grid (real decode for recognized payloads; the
    // md5 stub grid here, so DuckDB replays every long exactly).
    "image_quality_docs" -> ((s, dir) =>
      Multimodal.imageQuality(
          Multimodal.fromDocuments(
            t(s, dir, "documents").select(col("doc_id"), col("text"))))
        .orderBy(col("doc_id"))),

    // ---- image-quality GATE roll-up (the curation keep/drop accounting) ---
    // The LAION-gate decision folded to corpus accounting: blurry =
    // Laplacian variance < 100 (decided on the exact integer moment
    // 36·Σl²−(Σl)² < 129600 — no float compare), dark/bright = more than
    // half the grid clipped. Conditions counted independently; kept =
    // none of the three.
    "image_quality_gate_docs" -> ((s, dir) =>
      Multimodal.imageQuality(
          Multimodal.fromDocuments(
            t(s, dir, "documents").select(col("doc_id"), col("text"))))
        .select(
          (lit(36L) * col("lap_sumsq") - col("lap_sum") * col("lap_sum")
            < 129600L).as("blurry"),
          (col("n_dark") > 32).as("dk"),
          (col("n_bright") > 32).as("br"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("blurry").cast("long")).as("n_blurry"),
          sum(col("dk").cast("long")).as("n_dark_heavy"),
          sum(col("br").cast("long")).as("n_bright_heavy"),
          sum((!col("blurry") && !col("dk") && !col("br")).cast("long"))
            .as("n_kept"))
        .withColumn("kept_frac",
          round(col("n_kept").cast("double") / col("n_images"), 6))),

    // ---- audio near-dup pairs (energy-delta fingerprint, banded) ----------
    // Re-ingested clips (every 97th doc, id shifted by a multiple of 3 so
    // the kind survives) collide at hamming 0; banding is complete for
    // hamming <= 3, verify is exact bit_count.
    "audio_dup_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val echo = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("doc_id", col("doc_id") + lit(999999999L))
      val media = Multimodal.fromDocuments(docs.unionByName(echo))
      Multimodal.audioDupPairs(media)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- video near-dup pairs (shot-signature sets, MinHash + exact J) ----
    // Re-ingested clips (every 13th doc — 13 = 1 mod 3 so the video kind
    // survives; id +999999999 shifts n_frames mod 30, so the echo is a
    // RE-CUT of the same clip): shot-key sets -> 8-draw MinHash, 4 bands
    // of 2 -> exact set-Jaccard verify at the integer 2|∩| >= |∪| gate.
    "video_dup_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val echo = docs.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + lit(999999999L))
      val media = Multimodal.fromDocuments(docs.unionByName(echo))
      Multimodal.videoDupPairs(media)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- video near-dup CLUSTERS (pairs -> connected components) ----------
    // Closes the video loop the way the text side does (minhash ->
    // dup_clusters): videoDupPairs edges + every video as a node ->
    // pointer-jumped label propagation -> (doc_id, cluster_rep).
    "video_dup_clusters_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val echo = docs.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + lit(999999999L))
      val media = Multimodal.fromDocuments(docs.unionByName(echo))
      val pairs = Multimodal.videoDupPairs(media)
        .select(col("id_a"), col("id_b"))
      val nodes = media.filter(col("meta.kind") === "video")
        .select(col("doc_id"))
      Dedup.duplicateClusters(nodes, pairs, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- video near-dup RECALL vs the planted truth -------------------------
    // The opq_recall discipline for the video LSH path: exact shot-set
    // Jaccard on the planted echo pairs, gate subset, measured recall of
    // the banded-MinHash candidates.
    "video_dup_recall_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val echo = docs.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + lit(999999999L))
      val media = Multimodal.fromDocuments(docs.unionByName(echo))
      val planted = docs
        .filter(col("doc_id") % 13 === 0 && col("doc_id") % 3 === 2)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + lit(999999999L)).as("id_b"))
      Multimodal.videoDupRecall(media, planted)
    }),

    // ---- video shot-boundary screening -------------------------------------
    // Frame-difference detector over the seam signatures; per-row state
    // bounded by n_frames, no frame explosion, no shuffle.
    "shot_bounds_docs" -> ((s, dir) =>
      Multimodal.shotBoundaries(
        Multimodal.fromDocuments(t(s, dir, "documents")))
        .orderBy(col("doc_id"))),

    // ---- KMV sketch as STREAMING aggregation state -------------------------
    // The bounded-distinct-count production shape: the typed KMV aggregator
    // runs inside a streaming groupBy, so the state store holds ≤64 longs
    // per group however long the stream runs (vs dropDuplicates state that
    // grows with the distinct count). Merge-order invariance (SketchesSpec)
    // is what makes the result micro-batch-schedule-independent — the
    // oracle is the same window-over-distinct-hashes SQL as the batch query.
    "streaming_kmv_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val agg = udaf(graft.scale.Sketches.kmvAggregator(64),
        org.apache.spark.sql.Encoders.scalaLong)
      val sk = stream
        .withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
          col("user_id").cast("string").cast("binary"), 15))
        .groupBy(col("event_type")).agg(agg(col("__h")).as("__kmv"))
        .select(col("event_type"),
          col("__kmv.nSketch").cast("long").as("n_sketch"),
          col("__kmv.kth").as("kmv_kth"),
          col("__kmv.estimate").as("kmv_est"))
      Streams.runToMemory(sk, "stream_kmv", OutputMode.Complete())
        .orderBy(col("event_type"))
    }),

    // ---- HLL as STREAMING aggregation state --------------------------------
    // Register max-merge is associative/commutative/idempotent, so the
    // streaming Complete-mode state is the same 64-byte register table the
    // batch build produces — the oracle replays it verbatim.
    "streaming_hll_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val hashed = stream.withColumn("__h",
        graft.scale.HashExprs.md5PrefixLong(
          col("user_id").cast("string").cast("binary"), 15))
      val sk = graft.scale.Sketches.hllDistinct(
        hashed, Seq("event_type"), col("__h"))
      Streams.runToMemory(sk, "stream_hll", OutputMode.Complete())
        .orderBy(col("event_type"))
    }),

    // ---- rolling-window HLL over the event STREAM --------------------------
    // The streaming twin of rolling_hll_events: the stream maintains the
    // per-(event_type, hour, bucket) register maxes as Complete-mode
    // aggregation state (one long per register — bounded, merge-order-free,
    // so the result is micro-batch-schedule-independent), and the
    // trailing-4h window union runs as sketch algebra over that tiny state
    // table after the stream drains. The oracle replays the identical
    // register table + rollup from the batch view of the same rows.
    "streaming_rolling_hll_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val ev = stream
        .withColumn("__es", graft.scale.Events.epochSeconds(stream))
        .withColumn("hour", expr("__es DIV 3600"))
        .withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
          col("user_id").cast("string").cast("binary"), 15))
      val regs = graft.scale.Sketches
        .hllRegisterRows(ev, Seq("event_type"), col("hour"), col("__h"))
        .groupBy(col("event_type"), col("tb"), col("bucket"))
        .agg(max(col("rho")).as("rho"))
      val state = Streams.runToMemory(regs, "stream_rhll",
        OutputMode.Complete())
      graft.scale.Sketches.hllRollupWindows(state, Seq("event_type"), 4)
        .withColumnRenamed("tb", "hour")
        .orderBy(col("event_type"), col("hour"))
    }),

    // ---- CMS as STREAMING aggregation state --------------------------------
    // The frequency-sketch counterpart of streaming_kmv_events: cmsBuild's
    // hash-agg runs as a streaming groupBy, so the state store holds the
    // fixed 4×512 counter table however long the stream runs — bounded-
    // memory heavy-hitter tracking. Counter addition is merge-order-free,
    // so the batch sketch-table oracle replays the result exactly.
    "streaming_cms_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val sk = graft.scale.Sketches.cmsBuild(stream, col("user_id"))
      Streams.runToMemory(sk, "stream_cms", OutputMode.Complete())
        .orderBy(col("j"), col("bucket"))
    }),

    // ---- count-min frequency sketch over the event stream ------------------
    // Build a 4×512 CMS of per-user event counts (the sketch is a 2048-row
    // count table — constant size at any input mass, mergeable by summing
    // counters), then point-estimate the exact top-15 users. CMS placement
    // is md5-deterministic, so est and overcount replay exactly; est ≥
    // exact is the structural guarantee (asserted in SketchesSpec).
    "cms_counts_events" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val sketch = graft.scale.Sketches.cmsBuild(ev, col("user_id"))
      val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(15)
      graft.scale.Sketches.cmsEstimate(sketch, top, "user_id")
        .join(top, Seq("user_id"))
        .select(col("user_id"), col("n_exact"), col("cms_est"),
          (col("cms_est") - col("n_exact")).as("overcount"))
        .orderBy(col("n_exact").desc, col("user_id"))
    }),

    // ---- skew: salted two-phase aggregation (5 hot keys spread over salt
    // buckets; result is salt-independent → plain GROUP BY oracle) -----------
    "salted_agg_events" -> ((s, dir) =>
      graft.scale.Skew.saltedCountSum(
          t(s, dir, "events"), Seq("event_type"), "value", 16,
          Seq(col("event_id")))
        .orderBy(col("event_type"))),

    // ---- heavy-hitter key diagnostic (decides when salting pays) -----------
    "heavy_hitters_events" -> ((s, dir) =>
      graft.scale.Skew.heavyHitters(
        t(s, dir, "events"), Seq("user_id", "event_type"), 25)),

    // ---- per-type daily trend: exact-integer least squares -----------------
    "trend_fit_events" -> ((s, dir) =>
      Events.trendFit(t(s, dir, "events")).orderBy(col("event_type"))),

    // ---- STREAMING daily-trend twin (per-(type, day) cent totals as
    // Complete-mode state; the regression fold replays on drain) ------------
    "streaming_trend_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val daily = Events.trendDaily(stream)
      val drained = Streams.runToMemory(daily, "stream_trend",
        OutputMode.Complete())
      Events.trendFromDaily(drained).orderBy(col("event_type"))
    }),

    // ---- daily autocorrelation (periodicity signature, lags 1..7) ----------
    // trend asks "is it drifting?", seasonality "which hours?", ACF "does
    // today predict d days ahead?" — gap-filled so quiet days are zero
    // observations, not spliced-out gaps.
    "acf_events" -> ((s, dir) =>
      Events.acf(t(s, dir, "events"), 7)
        .orderBy(col("event_type"), col("lag"))),

    // ---- STREAMING ACF (the SAME per-(type, day) state as the trend and
    // CUSUM twins — one more fold over already-proven state) ----------------
    "streaming_acf_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val daily = Events.trendDaily(stream)
      val drained = Streams.runToMemory(daily, "stream_acf",
        OutputMode.Complete())
      Events.acfFromDaily(drained, 7)
        .orderBy(col("event_type"), col("lag"))
    }),

    // ---- CUSUM changepoint localization (WHEN did the level shift) ---------
    // psi/ks say "the distribution moved", trend says "how fast" — CUSUM
    // names the day: max-|Sₖ| over exact scaled mean-centered cumsums of
    // the per-type daily cent totals, earliest-day tiebreak.
    "cusum_changepoint_events" -> ((s, dir) =>
      Events.cusumChangepoint(t(s, dir, "events"))
        .orderBy(col("event_type"))),

    // ---- STREAMING join-key skew monitor (per-key class-size state — the
    // k-anonymity state relation; the histogram/gini fold replays on
    // drain) — watch the hot key grow as ingest accumulates ------------------
    "streaming_skew_profile_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val cls = graft.metrics.Metrics.kAnonymityCounts(stream,
        Seq("user_id"))
      val drained = Streams.runToMemory(cls, "stream_skew",
        OutputMode.Complete())
      graft.metrics.Metrics.skewFromSizes(drained, 32)
    }),

    // ---- l-diversity panel (homogeneity-attack screen) ----------------------
    // Quasi (nation, segment) classes scored by the diversity of their
    // sensitive balance band — k-anonymous classes can still leak when
    // every member shares the sensitive value.
    "l_diversity_customer" -> ((s, dir) =>
      graft.metrics.Metrics.lDiversity(t(s, dir, "customer")
          .withColumn("bal_band",
            expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
              " div 100000")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", Seq(2, 3, 5))
        .orderBy(col("l"))),

    // ---- STREAMING l-diversity ((class, sensitive) cell state) -------------
    "streaming_l_diversity_customer" -> ((s, dir) => {
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
    }),

    // ---- t-closeness panel (skewness-attack screen) -------------------------
    // The third privacy rung: per (nation, segment) class, the ordered EMD
    // between its balance-band distribution and the table's — l-diverse
    // classes still leak when their sensitive DISTRIBUTION skews far from
    // the global one. Exact-integer cumulative differences, cross-
    // multiplied threshold tests (t = 0.15 / 0.25 / 0.5).
    "t_closeness_customer" -> ((s, dir) =>
      graft.metrics.Metrics.tCloseness(t(s, dir, "customer")
          .withColumn("bal_band",
            expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
              " div 100000")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band",
        Seq(150000L, 250000L, 500000L))
        .orderBy(col("t"))),

    // ---- STREAMING t-closeness ((class, ordered sensitive) cell state) -----
    "streaming_t_closeness_customer" -> ((s, dir) => {
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
    }),

    // ---- STREAMING seasonality index ((type, hour) count state) -------------
    "streaming_seasonality_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val hourly = Events.hourlyCounts(stream)
      val drained = Streams.runToMemory(hourly, "stream_season",
        OutputMode.Complete())
      Events.seasonalityFromHourly(drained)
        .orderBy(col("event_type"), col("hour"))
    }),

    // ---- STREAMING WOE/IV panel (bin-count state) ---------------------------
    "streaming_woe_iv_events" -> ((s, dir) => {
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
    }),

    // ---- STREAMING Pearson panel (exact decimal-moment state) ---------------
    "streaming_corr_matrix_lineitem" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "lineitem"), dir, "lineitem")
      val moments = graft.metrics.Metrics.corrMoments(stream, Seq(
        ("qty_price", "l_quantity", "l_extendedprice"),
        ("qty_discount", "l_quantity", "l_discount"),
        ("price_tax", "l_extendedprice", "l_tax"),
        ("discount_tax", "l_discount", "l_tax")))
      val drained = Streams.runToMemory(moments, "stream_corr",
        OutputMode.Complete())
      graft.metrics.Metrics.corrFromMoments(drained).orderBy(col("pair"))
    }),

    // ---- format-conformance profile (regex validity panel) -----------------
    // Two real contracts plus one deliberately failing rule so violation
    // accounting is exercised non-zero; anchored portable patterns only.
    "conformance_customer" -> ((s, dir) =>
      graft.metrics.Metrics.conformanceProfile(t(s, dir, "customer"), Seq(
          ("name_format", "c_name", "^Customer#[0-9]+$"),
          ("segment_enum", "c_mktsegment",
            "^(AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY)$"),
          ("name_digits_only", "c_name", "^[0-9]+$")))
        .orderBy(col("rule"))),

    // ---- multi-pair Pearson panel (one scan for the numeric matrix) --------
    "corr_matrix_lineitem" -> ((s, dir) =>
      graft.metrics.Metrics.corrMatrix(t(s, dir, "lineitem"), Seq(
          ("qty_price", "l_quantity", "l_extendedprice"),
          ("qty_discount", "l_quantity", "l_discount"),
          ("price_tax", "l_extendedprice", "l_tax"),
          ("discount_tax", "l_discount", "l_tax")))
        .orderBy(col("pair"))),

    // ---- blocking-quality eval (pair completeness / reduction ratio) -------
    // (brand, size)-equality blocking scored against a same-(type, size)
    // gold standard: what the blocker recalls vs what it prunes of the
    // n(n-1)/2 comparison space.
    "blocking_quality_part" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_brand"),
          col("p_type"), col("p_size"))
      val cand = p.select(col("id").as("id_a"), col("p_brand"),
          col("p_size"))
        .join(p.select(col("id").as("id_b"), col("p_brand"),
          col("p_size")), Seq("p_brand", "p_size"))
        .filter(col("id_a") < col("id_b"))
      val gold = p.select(col("id").as("id_a"), col("p_type"),
          col("p_size"))
        .join(p.select(col("id").as("id_b"), col("p_type"),
          col("p_size")), Seq("p_type", "p_size"))
        .filter(col("id_a") < col("id_b"))
      Dedup.blockingQuality(cand, gold, p)
    }),

    // ---- WOE / information-value feature panel ------------------------------
    // Value-band bins scored against the high-value-purchase label —
    // which bins separate, and the leakage smell if one separates too
    // well. NULL value rows form the missing-value bin.
    "woe_iv_events" -> ((s, dir) =>
      graft.metrics.Metrics.woeIv(t(s, dir, "events")
          .withColumn("label",
            col("event_type") === "purchase" && col("value") >= 150.0)
          .withColumn("bin",
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)" +
              " div 5000")),
        "label", "bin")
        .orderBy(col("bin"))),

    // ---- hour-of-day seasonality index --------------------------------------
    "seasonality_events" -> ((s, dir) =>
      Events.seasonalityIndex(t(s, dir, "events"))
        .orderBy(col("event_type"), col("hour"))),

    // ---- Neyman optimal allocation (survey-sampling design) -----------------
    // 1000 samples split across order-priority strata by N_h·σ_h —
    // big AND variable strata deserve samples; largest-remainder
    // integerization with declared tiebreaks.
    "neyman_alloc_orders" -> ((s, dir) =>
      graft.sample.Samplers.neymanAllocation(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")),
        "o_orderpriority", "cents", 1000L)
        .orderBy(col("stratum"))),

    // ---- effective sample size of selection weights -------------------------
    // Kish ESS over length-proportional weights — the degenerate-weights
    // alarm a DSIR/temperature reweighting run reads before training.
    "ess_weights_docs" -> ((s, dir) =>
      graft.metrics.Metrics.effectiveSampleSize(
        t(s, dir, "documents"), "n_chars")),

    // ---- joinability discovery (which column pairs CAN join) ---------------
    // Value-overlap between orders and customer columns — the FK edge
    // riProfile audits is the one this report discovers.
    "joinability_orders_customer" -> ((s, dir) =>
      graft.metrics.Metrics.joinability(
          t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority"),
          t(s, dir, "customer"),
          Seq("c_custkey", "c_nationkey", "c_mktsegment"))
        .orderBy(col("col_a"), col("col_b"))),

    // ---- referential-integrity profile (the silent-join-loss audit) --------
    // Two real FK edges plus one deliberately broken edge (active-customer
    // subset as parent, every-11th FK nulled) so orphan and null-FK
    // accounting is exercised, not just asserted zero.
    "ri_profile_orders" -> ((s, dir) => {
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
    }),

    // ---- STREAMING per-user behavioral entropy ------------------------------
    // (user, type) count state (the k-anonymity class-size precedent);
    // the entropy fold replays on drain — shares the batch oracle.
    "streaming_user_entropy_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = Events.userTypeCounts(stream)
      val drained = Streams.runToMemory(counts, "stream_uent",
        OutputMode.Complete())
      Events.entropyFromCounts(drained).orderBy(col("user_id"))
    }),

    // ---- golden-record survivorship (the merge AFTER entity resolution) ----
    // Deterministic demo clusters (custkey div 3 as the resolved dup
    // groups): per cluster, name survives by LONGEST, segment by MODE —
    // field-level composition where dedup_keep_best keeps whole rows.
    "survivorship_customer" -> ((s, dir) =>
      Dedup.survivorship(t(s, dir, "customer")
          .withColumn("cluster", expr("c_custkey div 3")),
        "cluster",
        Seq(("c_name", "longest"), ("c_mktsegment", "mode")))
        .orderBy(col("cluster"), col("field"))),

    // ---- STREAMING CUSUM changepoint monitor (same daily-total state as
    // the trend twin; the peak-pick fold replays on drain) -------------------
    "streaming_cusum_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val daily = Events.trendDaily(stream)
      val drained = Streams.runToMemory(daily, "stream_cusum",
        OutputMode.Complete())
      Events.cusumFromDaily(drained).orderBy(col("event_type"))
    }),

    // ---- candidate-key discovery (uniqueness profiling) --------------------
    // Which combos can key a join/partition/dedup: one scan for all four
    // declared candidates (the fd explode shape), exact duplicate masses.
    "key_candidates_orders" -> ((s, dir) =>
      graft.metrics.Metrics.keyCandidates(t(s, dir, "orders"), Seq(
          ("orderkey", Seq("o_orderkey")),
          ("custkey", Seq("o_custkey")),
          ("cust_date", Seq("o_custkey", "o_orderdate")),
          ("status_priority", Seq("o_orderstatus", "o_orderpriority"))))
        .orderBy(col("combo"))),

    // ---- exact join-cardinality pricing (the pre-join advisor) -------------
    // The l_partkey SELF-join priced without running it: Σ c² from one
    // histogram — the number that decides whether basket-pair generation
    // needs a cap/salt before the shuffle.
    "join_cardinality_lineitem" -> ((s, dir) =>
      graft.scale.Skew.joinCardinality(
        t(s, dir, "lineitem"), "l_partkey",
        t(s, dir, "lineitem"), "l_partkey")),

    // ---- behavior model: first-order Markov transition matrix --------------
    "markov_transitions_events" -> ((s, dir) =>
      Events.markovTransitions(t(s, dir, "events"))
        .orderBy(col("prev_type"), col("next_type"))),

    // ---- deletion propagation: aggregate maintenance under erasure ---------
    // The right-to-be-forgotten shape: instead of rescanning the corpus
    // after deleting a user set, aggregate the DELETED rows and subtract —
    // counts as longs, money as exact decimals, so after = before − deleted
    // holds bit-exactly. At 100 TB the deleted slice is ~0.1% of the scan.
    "deletion_propagation_events" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val before = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_before"),
          sum(col("value").cast("decimal(18,2)")).as("__sb"))
      val del = ev.filter(col("user_id") % 97 === 0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_deleted"),
          sum(col("value").cast("decimal(18,2)")).as("__sd"))
      before.join(del, Seq("event_type"), "left_outer")
        .select(col("event_type"), col("n_before"),
          coalesce(col("n_deleted"), lit(0L)).as("n_deleted"),
          (col("n_before") - coalesce(col("n_deleted"), lit(0L)))
            .as("n_after"),
          round((col("__sb")
            - coalesce(col("__sd"), lit(0).cast("decimal(18,2)")))
            .cast("double"), 6).as("sum_after"))
        .orderBy(col("event_type"))
    }),

    // ---- robust aggregates: per-group winsorized sums -----------------------
    // Clip values to the group's [p05, p95] before summing — the standard
    // outlier guard before training-metric aggregation. Boundary table is
    // one row per group, broadcast back (quantileBin's shape); sums are
    // decimal-exact.
    "winsorize_events" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val bounds = ev.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.05D)").as("p05"),
        expr("percentile(value, 0.95D)").as("p95"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .withColumn("__cv",
          least(greatest(col("value"), col("p05")), col("p95")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(min(col("p05")), 6).as("p05"),
          round(min(col("p95")), 6).as("p95"),
          round(dsum(col("value")), 6).as("sum_raw"),
          round(dsum(col("__cv")), 6).as("sum_clipped"))
        .orderBy(col("event_type"))
    }),

    // ---- composite training-data pipeline: quality filter → exact dedup →
    // stratified per-lang sample (the 100 TB preprocessing shape) ------------
    "training_pipeline_docs" -> ((s, dir) => {
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
    }),

    // ---- G5 trial mean/std from exact decimal sums -------------------------
    "trial_stats_orders" -> ((s, dir) => {
      val dec = col("o_totalprice").cast("decimal(18,2)")
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_trials"),
          sum(dec).cast("double").as("sum_price"),
          sum((dec * dec).cast("decimal(38,4)")).cast("double").as("sum_sq"))
        .select(col("o_orderstatus"), col("n_trials"),
          round(col("sum_price") / col("n_trials"), 6).as("mean_price"),
          round(sqrt(col("sum_sq") / col("n_trials") -
            (col("sum_price") / col("n_trials")) *
            (col("sum_price") / col("n_trials"))), 6).as("std_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- scale: TF·rarity top-terms per document (log-free tf-idf) ---------
    "tfidf_top_terms_docs" -> ((s, dir) =>
      TextAnalysis.rarityTopTerms(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rk"))),

    // ---- scale: bloom-prefiltered decontamination (same output as exact) ---
    "decontaminate_bloom_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateBloom(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", 3)
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic k-fold split (md5 mod k — shuffle-free projection) --
    "kfold_split_orders" -> ((s, dir) =>
      Samplers.kfoldAssign(t(s, dir, "orders"), "o_orderkey", 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("fold"))),

    // ---- exact interpolated percentiles per group (sort-based agg) ---------
    // (renamed from percentiles_lineitem, which wave 2's
    // distributed-selection query silently shadowed in the Map — a
    // duplicate key keeps only the last entry)
    "percentile_interp_lineitem" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25D)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5D)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75D)"), 6).as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // ---- NTILE quantile binning per group (partitioned window) -------------
    "ntile_binning_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .withColumn("bin", ntile(4).over(
          Window.partitionBy(col("o_orderpriority"))
            .orderBy(col("o_totalprice"), col("o_orderkey"))))
        .groupBy(col("o_orderpriority"), col("bin"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"), col("bin"))),

    // ---- keyed range join: lineitems shipped within 30 days of the order ---
    "range_join_lineitem" -> ((s, dir) => {
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate").as("win_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("win_end"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
      Joins.rangeJoin(orders, li, "o_orderkey", "l_orderkey",
          col("l_shipdate"), col("win_start"), col("win_end"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_shipped_30d"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- key-less interval join via bucketization: clicks within 30 min of
    // an anchor purchase (bucket equi-join, then exact predicate) ------------
    "bucketed_range_join_events" -> ((s, dir) => {
      // µs epoch keys on BOTH engines (Events.epochMicros handles every ts
      // representation the harness has shipped; DuckDB sees µs natively).
      val ev = t(s, dir, "events")
      val anchors = ev
        .filter(col("event_type") === "purchase" && col("user_id") % 97 === 0)
        .select(col("event_id").as("anchor_id"),
          Events.epochMicros(ev).as("win_start"),
          (Events.epochMicros(ev) + lit(1800L * 1000000L)).as("win_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          Events.epochMicros(ev).as("ts_us"), col("value"))
      Joins.bucketedRangeJoin(anchors, clicks,
          col("ts_us"), col("win_start"), col("win_end"),
          1800L * 1000000L)
        .groupBy(col("anchor_id"))
        .agg(count(lit(1)).as("n_clicks"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
            .as("sum_value"))
        .orderBy(col("anchor_id"))
    }),

    // ---- exact-sums Pearson correlation per group (order-free decimals) ----
    "corr_lineitem" -> ((s, dir) =>
      Metrics.exactCorrelation(
          t(s, dir, "lineitem"), "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy(col("l_returnflag"))),

    // ---- robust stats: median + median-absolute-deviation per group --------
    "mad_orders" -> ((s, dir) =>
      Metrics.medianAbsoluteDeviation(
          t(s, dir, "orders"), "o_orderstatus", "o_totalprice")
        .orderBy(col("o_orderstatus"))),

    // ---- fixed-width histogram (shuffle only carries bin ids) --------------
    "histogram_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_orders"),
          round(min(col("o_totalprice")), 6).as("min_price"),
          round(max(col("o_totalprice")), 6).as("max_price"))
        .orderBy(col("bin")))
,
    // ---- scale-path quantile binning (broadcast boundaries, no per-group
    // global sort — the 100 TB alternative to the ntile query) ---------------
    "quantile_bin_orders" -> ((s, dir) =>
      Metrics.quantileBin(t(s, dir, "orders"), "o_orderpriority", "o_totalprice")
        .groupBy(col("o_orderpriority"), col("bin"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"), col("bin"))),

    // ---- data-validation column profile (one pass + stack unpivot) ---------
    "profile_customer" -> ((s, dir) =>
      Metrics.profileColumns(t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
        .orderBy(col("column_name"))),

    // ---- data-quality expectations: one-pass rule violation counts ---------
    "constraints_orders" -> ((s, dir) => {
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
    }),

    // ---- corpus bigram conditional stats (collocation mining) --------------
    "bigram_stats_docs" -> ((s, dir) =>
      TextAnalysis.bigramStats(t(s, dir, "documents"), "text", 20)),

    // ---- BPE first-merge pair statistics (tokenizer training step) ---------
    "bpe_merge_docs" -> ((s, dir) =>
      TextAnalysis.bpeMergeStats(t(s, dir, "documents"), "text", 20)),

    // ---- full iterative BPE trainer: 8 merge rounds over the vocab ---------
    // ---- tokenizer training: unigram-LM (SentencePiece) EM-pruning --------
    // Kudo ACL'18 beside the BPE trainer: seed substring vocab, 2 hard-EM
    // rounds of optimal-path counting (exact micro-long max-plus Viterbi,
    // tie-inclusive) with 25% multi-char pruning per round; single chars
    // never pruned (see TextAnalysis.unigramLmTrain).
    "unigram_lm_train_docs" -> ((s, dir) =>
      TextAnalysis.unigramLmTrain(t(s, dir, "documents"), "text",
          3, 40, 2, 0.25, 24)
        .orderBy(col("piece"))),

    "bpe_train_docs" -> ((s, dir) =>
      TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", 8)
        .orderBy(col("round"))),

    // ---- tokenizer APPLICATION: encode the corpus with the trained BPE -----
    // The merge table is never applied per document: the trainer's final
    // vocabulary becomes a word → token-count dictionary and encoding is
    // one equi-join of exploded words against it. Per-source token mass =
    // the number a shard-packing/budgeting pass actually consumes.
    "bpe_encode_docs" -> ((s, dir) =>
      TextAnalysis.bpeEncode(t(s, dir, "documents"), "source", "text", 8)
        .orderBy(col("source"))),

    // ---- WordPiece trainer (likelihood-gain merges — the BERT tokenizer) ---
    // The BPE loop with score(a,b) = count(ab)/(count(a)·count(b)) as the
    // exact quantized gain_q = floor(c·1e12/(cl·cr)) — a frequent pair of
    // independently-common symbols loses to a rarer better-than-predicted
    // one. Closes the third tokenizer family (BPE ✓, unigram ✓).
    "wordpiece_train_docs" -> ((s, dir) =>
      TextAnalysis.wordpieceTrain(t(s, dir, "documents"), "text", 8)
        .orderBy(col("round"))),

    // ---- WordPiece APPLICATION (the bpe_encode dictionary-join shape) ------
    "wordpiece_encode_docs" -> ((s, dir) =>
      TextAnalysis.wordpieceEncode(
          t(s, dir, "documents"), "source", "text", 8)
        .orderBy(col("source"))),

    // ---- unigram-LM Viterbi ENCODE (the SentencePiece serving path) --------
    // Train the unigram vocab on the %5<>0 split, segment the HELD-OUT
    // %5=0 docs by max-plus Viterbi (ties -> fewest pieces; unseen chars
    // at the add-one <unk> mass), report per-source token mass — closes
    // the train/encode asymmetry with bpe_encode_docs.
    "unigram_encode_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.unigramEncode(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "source", "text", 3, 40, 2)
        .orderBy(col("source"))
    }),

    // ---- tokenizer fertility / multilingual-fairness panel ------------------
    "tokenizer_fertility_docs" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(
          t(s, dir, "documents"), "lang", "text", 8)
        .orderBy(col("lang"))),

    // ---- overlapping passage windows (retrieval chunking, stride<size) -----
    "passage_windows_docs" -> ((s, dir) =>
      TextAnalysis.passageWindows(t(s, dir, "documents"), "doc_id", "text", 8, 4)
        .orderBy(col("doc_id"), col("win_idx"))),

    // ---- ranking-family windows: rank / dense_rank / percent_rank /
    // cume_dist (tie-free ordering via unique key tiebreak) ------------------
    "rank_family_orders" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderpriority"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          round(percent_rank().over(w), 6).as("prnk"),
          round(cume_dist().over(w), 6).as("cdist"))
        .filter(col("o_orderkey") % 50 === 0)
        .orderBy(col("o_orderpriority"), col("rnk"))
    }),

    // ---- gap-filled hourly series (spine join, zero-filled holes) ----------
    "gap_fill_events" -> ((s, dir) =>
      Events.gapFilledHourly(t(s, dir, "events"), "purchase")
        .orderBy(col("hour"))),

    // ---- stage funnel: view → click → purchase by earliest-event order -----
    "funnel_events" -> ((s, dir) =>
      Events.funnel(t(s, dir, "events"), Seq("view", "click", "purchase"))),

    // ---- cohort retention: first-activity day × day offset -----------------
    "cohort_retention_events" -> ((s, dir) =>
      Events.cohortRetention(t(s, dir, "events"), 7)
        .orderBy(col("cohort_day"), col("offset"))),

    // ---- full outer join: daily click vs purchase series aligned -----------
    "full_outer_join_events" -> ((s, dir) => {
      val raw = t(s, dir, "events")
      val ev = raw.withColumn("__sec", Events.epochSeconds(raw))
        .withColumn("day", expr("__sec DIV 86400"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("day")).agg(count(lit(1)).as("n_clicks"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("day")).agg(count(lit(1)).as("n_purchases"))
      clicks.join(purchases, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy(col("day"))
    }),

    // ---- CDC-style upsert compaction: latest version per key wins ----------
    "upsert_merge_orders" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val base = orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), lit(0).as("version"))
      val updates = orders.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit(1).as("version"))
      val w = Window.partitionBy(col("o_orderkey")).orderBy(col("version").desc)
      base.unionByName(updates)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- z-order layout: per-file min/max envelopes on BOTH dimensions -----
    "zorder_stats_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("x", col("o_custkey") % 1024)
        .withColumn("y",
          expr("(CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) DIV 86400) % 1024"))
      graft.io.ZOrder.fileStats(o, col("x"), col("y"), 10, 4)
        .orderBy(col("file_id"))
    }),

    // ---- SCD2 dimension build from a change feed (validity intervals) ------
    "scd2_orders" -> ((s, dir) => {
      val changes = t(s, dir, "orders")
        .filter(col("o_custkey") % 100 === 0)
        .withColumn("day",
          expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) DIV 86400"))
      Events.scd2(changes, "o_custkey", "day", "o_orderkey",
          Seq("o_orderpriority"))
        .orderBy(col("o_custkey"), col("version"))
    }),

    // ---- rolling z-score anomaly flags over the daily value series ---------
    "anomaly_zscore_events" -> ((s, dir) =>
      Events.rollingAnomaly(t(s, dir, "events"), 7, 2.0)
        .orderBy(col("event_type"), col("day"))),

    // ---- domain-mixture resampling toward a target corpus composition ------
    "domain_mix_docs" -> ((s, dir) => {
      val kept = TextAnalysis.domainMix(t(s, dir, "documents"),
        "source", "doc_id", Map("src0" -> 0.25, "src1" -> 0.125), 400L)
      kept.groupBy(col("source"))
        .agg(max(col("__quota")).as("quota"), count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // ---- temperature-based domain resampling (mC4/XLM-R balancing) ---------
    "temperature_mix_docs" -> ((s, dir) => {
      val kept = TextAnalysis.temperatureMix(
        t(s, dir, "documents"), "source", "doc_id", 400L)
      kept.groupBy(col("source"))
        .agg(max(col("__n")).as("n_total"),
          max(col("__quota")).as("quota"),
          count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // ---- per-source data-card ("datasheet") summary -------------------------
    "data_card_docs" -> ((s, dir) =>
      TextAnalysis.dataCard(t(s, dir, "documents"), "source", "text", "lang")
        .orderBy(col("source"))),

    // ---- FLAGSHIP composite: the full LLM-corpus curation pipeline ---------
    // quality gate → exact dedup (fingerprint) → benchmark decontamination
    // → domain mixing → token-budget shard packing, ending in per-shard
    // stats. Every stage is an oracle-proven operator; the composition is
    // the end-to-end DAG a 100 TB pretraining-data build runs.
    "curation_pipeline_docs" -> ((s, dir) => {
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
    }),

    // ---- curation drop-reason ledger (the pipeline's audit artifact) -------
    // Per-document provenance through the five-stage DAG above: which
    // gate dropped each doc and why — every doc in exactly one (stage,
    // reason) class. The audit table every real 100 TB curation run
    // ships beside the kept corpus; the composite itself discards it.
    "curation_ledger_docs" -> ((s, dir) =>
      graft.scale.Curation.ledger(t(s, dir, "documents"), "doc_id", "text",
          "source", 20, 20, Map("src0" -> 0.25, "src1" -> 0.125), 200L)
        .orderBy(col("doc_id"))),

    // ---- curation ledger: per-stage mass roll-up ---------------------------
    // The report table: documents and token mass per (stage, reason).
    "curation_ledger_mass_docs" -> ((s, dir) =>
      graft.scale.Curation.ledgerMass(
          graft.scale.Curation.ledger(t(s, dir, "documents"), "doc_id",
            "text", "source", 20, 20,
            Map("src0" -> 0.25, "src1" -> 0.125), 200L))
        .orderBy(col("stage_idx"), col("reason"))),

    // ---- domain up-sampling with replacement to exact quotas ---------------
    "domain_upsample_docs" -> ((s, dir) => {
      val up = TextAnalysis.domainUpsample(t(s, dir, "documents"),
        "source", "doc_id", Map("src0" -> 0.25, "src1" -> 0.125), 1000L)
      up.groupBy(col("source"))
        .agg(count(lit(1)).as("n_emitted"),
          countDistinct(col("doc_id")).as("n_source_rows"),
          max(col("__quota")).as("quota"))
        .orderBy(col("source"))
    }),

    // ---- BM25-weighted retrieval over a fixed query-term set ---------------
    "bm25_search_docs" -> ((s, dir) =>
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("join", "vector", "stream"), 20)),

    // ---- hybrid retrieval: reciprocal-rank fusion (BM25 + embedding) ------
    // The production hybrid-search default: fuse the lexical top-50 and
    // the cosine top-50 (query = vec 0) by sum 1/(60+rank) — ranks cross
    // lists, scores never do, so no calibration step exists to get wrong.
    "rrf_hybrid_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val lex = TextAnalysis.bm25TopK(docs, "doc_id", "text",
          Seq("join", "vector", "stream"), 50)
        .select(col("doc_id"), col("score"))
      val vec = Similarity.bruteForceTopK(e.filter(col("vec_id") === 0), e,
          "vec_id", "embedding", 50)
        .select(col("cand_id").as("doc_id"), col("cos_sim").as("score"))
      Similarity.rrfFuse(Seq(("lex", lex), ("vec", vec)), "doc_id", "score")
        .orderBy(col("rk"))
    }),

    // ---- entity-resolution eval: B-cubed vs the exact-dup gold -------------
    // Grade the MinHash-LSH clustering per ITEM against byte-identical
    // text as gold: precision drops when LSH merges non-copies, recall
    // when true copies land in different clusters.
    "bcubed_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = Dedup.duplicateClusters(docs,
        Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id")
      Dedup.bCubed(
        docs.select(col("doc_id"),
            md5(col("text").cast("binary")).as("gold"))
          .join(pred, Seq("doc_id")),
        "doc_id", "cluster_rep", "gold")
    }),

    // ---- entity-resolution eval #2: Adjusted Rand Index --------------------
    // The pair-counting, chance-corrected axis beside bcubed's per-item
    // axis — same contingency dictionary, exact pair-count sums.
    "ari_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = Dedup.duplicateClusters(docs,
        Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id")
      Dedup.adjustedRandIndex(
        docs.select(col("doc_id"),
            md5(col("text").cast("binary")).as("gold"))
          .join(pred, Seq("doc_id")),
        "doc_id", "cluster_rep", "gold")
    }),

    // ---- RAG composite: passage chunks → passage-grain BM25 → top-k --------
    "rag_retrieve_docs" -> ((s, dir) =>
      TextAnalysis.ragRetrieve(t(s, dir, "documents"), "doc_id", "text",
        8, 4, Seq("merge", "window"), 15)),

    // ---- classifier TRAINING: exact-integer batch perceptron ---------------
    // Per-epoch log of the distributed training loop (gradient = keyed
    // aggregation over hashed features; driver holds only the 1024-long
    // weight vector). Label: the document contains the token 'spark' — a
    // text-derivable target (the synthetic corpus draws every lang's text
    // from ONE vocabulary, so metadata labels like lang are independent of
    // the features and unlearnable by construction). Every update is exact
    // long arithmetic, so DuckDB replays all five epochs bit-for-bit.
    "classifier_train_docs" -> ((s, dir) =>
      TextAnalysis.trainHashedLinear(t(s, dir, "documents"), "doc_id",
          "text",
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long"))._1
        .orderBy(col("epoch"))),

    // ---- calibration curve of the TRAINED classifier -----------------------
    // calibration_docs machinery over learned weights: exact-integer bins
    // from the known bound B = max|w|.
    "classifier_calibration_trained_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val label =
        array_contains(TextAnalysis.tokens(col("text")), "spark").cast("long")
      val w = TextAnalysis.trainHashedLinear(docs, "doc_id", "text", label)._2
      TextAnalysis.trainedCalibration(docs, "doc_id", "text", label, w)
        .orderBy(col("bin"))
    }),

    // ---- precision-recall operating curve of the quality gate --------------
    // P/R/F1 at EVERY distinct hashed-linear score threshold (predict
    // positive iff w_sum >= t) against the contains-'spark' label — the
    // imbalanced-label view the single-threshold confusion matrix hides.
    "pr_curve_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis
        .hashedLinearScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"),
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long").as("y")), Seq("doc_id"))
      Metrics.prCurve(scored, "w_sum", "y")
        .orderBy(col("threshold").desc)
    }),

    // ---- best-F1 operating point of the quality gate ------------------------
    // The threshold a deployment ships: argmax of the 6-decimal F1 over
    // the PR sweep, ties to the smallest (most permissive) threshold.
    "best_f1_threshold_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis
        .hashedLinearScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"),
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long").as("y")), Seq("doc_id"))
      Metrics.bestF1Threshold(scored, "w_sum", "y")
    }),

    // ---- SPLIT-CONFORMAL coverage for the trained classifier ---------------
    // Train on the md5 %4<=1 split, exact k = ceil((n_cal+1)*0.9) order
    // statistic of calibration nonconformity (the +1 IS the finite-sample
    // guarantee), coverage + prediction-set size measured on the disjoint
    // holdout — the calibrated-confidence row the classifier family lacked.
    "conformal_classifier_docs" -> ((s, dir) =>
      TextAnalysis.conformalClassifier(t(s, dir, "documents"), "doc_id",
        "text",
        array_contains(TextAnalysis.tokens(col("text")), "spark")
          .cast("long"))),

    // ---- TRAINED language-ID with a measured accuracy grade ----------------
    // Planted multilingual fixture: each doc gets a language by
    // doc_id % 5 and that language's marker tokens (under a per-marker
    // md5 dropout) prefixed to its body text. The char-3-gram perceptron
    // trains on the md5 %4<=2 split and is graded on the held-out
    // quarter SIDE BY SIDE with the marker heuristic — whose en markers
    // ('the', 'a', ...) saturate in every body text, the exact
    // weakness a trained gate fixes.
    "langid_trained_docs" -> ((s, dir) => {
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
    }),

    // ---- MONDRIAN (class-conditional) conformal coverage -------------------
    // Per-class q_hat with each class's own exact finite-sample rank +
    // per-class MEASURED holdout coverage — marginal conformal can
    // over-cover the majority and under-cover the minority class, the
    // exact skewed-class regime of a quality gate.
    "conformal_mondrian_docs" -> ((s, dir) =>
      TextAnalysis.conformalMondrian(t(s, dir, "documents"), "doc_id",
        "text",
        array_contains(TextAnalysis.tokens(col("text")), "spark")
          .cast("long"))
        .orderBy(col("y"))),

    // ---- SPLIT-CONFORMAL regression interval (numeric coverage row) --------
    // Fixed declared predictor n_chars ≈ 6·n_tokens (the mean-word-length
    // prior); the conformal interval pred ± q_hat needs NO residual
    // distribution assumption — k = ceil((n_cal+1)*0.9)-th smallest
    // calibration |residual|, coverage measured on the disjoint holdout.
    "conformal_regression_docs" -> ((s, dir) =>
      Metrics.conformalRegression(
        t(s, dir, "documents")
          .withColumn("pred",
            TextAnalysis.tokenCount(col("text")).cast("long") * 6L),
        "doc_id", "n_chars", "pred")),

    // ---- hashed-feature linear quality classifier (fastText-style gate) ----
    "classifier_score_docs" -> ((s, dir) =>
      TextAnalysis.hashedLinearScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- Jensen-Shannon lexical drift between corpus halves ----------------
    // Symmetric, bounded, defined on disjoint vocabularies; add-one
    // smoothing over the union vocabulary, per-token KL terms quantized
    // to exact 1e12 micro-longs so the fold is associative.
    "js_divergence_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.jsDivergence(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text")
    }),

    // ---- STREAMING Jensen-Shannon lexical drift -----------------------------
    // The per-token side counts are two associative sums — Complete-mode
    // state at vocab-dictionary scale (the vocab_richness twin's class);
    // the quantized fold runs over the drained table, batch oracle
    // verbatim.
    "streaming_js_divergence_docs" -> ((s, dir) => {
      val stream =
        Streams.corpusStream(t(s, dir, "documents"), dir, "documents")
      val counts = TextAnalysis.jsDivergenceCounts(
        stream, "text", col("lang") === "en")
      val drained = Streams.runToMemory(counts, "stream_jsd",
        OutputMode.Complete())
      TextAnalysis.jsDivergenceFromCounts(drained)
    }),

    // ---- Simpson diversity / concentration per source ----------------------
    // Exact collision probability of two drawn tokens + the effective
    // type count — the evenness gate that flags template spam.
    "simpson_docs" -> ((s, dir) =>
      TextAnalysis.simpsonDiversity(t(s, dir, "documents"), "source",
        "text")
        .orderBy(col("source"))),

    // ---- cross-corpus n-gram overlap (diversity / contamination metric) ----
    "ngram_overlap_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.ngramOverlap(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text", 3)
    }),

    // ---- quality-proportional (weighted Bernoulli) corpus sampling ---------
    "weighted_sample_docs" -> ((s, dir) => {
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
    }),

    // ---- snapshot diff: added/deleted/changed/unchanged between versions ---
    "snapshot_diff_orders" -> ((s, dir) => {
      val snapA = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val snapB = snapA.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 500.0)
            .otherwise(col("o_totalprice")))
        .unionByName(snapA.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_totalprice")))
      Joins.snapshotDiff(snapA, snapB, Seq("o_orderkey"), Seq("o_totalprice"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(abs(coalesce(col("new_o_totalprice"), lit(0.0)) -
            coalesce(col("old_o_totalprice"), lit(0.0)))).as("sum_abs_delta"))
        .orderBy(col("status"))
    }),

    // ---- SQ8 embedding compression: per-dimension codes + error -----------
    "sq8_embeddings" -> ((s, dir) =>
      Similarity.sq8Stats(t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(col("pos"))),

    // ---- product-quantization codes: per-subspace codebook assignment ------
    "pq_codes_embeddings" -> ((s, dir) =>
      Similarity.pqAssign(t(s, dir, "embeddings"), "vec_id", "embedding", 4, 4)
        .orderBy(col("sub"), col("code"))),

    // ---- group-wise top-n: longest documents per language ------------------
    "topn_per_group_docs" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(col("lang"), col("rn"))
    }),

    // ---- percentile-threshold quality gate: keep docs above corpus p75 -----
    "quality_threshold_docs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val thr = d.agg(expr("percentile(n_chars, 0.75D)").as("thr"))
      d.crossJoin(broadcast(thr))
        .filter(col("n_chars").cast("double") >= col("thr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("n_chars")).as("min_chars"))
        .orderBy(col("lang"))
    }),

    // ---- few-shot prompt packing: first-k serialized examples per group ----
    // (the reference's V1 prompt-formulation step, distributed: examples
    // collect per group and order deterministically — collect_list alone is
    // partition-order-dependent; sort_array over (key, text) structs pins it)
    "prompt_pack_customer" -> ((s, dir) => {
      val ser = t(s, dir, "customer")
        .select((col("c_nationkey") % 5).cast("long").as("grp"),
          col("c_custkey"),
          Serialize.serializeKeyed(Seq(
            "c_name" -> "c_name", "c_mktsegment" -> "c_mktsegment"))
            .as("txt"))
      // bound the collect buffer BEFORE aggregating: rank-filter to the 3
      // winners per group first (collect_list of a whole group is the
      // unbounded top-n anti-pattern; the buffer here never exceeds 3 rows)
      val byGrp = Window.partitionBy(col("grp")).orderBy(col("c_custkey"))
      val packs = ser
        .withColumn("rn", row_number().over(byGrp))
        .filter(col("rn") <= 3)
        .groupBy(col("grp"))
        .agg(concat_ws("\n\n",
          transform(
            sort_array(collect_list(struct(col("c_custkey"), col("txt")))),
            e => e.getField("txt"))).as("prompt"))
      val counts = ser.groupBy(col("grp")).agg(count(lit(1)).as("n_rows"))
      packs.join(counts, Seq("grp")).orderBy(col("grp"))
    }),

    // ---- inverted index: per-token document frequency + posting head -------
    "inverted_index_docs" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q10 shape: top customers by returned-goods revenue ----------
    "q10_returned_items" -> ((s, dir) => {
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
    }),

    // ---- adjacency sequence detection: click→purchase within 600 s ---------
    "sequence_detect_events" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      e.withColumn("__sec", Events.epochSeconds(e))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .withColumn("prev_sec", lag(col("__sec"), 1).over(byUser))
        .filter(col("event_type") === "purchase" &&
          col("prev_type") === "click" &&
          col("__sec") - col("prev_sec") <= 600)
        .withColumn("day", expr("__sec DIV 86400"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_sequences"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("day"))
    }),

    // ---- schema evolution: mergeSchema read over batches with added cols ---
    // batch 1 writes the original columns; batch 2 adds a quality column.
    // mergeSchema unions the file schemas; old rows surface null quality —
    // the append-only column-add path every long-lived 100 TB table needs
    "schema_evolution_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val out = freshFixtureDir("graft_evo").toString
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$out/batch=1")
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars") >= 100).as("long_doc"))
        .write.mode("overwrite").parquet(s"$out/batch=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .select(col("lang"),
          coalesce(col("long_doc"), lit(false)).as("long_doc_filled"),
          col("long_doc").isNull.as("pre_evo"))
        .groupBy(col("lang"), col("long_doc_filled").as("long_doc"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pre_evo"), 1L).otherwise(0L)).as("n_pre_evolution"))
        .orderBy(col("lang"), col("long_doc"))
    }),

    // ---- TPC-H Q7 shape: bilateral trade volume between two nations --------
    "q7_volume_shipping" -> ((s, dir) => {
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
    }),

    // ---- order-invariant table checksum (migration/replica verification) ---
    // sum of 32-bit md5 row digests: commutative, so any partitioning or
    // row order produces the same value — the cheap way to prove two copies
    // of a 100 TB table identical without sorting either
    "table_checksum_orders" -> ((s, dir) => {
      val repr = concat_ws("|",
        col("o_orderkey").cast("string"),
        coalesce(col("o_custkey").cast("string"), lit("<null>")),
        coalesce(col("o_orderstatus"), lit("<null>")),
        coalesce(col("o_totalprice").cast("decimal(18,2)").cast("string"),
          lit("<null>")),
        coalesce(expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG)")
          .cast("string"), lit("<null>")),
        coalesce(col("o_orderpriority"), lit("<null>")))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(Samplers.hashDraw32(repr)).as("checksum"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- last-touch attribution: purchase revenue to latest prior click ----
    "attribution_events" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          Events.epochMicros(e).as("pts"), col("value"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), Events.epochMicros(e).as("cts"),
          (get_json_object(col("props"), "$.k").cast("long") % 5)
            .as("campaign"))
      Joins.asOfJoin(purchases, clicks, "user_id", "user_id",
          col("pts"), col("cts"), Seq("campaign"))
        .groupBy(col("asof_campaign"))
        .agg(count(lit(1)).as("n_purchases"),
          dsum(col("value")).as("attributed_revenue"))
        .orderBy(col("asof_campaign"))
    }),

    // ---- stream-stream interval join in the CHECKED surface ----------------
    "streaming_join_events" -> ((s, dir) => {
      // ONE file-stream source, both join sides derived from it (stream
      // self-join): halves the source listing/scan work vs two sources
      val st = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      def side(etype: String, userAs: String, tsAs: String) =
        st.filter(col("event_type") === etype)
          .withColumn(tsAs, Events.tsAsTimestamp(st))
          .withWatermark(tsAs, "2 hours")
          .select(col("user_id").as(userAs), col(tsAs))
      val clicks = side("click", "c_user", "c_ts")
      val purchases = side("purchase", "p_user", "p_ts")
      val joined = purchases.join(clicks,
        expr("c_user = p_user AND " +
          "c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"))
      Streams.runToMemory(joined, "stream_join")
        .withColumn("day", expr("CAST(p_ts AS LONG) DIV 86400"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("p_user")).as("n_users"))
        .orderBy(col("day"))
    }),

    // ---- streaming dedup in the CHECKED surface: dropDuplicates state ------
    // ---- streaming: incoming stream deduped against a static corpus --------
    // The streaming face of incremental dedup: the micro-batch stream of
    // new docs anti-joins (stream-static, no state store) the corpus's
    // min-shingle fingerprint set; survivors aggregate per source. The
    // static side is re-broadcast per batch — at scale it would be a
    // bucketed table the join prunes against instead.
    "streaming_corpus_dedup_docs" -> ((s, dir) => {
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
    }),

    "streaming_dedup_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val deduped = stream
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_distinct_users"))
      Streams.runToMemory(deduped, "stream_dedup", OutputMode.Complete())
        .orderBy(col("event_type"))
    }),

    // ---- TPC-H Q4 shape: EXISTS → semi join with a non-equi conjunct -------
    // Orders in a quarter having at least one line shipped after the order
    // date. The EXISTS decorrelates to a LEFT SEMI join whose condition
    // carries the correlated l_shipdate > o_orderdate predicate; the date
    // filter prunes the orders side before the shuffle.
    "q4_priority_count" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q11 shape: HAVING against a scalar over the same agg --------
    // Parts whose discounted revenue exceeds 1.5× the mean per-part share.
    // Exact everywhere: per-line revenue is decimal(18,2)·decimal(18,4) → 6
    // decimal places, summed exactly and carried as integer micro-units
    // (longs), so the threshold comparison 2·rev·n_parts > 3·total is pure
    // integer math in both engines. (Long micro-units hold to ~SF100; past
    // that, widen to decimal or rescale.) The 1-row total broadcasts back
    // over the per-part aggregate — two shuffles total (both keyed on
    // l_partkey, reused).
    "q11_part_concentration" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q14 shape: conditional-aggregate ratio over a dim join ------
    // Promo revenue share for one ship month. sum(CASE WHEN promo) / sum —
    // both sums decimal-exact; the single division is the only double step.
    "q14_promo_revenue" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q15 shape: argmax via scalar-max broadcast ------------------
    // Top revenue supplier for a quarter. The per-supplier aggregate stays
    // decimal so the rev = max(rev) equality is exact (a double tie-compare
    // would be engine-dependent); the 1-row max and the supplier dim
    // broadcast — no second shuffle after the supplier agg.
    "q15_top_supplier" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q17 shape: correlated avg → grouped-agg join decorrelation --
    // Revenue from lines whose quantity is under half their part's average.
    // qty < avg/2 cross-multiplies to 2·qty·n < Σqty — exact longs (the
    // quantities are integral), no double avg on the comparison path. The
    // per-part aggregate joins back on l_partkey (broadcast at these SFs;
    // at 100 TB AQE turns it into a co-partitioned shuffle join on the same
    // key the aggregate already produced).
    "q17_small_qty_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val perPart = l.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_li"))
      l.join(broadcast(perPart), col("l_partkey") === col("pk"))
        .filter(col("l_quantity").cast("long") * col("n_li") * 2 < col("sum_qty"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice")).as("total_price"))
    }),

    // ---- TPC-H Q19 shape: disjunctive multi-column join predicate ----------
    // Three OR'ed (brand, size-range, quantity-range) triples. The p_size
    // bounds push to the part scan and the quantity bounds to the lineitem
    // scan (union of the ranges); the residual disjunction evaluates inside
    // the broadcast join's codegen stage.
    "q19_disjunctive_revenue" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q22 shape: scalar-avg gate + anti join ----------------------
    // Dormant rich customers: above-average balance (avg over positive
    // balances) with no order since 2000. The average gate is exact:
    // bal·n > total in decimal — no double avg on the comparison path.
    // The recent-orders key set anti-joins (broadcast: it only shrinks with
    // the date filter; at TB scale the anti join shuffles on custkey).
    "q22_dormant_customers" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q2 shape: regional min-cost supplier (argmin decorrelation) -
    // partsupp is absent from the corpus, so lineitem's (part, supplier)
    // pairs play the supply catalog and the min line price plays supply
    // cost. Argmin without a window: per-pair min, per-part min, equality
    // join back on the exact decimal, min-suppkey tie-break (same
    // decorrelation as q15). EUROPE suppliers resolve through a broadcast
    // semi-join chain, so the fact scan shuffles only on its group keys.
    "q2_min_cost_supplier" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q8 shape: national market share within a regional market ----
    // Numerator and denominator accumulate as exact decimal micro-units in
    // ONE conditional aggregation pass; the share is a single double
    // division of two exact longs. Customer-region membership is a
    // broadcast semi-join on orders (never widens the fact rows); supplier
    // nation is a broadcast dim join.
    "q8_market_share" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q9 shape: product profit by supplier nation and year --------
    // Profit = revenue − imputed supply cost (retailprice·qty/2 — partsupp
    // has no analog in the corpus), every term exact decimal before the
    // one grouped sum. Part filter prunes the fact early through a
    // broadcast join; only orderkey→year requires the fact-fact shuffle.
    "q9_product_profit" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q12 shape: late-shipment priority counts --------------------
    // No l_shipmode/commitdate in the corpus: "late" = shipped more than
    // 60 days after the order date, mode proxied by l_linestatus. The
    // two-branch CASE aggregation is the Q12 signature; one fact-fact
    // shuffle join, conditional sums share one partial-agg pass.
    "q12_late_shipment_priority" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q13 shape: customer order-count distribution ----------------
    // Pre-aggregate orders per customer FIRST (shuffle carries one row per
    // customer, not per order), then the left-outer join against the
    // customer dim and a second tiny aggregation over the counts. The
    // nulls-become-zero outer-join histogram is the Q13 signature.
    "q13_customer_distribution" -> ((s, dir) => {
      val perCust = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      t(s, dir, "customer").select(col("c_custkey"))
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // ---- TPC-H Q16 shape: supplier count by part attribute -----------------
    // Distinct-supplier counts per (brand, type, size) with a broadcast
    // anti-join blacklist (negative-balance suppliers) — lineitem plays
    // partsupp as the part↔supplier link. Anti + dim joins broadcast;
    // the only shuffle is the final distinct aggregation on its group keys.
    "q16_supplier_part_types" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q20 shape: suppliers holding a dominant part share ----------
    // Nested semi-join ladder: small-part filter → per-(part,supplier)
    // 1996 quantity → per-part total → pairs with share > 1/2 (exact
    // decimal compare) → ASIA suppliers that own one. Every membership
    // test is a semi-join, never a fact-widening inner join.
    "q20_promotion_suppliers" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q21 shape: sole-late supplier in multi-supplier orders ------
    // The EXISTS / NOT-EXISTS pair decorrelates into one per-order
    // aggregation (supplier count + late-supplier count) joined back to the
    // per-(order,supplier) late flags — two hash aggregations sharing the
    // l_orderkey exchange instead of two correlated self-join probes.
    // "Late" = shipped >90 days after the order date (no receipt/commit
    // dates in the corpus).
    "q21_waiting_suppliers" -> ((s, dir) => {
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
    }),

    // ---- scale: PageRank centrality over the supplier↔customer trade graph -
    // Exact integer micro-unit PageRank ([[Graph.pageRankMicro]]): the
    // bipartite trade graph (distinct supplier–customer pairs from
    // lineitem⋈orders, symmetrized) ranked by 3 damped iterations. Node
    // ids disambiguate by an offset; every score is a deterministic long.
    "pagerank_trade_orders" -> ((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          (col("o_custkey") + 10000000L).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      Graph.pageRankMicro(edges, 3)
        .select(
          when(col("node") >= 10000000L, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          when(col("node") >= 10000000L, col("node") - 10000000L)
            .otherwise(col("node")).as("node_id"),
          col("score").as("score_micro"))
        .orderBy(col("score_micro").desc, col("node_type"), col("node_id"))
    }),

    // ---- HITS hubs & authorities on the directed trade graph ---------------
    // supplier → customer edges only (the directed bipartite form — the
    // symmetric union would collapse hub ≡ authority): two exact-integer
    // rounds, one L1 normalization at the end. Suppliers carry hub mass
    // (portfolio weight), customers authority (co-purchasing pull).
    "hits_trade_orders" -> ((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 10000000L).as("dst"))
      Graph.hits(pairs, 2)
        .select(
          when(col("node") >= 10000000L, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          when(col("node") >= 10000000L, col("node") - 10000000L)
            .otherwise(col("node")).as("node_id"),
          col("authority"), col("hub"))
        .orderBy(col("node_type"), col("node_id"))
    }),

    // ---- personalized PageRank from a supplier seed set --------------------
    // Random walk with restart on the same supplier↔customer trade graph:
    // teleport mass lands only on every-50th supplier, so scores rank
    // nodes by proximity to the seed set (TrustRank-style source
    // weighting). Exact-integer rounds; only reachable nodes emitted.
    "ppr_trade_orders" -> ((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          (col("o_custkey") + 10000000L).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val sources = pairs.select(col("sk").as("node"))
        .filter(col("node") % 50 === 0).distinct()
      Graph.personalizedPageRankMicro(edges, sources, 3)
        .select(
          when(col("node") >= 10000000L, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          when(col("node") >= 10000000L, col("node") - 10000000L)
            .otherwise(col("node")).as("node_id"),
          col("score_micro"))
        .orderBy(col("score_micro").desc, col("node_type"), col("node_id"))
    }),

    // ---- multi-source BFS hop distance on the trade graph ------------------
    // How many trade hops separate every node from the every-50th-supplier
    // seed set (the PPR query's seeds) — frontier BFS, min-hop semantics,
    // expansion capped at 4 rounds BY CONTRACT (the oracle replays the
    // same fixed depth; an early empty-frontier exit cannot change it).
    "bfs_hops_orders" -> ((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          (col("o_custkey") + 10000000L).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val seeds = pairs.select(col("sk").as("node"))
        .filter(col("node") % 50 === 0).distinct()
      Graph.bfsHops(edges, seeds, 4)
        .select(
          when(col("node") >= 10000000L, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          when(col("node") >= 10000000L, col("node") - 10000000L)
            .otherwise(col("node")).as("node_id"),
          col("hops"))
        .orderBy(col("node_type"), col("node_id"))
    }),

    // ---- modularity of the nation partition on the trade graph -------------
    // Is trade assortative by nation? Newman modularity of the
    // nation-of-endpoint partition over the supplier↔customer graph —
    // per-community in-edge mass vs the degree-preserving random
    // expectation ([[Graph.modularity]]; Q = SUM(q_contrib)).
    "modularity_trade_orders" -> ((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          (col("o_custkey") + 10000000L).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val comm = t(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("node"),
          col("s_nationkey").cast("long").as("community"))
        .unionByName(t(s, dir, "customer")
          .select((col("c_custkey") + 10000000L).as("node"),
            col("c_nationkey").cast("long").as("community")))
      Graph.modularity(edges, comm).orderBy(col("community"))
    }),

    // ---- graph: label-propagation community detection ----------------------
    // The community PRODUCER beside modularity's scorer, on the same
    // supplier↔customer trade graph: 3 synchronous rounds, most-frequent
    // in-neighbor label, ties to the smallest — deterministic, so the
    // oracle unrolls the rounds exactly (the pagerank convention).
    "lpa_communities_orders" -> ((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          (col("o_custkey") + 10000000L).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      Graph.labelPropagation(edges, 3).orderBy(col("node"))
    }),

    // ---- EM: Fellegi-Sunter scoring over SNM candidates --------------------
    // The principled record-linkage decision layer on the blocking
    // family: brand equality / size-within-1 / name-Jaccard agreement
    // fields, p_type equality as gold, add-1/add-2 smoothed m/u weights.
    "em_fs_part" -> ((s, dir) => {
      Dedup.fellegiSunterScore(fsPairs(s, dir),
          Seq("brand_eq", "size_close", "name_sim"), "gold")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- EM: the Fellegi-Sunter weight table itself ------------------------
    // Which comparison fields discriminate: per-field m/u and the
    // agree/disagree log-weights from the same candidate relation.
    "em_fs_weights_part" -> ((s, dir) => {
      Dedup.fellegiSunterWeights(fsPairs(s, dir),
          Seq("brand_eq", "size_close", "name_sim"), "gold")
        .orderBy(col("field"))
    }),

    // ---- EM blocking: sorted-neighborhood candidates -----------------------
    // The fixed-pair-budget blocking scheme beside PPJoin: sort parts by
    // lowercased name, window 8 — candidate mass is n·7 by construction.
    // Each candidate pair scores the usual token-jaccard decision.
    "em_snm_part" -> ((s, dir) => {
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
    }),

    // ---- text: multi-phrase dictionary tagging -----------------------------
    // FlashText-shape taxonomy tagging: eight query-plan phrases (1-3
    // tokens) matched corpus-wide in ONE tokenize + broadcast join pass.
    "keyword_tags_docs" -> ((s, dir) =>
      TextAnalysis.tagKeywords(t(s, dir, "documents"), "doc_id", "text",
          Seq("hash join", "table scan", "sort merge join", "slow query",
            "data stream", "vector", "fast filter", "group agg"))
        .orderBy(col("doc_id"), col("phrase"))),

    // ---- profiling: approximate functional dependencies --------------------
    // g3 violation mass for three candidate column rules on orders — the
    // schema-rule profiling that precedes cell-level error detection.
    "fd_violations_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      Metrics.fdViolations(o, Seq(
          ("custkey->priority", Seq("o_custkey"), "o_orderpriority"),
          ("orderdate->status", Seq("o_orderdate"), "o_orderstatus"),
          ("priority->status", Seq("o_orderpriority"), "o_orderstatus")))
        .orderBy(col("fd"))
    }),

    // ---- embeddings: margin-based bitext mining ----------------------------
    // Artetxe-Schwenk ratio-margin pairing of the even-id side against the
    // odd-id side, k=4 neighborhoods — the parallel-corpus mining shape.
    "bitext_margin_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bitextMarginMine(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", 4)
        .orderBy(col("src_id"))
    }),

    // ---- embeddings: bitext mining, IVF cell-probe scale path --------------
    // The 100 TB variant of the brute query above: candidates from the
    // shared-centroid cell join (mod-50 rem-1 picks 10 tgt-side
    // centroids, sources probe their top 3 cells), margins over
    // candidates only — ~30% of brute's pair mass here, |src|·|tgt|·
    // nprobe/cells in general. Brute stays beside it as the documented
    // exact baseline — the ann_topk/ivf_topk convention.
    "bitext_margin_ivf_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bitextMarginIvf(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", 4, 3, 50, 1)
        .orderBy(col("src_id"))
    }),

    // ---- multimodal: CLIP-score cross-modal alignment filter ---------------
    // The LAION curation gate: even-id embeddings play the caption side,
    // their odd-id successors the image side (pair_id = vec_id div 2);
    // keep iff micro-long cosine >= 0.28 — a keyed 1:1 join, no pair
    // explosion (see Multimodal.alignmentScore).
    "clip_align_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Multimodal.alignmentScore(
          e.filter(col("vec_id") % 2 === 0)
            .select(expr("vec_id div 2").as("pair_id"), col("embedding")),
          e.filter(col("vec_id") % 2 === 1)
            .select(expr("vec_id div 2").as("pair_id"), col("embedding")),
          "pair_id", "embedding", 280000L)
        .orderBy(col("pair_id"))
    }),

    // ---- graph: degree-ordered triangle counting ---------------------------
    // Co-purchase graph: parts joined by appearing in the same order with
    // high quantity (l_quantity >= 35 keeps the graph sparse — a raw
    // co-occurrence graph is near-complete and its wedge space explodes
    // quadratically; real pipelines prune edges before counting). The
    // operator is [[Graph.triangleStats]]: orient by (degree, id), wedge
    // self-join on the low-rank anchor, semi-join the closing edge.
    "triangle_count_lineitem" -> ((s, dir) => {
      val hi = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 35.0)
        .select(col("l_orderkey").as("k"), col("l_partkey"))
      val other = hi.select(col("k"), col("l_partkey").as("p2"))
      val edges = hi.join(other, Seq("k"))
        .filter(col("l_partkey") =!= col("p2"))
        .select(col("l_partkey").as("src"), col("p2").as("dst"))
      Graph.triangleStats(edges)
    }),

    // ---- k-core decomposition on the co-order part graph -------------------
    // Iterative peeling to fixpoint (Graph.kCore, which THROWS if its
    // maxRounds cap is hit pre-fixpoint); the oracle unrolls exactly
    // maxRounds rounds — past convergence each extra round is identity, so
    // the fixpoint and the fixed-depth replay agree.
    "kcore_lineitem" -> ((s, dir) => {
      val hi = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 35.0)
        .select(col("l_orderkey").as("k"), col("l_partkey"))
      val other = hi.select(col("k"), col("l_partkey").as("p2"))
      val edges = hi.join(other, Seq("k"))
        .filter(col("l_partkey") =!= col("p2"))
        .select(col("l_partkey").as("src"), col("p2").as("dst"))
      Graph.kCore(edges, 4).orderBy(col("node"))
    }),

    // ---- streaming: stream-static broadcast enrichment join ----------------
    // The dimension-enrichment shape every event pipeline needs: a
    // micro-batch stream joined against a STATIC broadcast dim (no state
    // store, no watermark — the static side is re-broadcast per batch),
    // then a streaming aggregation. Batch-equivalent oracle: the same
    // join+agg over the full table.
    "streaming_enrich_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val dim = broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val enriched = stream
        .join(dim, stream("user_id") === dim("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
      Streams.runToMemory(enriched, "stream_enrich", OutputMode.Complete())
        .orderBy(col("c_mktsegment"), col("event_type"))
    }),

    // ---- corpus quality: unigram-LM mean log-probability per doc -----------
    "unigram_logprob_docs" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- QA: Benford first-digit panel over orders -------------------------
    // The numeric-column forensics screen: price cents vs the Benford
    // curve, plus the (deliberately) uniform custkey column — which the
    // panel flags hard, exactly its purpose on synthetic/fabricated data.
    "benford_orders" -> ((s, dir) =>
      graft.metrics.Metrics.benfordDigits(
          t(s, dir, "orders").select(col("o_custkey"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("price_cents")),
          Seq("o_custkey", "price_cents"))
        .orderBy(col("column"), col("digit"))),

    // ---- STREAMING g3 FD drift -------------------------------------------
    // fd_violations' streaming twin (the welch/proportion/drift
    // convention): the per-(fd, lhs, rhs) count table — the ONLY
    // corpus-mass state — runs as one Complete-mode aggregation over the
    // union of key-serialized projections; the per-lhs fold runs over
    // the drained state. Oracle = the batch fd_violations SQL verbatim.
    "streaming_fd_violations_orders" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "orders"), dir, "orders")
      val counts = graft.metrics.Metrics.fdCounts(stream, Seq(
        ("custkey->priority", Seq("o_custkey"), "o_orderpriority"),
        ("orderdate->status", Seq("o_orderdate"), "o_orderstatus"),
        ("priority->status", Seq("o_orderpriority"), "o_orderstatus")))
      val drained = Streams.runToMemory(counts, "stream_fd",
        OutputMode.Complete())
      graft.metrics.Metrics.fdFromCounts(drained).orderBy(col("fd"))
    }),

    // ---- STREAMING Benford first-digit forensics ---------------------------
    // benford_orders' streaming twin (the fd/welch/proportion
    // convention): the per-(column, first-digit) counts — the ONLY
    // corpus-mass state, associative — run as one Complete-mode
    // aggregation; the panel fold (totals, digit scaffold, chi-square)
    // runs over the drained state. Oracle = the batch SQL verbatim.
    "streaming_benford_orders" -> ((s, dir) => {
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
    }),

    // ---- QA: robust median/MAD outlier panel per event type ----------------
    // Hampel's rule (|x − median| > 3·MAD) with both medians by
    // distributed selection — the robust complement to anomaly_zscore
    // (a fat-finger row shifts mean AND σ and hides itself; it cannot
    // shift the median/MAD pair).
    "mad_outliers_events" -> ((s, dir) =>
      graft.metrics.Metrics.madOutliers(
          t(s, dir, "events").withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long")),
          "cents", Seq("event_type"), 3)
        .orderBy(col("event_type"))),

    // ---- STREAMING robust median/MAD outlier panel --------------------------
    // per-(group, value) counts as Complete-mode state (the exact-
    // percentile twin's state shape); median, MAD, and the Hampel flags
    // replay on the drained value dictionary — exact, shares the batch
    // oracle verbatim. NULLs are filtered BEFORE the state agg (the batch
    // operator's non-null contract).
    "streaming_mad_outliers_events" -> ((s, dir) => {
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
    }),

    // ---- BOUNDED-state streaming MAD (five bounded passes) -----------------
    // Closes the value-dictionary precondition class entirely: median and
    // MAD each run the two-pass bucket narrowing (bucket-histogram state,
    // then a stream-static narrowed pass), and the flag pass holds one
    // counter row per group — five bounded-state streaming queries where
    // the single-pass twin holds the whole value dictionary. Exact: every
    // piece's composition with the batch selection is spec-pinned.
    "streaming_mad_bounded_events" -> ((s, dir) => {
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
    }),

    // ---- categorical-association panel (chi2 / Cramér's V / MI) ------------
    // Which metadata columns are redundant vs independent: three declared
    // pairs share ONE corpus scan (the fdCounts explode shape); zero cells
    // are closed-form, cell contributions sum as exact decimals.
    "assoc_panel_orders" -> ((s, dir) =>
      graft.metrics.Metrics.assocPanel(t(s, dir, "orders")
          .withColumn("mon", month(col("o_orderdate")))
          .withColumn("band",
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)" +
              " div 5000000")),
        Seq(("priority_month", "o_orderpriority", "mon"),
          ("status_band", "o_orderstatus", "band"),
          ("status_priority", "o_orderstatus", "o_orderpriority")))
        .orderBy(col("pair"))),

    // ---- STREAMING association panel (cell-count state, panel fold) --------
    "streaming_assoc_orders" -> ((s, dir) => {
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
    }),

    // ---- Cohen's kappa inter-annotator agreement ---------------------------
    // Two deterministic "annotators" of the same value-band property (the
    // second reads a ±$10 perturbed value) — chance-corrected agreement
    // per event type; the exact cross-multiplied (diag·n − S)/(n² − S).
    "cohens_kappa_events" -> ((s, dir) =>
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
        .orderBy(col("event_type"))),

    // ---- join-key skew profiler (pre-flight shuffle advisor) ---------------
    // The key-mass distribution of user_id — the column every sessionize/
    // RFM/attribution job shuffles on: max/top-10 share, exact p50/p99 key
    // mass, Gini concentration, and the salt factor that levels the
    // hottest key against an average partition at 32-way parallelism.
    "skew_profile_events" -> ((s, dir) =>
      graft.metrics.Metrics.skewProfile(t(s, dir, "events"),
        Seq("user_id"), 32)),

    // ---- corpus quality: per-doc character entropy (gibberish filter) ------
    // Shannon entropy over exact per-char counts — base64/binary payloads
    // approach the 6-bit ceiling, template spam approaches 0.
    "char_entropy_docs" -> ((s, dir) =>
      TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- corpus quality: bigram-LM perplexity per doc ----------------------
    // Add-one-smoothed corpus bigram model, transductive scoring — the
    // KenLM-shaped CCNet bucket signal one rung above unigram_logprob.
    "bigram_perplexity_docs" -> ((s, dir) =>
      TextAnalysis.bigramPerplexity(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- corpus quality: stupid-backoff trigram LM (split form) ------------
    // Counts from the doc_id%5!=0 train slice; held-out docs score through
    // the tri -> bi -> add-1-unigram backoff chain with per-level hit
    // counts (novel phrasing vs novel vocabulary, as exact integers).
    "stupid_backoff_docs" -> ((s, dir) =>
      TextAnalysis.stupidBackoffScore(t(s, dir, "documents"),
          "doc_id", "text", col("doc_id") % 5 =!= 0)
        .orderBy(col("doc_id"))),

    // ---- multi-rater agreement: Fleiss' kappa over 3 quality judges --------
    // The LLM-judge-ensemble acceptance gate: does the panel agree beyond
    // the chance implied by pooled category prevalence? Exact profile-
    // dictionary fold; kappa_num/den travel as exact decimal strings.
    "fleiss_kappa_docs" -> ((s, dir) =>
      Metrics.fleissKappa(qualityRaters(t(s, dir, "documents")),
        Seq("r_len", "r_tok", "r_div"))),

    // ---- STREAMING Fleiss' kappa (rating-profile counts as Complete-mode
    // state — the kAnonymityCounts shape; the kappa fold replays on drain) ---
    "streaming_fleiss_kappa_docs" -> ((s, dir) => {
      val stream =
        Streams.corpusStream(t(s, dir, "documents"), dir, "documents")
      val prof = Metrics.fleissProfileCounts(qualityRaters(stream),
        Seq("r_len", "r_tok", "r_div"))
      val drained = Streams.runToMemory(prof, "stream_fleiss",
        OutputMode.Complete())
      Metrics.fleissFromProfiles(drained, 3)
    }),

    // ---- multi-rater agreement under MISSINGNESS: Krippendorff's alpha ----
    // Two judges abstain on deterministic slices (%11 / %7 — the timeout/
    // sampling shape); units keep whatever ratings remain, <2 drop. Same
    // profile state as Fleiss, the missing-tolerant fold.
    "krippendorff_docs" -> ((s, dir) =>
      Metrics.krippendorffAlpha(
        qualityRaters(t(s, dir, "documents"))
          .withColumn("r_tok",
            when(col("doc_id") % 11 === 0, lit(null).cast("string"))
              .otherwise(col("r_tok")))
          .withColumn("r_div",
            when(col("doc_id") % 7 === 0, lit(null).cast("string"))
              .otherwise(col("r_div"))),
        Seq("r_len", "r_tok", "r_div"))),

    // ---- preference fitting: Bradley-Terry MM rounds + Elo-style report ----
    // Arena-style matches fabricated from events: players a = event_id % 12,
    // b = (event_id div 12) % 12 (a = b dropped), outcome keyed on
    // user_id % 10 — 0 tie, 1..6 the LOWER index wins, 7..9 the higher, so
    // player 0 is strongest and the fit recovers a skill gradient. Three
    // exact-integer MM rounds over the (lo, hi) pair dictionary
    // (Preference.bradleyTerryMicro); elo the only (rounded) float.
    "bradley_terry_events" -> ((s, dir) =>
      graft.scale.Preference.bradleyTerryMicro(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc", 3)
        .orderBy(col("strength_micro").desc, col("player"))),

    // ---- BOOTSTRAPPED Bradley-Terry (per-player SE + envelope) -------------
    // The leaderboard op with uncertainty: 32 Poisson(1) match-resampled
    // keyed MM fits in ONE dictionary-scale job (the one-scan bootstrap
    // composed with the rep-keyed fit), moment SE + exact envelope per
    // player beside the point fit.
    "bootstrap_bradley_terry_events" -> ((s, dir) =>
      graft.scale.Preference.bradleyTerryBootstrap(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc", "mid", 32, 3)
        .orderBy(col("strength_micro").desc, col("player"))),

    // ---- STREAMING Bradley-Terry (pair-count dictionary as Complete-mode
    // state; the MM fold replays on drain — fromPairs ∘ pairCounts is the
    // batch fit by construction, so the oracle is the batch SQL verbatim) --
    "streaming_bradley_terry_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = graft.scale.Preference.pairCounts(
        arenaMatches(stream), "pa", "pb", "oc")
      val drained = Streams.runToMemory(counts, "stream_bt",
        OutputMode.Complete())
      graft.scale.Preference.bradleyTerryFromPairs(drained, 3)
        .orderBy(col("strength_micro").desc, col("player"))
    }),

    // ---- Condorcet / Copeland head-to-head panel ---------------------------
    // The non-parametric companion to the BT fit on the SAME matches:
    // majority graph per pair, Copeland score = h2h wins - losses,
    // is_condorcet flags a player beating every opponent faced.
    "copeland_events" -> ((s, dir) =>
      graft.scale.Preference.copelandPanel(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc")
        .orderBy(col("copeland").desc, col("player"))),

    // ---- Rank Centrality spectral preference fit ---------------------------
    // The random-walk cross-check on the SAME matches: stationary mass of
    // the win-fraction chain (Negahban-Oh-Shah), exact micro-longs over
    // the shared pair dictionary — robust where BT's count-weighted
    // likelihood over-trusts replayed pairs.
    "rank_centrality_events" -> ((s, dir) =>
      graft.scale.Preference.rankCentralityMicro(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc", 3)
        .orderBy(col("pi_micro").desc, col("player"))),

    // ---- STREAMING Rank Centrality (the SAME pair-count state) -------------
    // The preference-family twin convention: the associative pair
    // dictionary is Complete-mode state; the walk runs over the drained
    // table and shares the batch oracle verbatim.
    "streaming_rank_centrality_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = graft.scale.Preference.pairCounts(
        arenaMatches(stream), "pa", "pb", "oc")
      val drained = Streams.runToMemory(counts, "stream_rc",
        OutputMode.Complete())
      graft.scale.Preference.rankCentralityFromPairs(drained, 3)
        .orderBy(col("pi_micro").desc, col("player"))
    }),

    // ---- Plackett-Luce listwise fit (3-way rankings) -----------------------
    // The k-way generalization of the BT fit: two choice stages per race,
    // exact-integer MM rounds over the ordered-triple pattern dictionary.
    "plackett_luce_events" -> ((s, dir) =>
      graft.scale.Preference.plackettLuceMicro(
        arenaRaces(t(s, dir, "events")), "f", "s", "t3", 3)
        .orderBy(col("strength_micro").desc, col("player"))),

    // ---- STREAMING Plackett-Luce (pattern dictionary as Complete state) ---
    "streaming_plackett_luce_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = graft.scale.Preference.raceCounts(
        arenaRaces(stream), "f", "s", "t3")
      val drained = Streams.runToMemory(counts, "stream_pl",
        OutputMode.Complete())
      graft.scale.Preference.plackettLuceFromCounts(drained, 3)
        .orderBy(col("strength_micro").desc, col("player"))
    }),

    // ---- pairwise win-rate matrix (the leaderboard's second table) --------
    "winrate_matrix_events" -> ((s, dir) =>
      graft.scale.Preference.pairCounts(
          arenaMatches(t(s, dir, "events")), "pa", "pb", "oc")
        .select(col("lo"), col("hi"), col("n2"), col("w2lo"),
          round(col("w2lo").cast("double") / col("n2").cast("double"), 6)
            .as("winrate_lo"))
        .orderBy(col("lo"), col("hi"))),

    // ---- majority-graph transitivity (cyclic-triad census) -----------------
    // Rock-paper-scissors triads among decided head-to-heads — the "is
    // there a consistent ranking at all" gate before publishing a BT or
    // Copeland ladder (Kendall & Babington Smith 1940).
    "majority_cycles_events" -> ((s, dir) =>
      graft.scale.Preference.majorityCycles(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc")),

    // ---- STREAMING Copeland (the SAME pair-count state, majority fold) ----
    "streaming_copeland_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = graft.scale.Preference.pairCounts(
        arenaMatches(stream), "pa", "pb", "oc")
      val drained = Streams.runToMemory(counts, "stream_cope",
        OutputMode.Complete())
      graft.scale.Preference.copelandFromPairs(drained)
        .orderBy(col("copeland").desc, col("player"))
    }),

    // ---- LOCF daily resample (carry the level, account the staleness) -----
    // gap_fill zero-fills (additive series); LOCF carries the last level
    // via an exact max-day theta-join on the trendDaily dictionary — no
    // window ordering, no IGNORE NULLS engine semantics.
    "locf_fill_events" -> ((s, dir) =>
      Events.locfDaily(t(s, dir, "events"))
        .orderBy(col("event_type"), col("day"))),

    // ---- mixing: UniMax budget allocation across languages -----------------
    // 60k-token budget, 3-epoch cap per language: low-resource langs hit
    // the cap, the rest split the remainder evenly (exact integer
    // waterfall — see TextAnalysis.unimaxAllocate).
    "unimax_mix_docs" -> ((s, dir) =>
      TextAnalysis.unimaxAllocate(t(s, dir, "documents"), "lang", "text",
          60000L, 3)
        .orderBy(col("domain"))),

    // ---- DSIR importance-resampling data selection -------------------------
    // Target = English docs; every doc scored by the hashed-unigram
    // importance ratio and sampled without replacement via deterministic
    // Gumbel top-k (see TextAnalysis.dsirSelect). LM tables are 1024 rows
    // regardless of corpus mass; selection is a TakeOrdered.
    "dsir_select_docs" -> ((s, dir) =>
      TextAnalysis.dsirSelect(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .orderBy(col("sel_rank"))),

    // ---- DoReMi-style domain reweighting -----------------------------------
    // Excess unigram cross-entropy per source vs its own-domain reference
    // LM, one exponentiated-gradient step from uniform, uniform-smoothed
    // (see TextAnalysis.doremiWeights).
    "doremi_weights_docs" -> ((s, dir) =>
      TextAnalysis.doremiWeights(t(s, dir, "documents"), "source", "text")
        .orderBy(col("domain"))),

    // ---- composite: selection pipeline (gate → dedup → DSIR → split) -------
    // The round-5 curation DAG: quality gate, exact-dedup to canonical
    // representatives, DSIR importance selection of the 100 most
    // target-like docs, deterministic hash split. Every stage is the
    // already-verified operator; the composite checks they COMPOSE
    // (the DSIR LMs here are built over the gated+deduped corpus, not the
    // raw table — the oracle replays that ordering exactly).
    "selection_pipeline_docs" -> ((s, dir) => {
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
    }),

    // ---- scale: exact-substring duplication (char k-gram index) ------------
    "substring_dup_docs" -> ((s, dir) =>
      Dedup.substringDupPairs(t(s, dir, "documents"), "doc_id", "text", 48, 100)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- composite: CCNet-style per-language perplexity bucketing ----------
    // Score every document against the corpus's own unigram LM, then split
    // each language into head/upper/lower/tail quartile buckets by score —
    // the filtering shape CCNet runs with a KenLM. Buckets come from the
    // broadcast-quantile join ([[Metrics.quantileBin]]), never a global
    // ntile window.
    "perplexity_buckets_docs" -> ((s, dir) => {
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
    }),

    // ---- scale: SemDeDup cluster-scoped semantic dedup ---------------------
    "semdedup_embeddings" -> ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding", 0.3)
        .orderBy(col("vec_id"))),

    // ---- one-pass Gram/covariance sufficient statistic ---------------------
    // Flat-triangle aggregator: one d·(d+1)/2-long partial per partition
    // crosses the exchange (see Similarity.gramMatrix) — the PCA/whitening
    // input without corpus×d² explode mass.
    "gram_matrix_embeddings" -> ((s, dir) =>
      Similarity.gramMatrix(t(s, dir, "embeddings"), "embedding")
        .orderBy(col("i"), col("j"))),

    // ---- distributed-PCA composite: Gram pass → driver eigensolve ----------
    // Iterative float math is not SQL-replayable, so the query emits the
    // CONTRACT instead (Similarity.pcaChecked, the approx_stats trick):
    // exact integer-unit trace/Frobenius companions DuckDB recomputes from
    // the same gram relation, plus boolean flags (Σλ = trace, Σλ² = ‖C‖²_F,
    // λ₁ ≥ max diag, PSD, descending, monotone cum_ratio) the oracle pins
    // to TRUE. Raw eigenvalues remain available via Similarity.pcaFromGram
    // and are spec-asserted (ScaleSpec planted-variance recovery).
    "pca_variance_embeddings" -> ((s, dir) =>
      Similarity.pcaChecked(
          Similarity.gramMatrix(t(s, dir, "embeddings"), "embedding"), 8)
        .orderBy(col("pc"))),

    // ---- greedy k-center diverse selection ---------------------------------
    // Farthest-first traversal over quantized embeddings: 8 rounds, each a
    // map-only scan + 1-row TakeOrdered (see Similarity.kcenterSelect).
    "kcenter_select_embeddings" -> ((s, dir) =>
      Similarity.kcenterSelect(
          t(s, dir, "embeddings"), "vec_id", "embedding", 8)
        .orderBy(col("sel_round"))),

    // ---- nearest-centroid (Rocchio) classifier confusion matrix ------------
    "centroid_classify_embeddings" -> ((s, dir) =>
      Similarity.nearestCentroidConfusion(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy(col("label"), col("pred_label"))),

    // ---- hard-negative mining (IVF-cell-blocked contrastive pairs) ---------
    "hard_negatives_embeddings" -> ((s, dir) =>
      Similarity.hardNegatives(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy(col("vec_id"))),

    // ---- exact per-language ROC-AUC of the quality gate --------------------
    // Mann–Whitney U over the AGGREGATED (lang, score) table — scores are
    // the exact-long w_sum of the hashed linear gate, label = the same
    // text-derived target the classifier-training queries use, so this is
    // the evaluation step of that family. No per-pair materialization.
    "auc_scores_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs
        .select(col("doc_id"), col("lang"),
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long").as("label"))
        .join(TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
          .select(col("doc_id"), col("w_sum")), Seq("doc_id"))
      Metrics.aucExact(labeled, "w_sum", "label", Seq("lang"))
        .orderBy(col("lang"))
    }),

    // ---- exact-k weighted sample without replacement (A-ES reservoir) ------
    "weighted_reservoir_docs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("w", greatest(col("n_tokens"), lit(1L)))
      Samplers.weightedReservoir(d, "doc_id", "w", 40)
        .select(col("sel_rank"), col("doc_id"), col("n_tokens"), col("res_key"))
    }),

    // ---- curriculum schedule: difficulty buckets drained round-robin -------
    "curriculum_order_docs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("bucket",
          least(floor(col("n_chars") / 200), lit(5L)).cast("long"))
      Samplers.curriculumInterleave(d, "doc_id", "bucket", 120)
        .select(col("position"), col("round_idx"), col("bucket"), col("doc_id"))
    }),

    // ---- doc-in-doc containment near-dup pairs (asymmetric Jaccard) --------
    "containment_dup_docs" -> ((s, dir) =>
      Dedup.ngramContainmentPairs(
          t(s, dir, "documents"), "doc_id", "text", 3, 0.6, 100)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- per-source distribution drift: entropy / KL / JS vs corpus --------
    "domain_divergence_docs" -> ((s, dir) =>
      TextAnalysis.domainDivergence(t(s, dir, "documents"), "source", "text")
        .orderBy(col("domain"))),

    // ---- MMR diverse retrieval (relevance/redundancy greedy, λ = 1/2) ------
    "mmr_select_embeddings" -> ((s, dir) =>
      Similarity.mmrSelect(t(s, dir, "embeddings"), "vec_id", "embedding",
          0L, 8)
        .orderBy(col("sel_round"))),

    // ---- winnowing (MOSS) fingerprint match pairs --------------------------
    "winnow_matches_docs" -> ((s, dir) =>
      Dedup.winnowMatches(t(s, dir, "documents"), "doc_id", "text",
          3, 4, 2L, 100)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- recency-weighted activity: EWMA over each user's last 8 events ----
    "ewma_events" -> ((s, dir) =>
      Events.ewmaRecent(t(s, dir, "events"), 8)
        .orderBy(col("user_id"))),

    // ---- streaming top-k heavy hitters (Complete-mode count state) ---------
    // The streaming twin of heavy_hitters_events: per-key counts as
    // streaming aggregation state (one long per key in the state store),
    // the top-k + share read runs over the drained state table.
    "streaming_topk_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = stream.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
      val state = Streams.runToMemory(counts, "stream_topk",
        OutputMode.Complete())
      val tot = state.agg(sum(col("n")).as("__tot"))
      graft.core.Bounded.withRank(
          state.crossJoin(broadcast(tot))
            .orderBy(col("n").desc, col("user_id"))
            .limit(20),
          Seq("n" -> true, "user_id" -> false), "rk")
        .select(col("rk"), col("user_id"), col("n"),
          round(col("n").cast("double") / col("__tot"), 6).as("share"))
    }),

    // ---- grid-blocked geo radius join (spatial neighbor search) ------------
    // Deterministic lattice coordinates derived from p_partkey (0.05°
    // steps, lat ∈ [-30, 30) so the 1.5° cell spans ≥ 100 km on both axes
    // everywhere); queries = every 50th part. The oracle brute-forces the
    // same predicate over all pairs, so a grid cell-coverage bug (a missed
    // cross-cell neighbor) is a correctness failure, not just a perf one.
    "geo_radius_part" -> ((s, dir) => {
      val p = t(s, dir, "part").select(
        col("p_partkey"),
        (((col("p_partkey") * 13) % 1200).cast("double") / 20.0 - 30.0).as("lat"),
        (((col("p_partkey") * 7) % 7200).cast("double") / 20.0 - 180.0).as("lon"))
      Geo.gridRadiusJoin(p.filter(col("p_partkey") % 50 === 0), p,
          "p_partkey", "lat", "lon", 100.0, 1.5)
        .orderBy(col("query_id"), col("point_id"))
    }),

    // ---- retrieval eval: macro MRR / MAP / P@10 / nDCG@10 per label --------
    // Grades the brute-force retriever against label-match relevance: the
    // ranked lists are exact top-10 cosine, rel = (query label == candidate
    // label), macro-averaged per query label. All per-query statistics in
    // integer micro-units (see Metrics.rankingMetrics) so the macro sums
    // are associative and the oracle replays them exactly.
    "ranking_eval_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ranked = Similarity.bruteForceTopK(
          e.filter(col("vec_id") % 20 === 0), e, "vec_id", "embedding", 10)
        .join(e.select(col("vec_id").as("query_id"), col("label").as("qlabel")),
          Seq("query_id"))
        .join(e.select(col("vec_id").as("cand_id"), col("label").as("clabel")),
          Seq("cand_id"))
        .withColumn("rel", (col("qlabel") === col("clabel")).cast("long"))
      Metrics.rankingMetrics(ranked, "query_id", "rk", "rel", Seq("qlabel"), 10)
        .withColumnRenamed("qlabel", "label")
        .orderBy(col("label"))
    }),

    // ---- collocation mining: top bigram PMI (count-floored) ----------------
    "pmi_pairs_docs" -> ((s, dir) =>
      TextAnalysis.pmiTopPairs(t(s, dir, "documents"), "text", 5L, 50)),

    // ---- positional-index phrase search ------------------------------------
    // Exact token-sequence search via anchor voting over a single-pass
    // positional posting list ("slow hash batch" is a recurring corpus
    // trigram at every sf).
    "phrase_search_docs" -> ((s, dir) =>
      TextAnalysis.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
          "slow hash batch")
        .orderBy(col("doc_id"))),

    // ---- RAG chunking: sliding token windows, narrow hash rows -------------
    // 64-token windows, stride 48 (16-token overlap); the chunk table
    // carries offsets + md5 content identity, never the chunk text.
    "chunk_docs" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          64, 48)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // ---- Matryoshka truncation sweep: recall@10 per prefix dimension -------
    // How much retrieval quality survives truncating embeddings to their
    // first 8/16/32/64 components — the serving-cost curve for MRL-style
    // embeddings. dim=64 is the full vector (recall 1.0 by construction,
    // an in-data sanity row).
    "matryoshka_recall_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.matryoshkaRecall(e.filter(col("vec_id") % 20 === 0), e,
          "vec_id", "embedding", Seq(8, 16, 32, 64), 10)
        .orderBy(col("dim"))
    }),

    // ---- one-permutation MinHash near-dup pairs (exact-verified) -----------
    // ONE md5 per shingle (vs numHashes in the classic family): hash space
    // split into 16 bins, per-bin minima banded 4-wide, candidates exact-
    // verified by distinct-shingle Jaccard >= 0.5 over the pair list only.
    "oph_pairs_docs" -> ((s, dir) =>
      Dedup.ophMinhashPairs(t(s, dir, "documents"), "doc_id", "text",
          16, 4, 3, 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- interval overlap join (temporal θ-join as a chunked equi-join) ----
    // Orders become intervals [orderdate, +(key mod 20) days]; queries =
    // every 499th order joined against the full corpus. The oracle brute-
    // forces the range predicate over all pairs, so a missed cross-chunk
    // neighbor is a correctness failure, not just a perf one.
    "interval_overlap_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("long").as("sd"))
        .withColumn("ed", col("sd") + col("o_orderkey") % 20)
      Events.intervalOverlapJoin(o.filter(col("o_orderkey") % 499 === 0), o,
          "o_orderkey", "o_orderkey", "sd", "ed", 16L)
        .filter(col("l_id") =!= col("r_id"))
        .orderBy(col("l_id"), col("r_id"))
    }),

    // ---- exact per-group percentiles by distributed selection --------------
    // p50/p90/p99 of the line-item price in exact cents, per return flag —
    // located via a bucket histogram + a narrowed second pass, never a
    // global sort (see Metrics.exactPercentiles).
    "percentiles_lineitem" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").withColumn("cents",
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      Metrics.exactPercentiles(l, "cents",
          Seq(500000L, 900000L, 990000L), Seq("l_returnflag"), 12)
        .orderBy(col("l_returnflag"), col("q"))
    }),

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
    "streaming_percentiles_bounded_lineitem" -> ((s, dir) => {
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
    }),

    // ---- STREAMING exact percentiles (value-dictionary state) --------------
    // per-(group, value) counts as Complete-mode state; the type-1 rank
    // pick replays on the drained dictionary — exact and single-pass, for
    // bounded-domain metrics (cents, counts, durations) where the value
    // dictionary is itself dictionary-scale; the two-pass BOUNDED twin
    // above is the unbounded-domain deployment
    "streaming_percentiles_lineitem" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "lineitem"), dir, "lineitem")
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      val counts = Metrics.valueCounts(stream, "cents", Seq("l_returnflag"))
      val drained = Streams.runToMemory(counts, "stream_pct",
        OutputMode.Complete())
      Metrics.percentilesFromCounts(drained,
          Seq(500000L, 900000L, 990000L), Seq("l_returnflag"))
        .orderBy(col("l_returnflag"), col("q"))
    }),

    // ---- deterministic KLL-shaped quantile sketch (guaranteed rank err) ----
    // md5-bit tournament compaction over the value dictionary: k=1024 ->
    // L = ceil(log2(n/k)) levels, every pick's |surv_rank - target| is
    // emitted exact beside its 2^L - 1 worst-case guarantee (adversarial-
    // input deterministic, unlike the sampling-error sample_quantiles).
    "kll_quantiles_lineitem" -> ((s, dir) =>
      graft.scale.Sketches.kllQuantiles(
          t(s, dir, "lineitem").withColumn("cents",
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long")),
          "cents", 1024, kllProbes)
        .orderBy(col("q_num"))),

    // ---- per-group KLL sketch (the grouped form of the family) -------------
    "kll_quantiles_by_flag_lineitem" -> ((s, dir) =>
      graft.scale.Sketches.kllQuantilesBy(
          t(s, dir, "lineitem").withColumn("cents",
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long")),
          "cents", Seq("l_returnflag"), 1024, kllProbes)
        .orderBy(col("l_returnflag"), col("q_num"))),

    // ---- STREAMING per-group KLL (per-group value-dictionary state) --------
    "streaming_kll_quantiles_by_flag_lineitem" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "lineitem"), dir, "lineitem")
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      val counts = stream
        .groupBy(col("l_returnflag"), col("cents").as("v"))
        .agg(count(lit(1)).as("c"))
      val drained = Streams.runToMemory(counts, "stream_kllby",
        OutputMode.Complete())
      graft.scale.Sketches.kllFromCountsBy(drained, Seq("l_returnflag"),
          1024, kllProbes)
        .orderBy(col("l_returnflag"), col("q_num"))
    }),

    // ---- STREAMING KLL sketch (value-dictionary Complete-mode state) -------
    // The pre-compaction state is the associative (value, count) monoid —
    // micro-batch-order-free — and the deterministic compaction + picks
    // fold on the drained dictionary (the streaming_percentiles shape;
    // same bounded-domain caveat, same batch oracle verbatim).
    "streaming_kll_quantiles_lineitem" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "lineitem"), dir, "lineitem")
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      val counts = stream.groupBy(col("cents").as("v"))
        .agg(count(lit(1)).as("c"))
      val drained = Streams.runToMemory(counts, "stream_kll",
        OutputMode.Complete())
      graft.scale.Sketches.kllFromCounts(drained, 1024, kllProbes)
        .orderBy(col("q_num"))
    }),

    // ---- priority sampling (DLT) with unbiased-total estimator -------------
    // k=500 orders weighted by price; τ-threshold contributions sum to an
    // unbiased estimate of the exact corpus total carried alongside.
    "priority_sample_orders" -> ((s, dir) =>
      graft.sample.Samplers.prioritySample(
          t(s, dir, "orders").withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")),
          "o_orderkey", "cents", 500)
        .orderBy(col("sel_rank"))),

    // ---- bounded-state sample quantiles with exact rank-error grade --------
    // O(k)-state estimator beside the exact two-pass selection: per return
    // flag, type-1 quantiles of the k=1000-row deterministic md5 bottom-k
    // sample, each estimate graded with its exact corpus rank.
    "sample_quantiles_lineitem" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .withColumn("rid", concat(col("l_orderkey").cast("string"),
          lit("-"), col("l_linenumber").cast("string")))
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      graft.sample.Samplers.sampleQuantiles(l, "rid", "cents",
          Seq(250000L, 500000L, 900000L), Seq("l_returnflag"), 1000, 50000L)
        .orderBy(col("l_returnflag"), col("q"))
    }),

    // ---- STREAMING sample quantiles (bottom-k aggregator state) ------------
    // The live-stream form of the O(k) estimator: a typed bottom-k
    // aggregator holds the k smallest (draw, id) triples per group as
    // Complete-mode state (k rows, period — no cut needed: the buffer IS
    // the bound), the est fold runs on the drained sample, and the grade
    // runs as a second bounded pass (|groups|·|q| counter rows).
    "streaming_sample_quantiles_lineitem" -> ((s, dir) => {
      import graft.sample.Samplers
      val batch = t(s, dir, "lineitem")
      def stream = Streams.corpusStream(batch, dir, "lineitem")
        .withColumn("rid", concat(col("l_orderkey").cast("string"),
          lit("-"), col("l_linenumber").cast("string")))
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
        .filter(col("cents").isNotNull)
      val g = Seq("l_returnflag")
      val qs = Seq(250000L, 500000L, 900000L)
      def drain(df: DataFrame, p: String) =
        Streams.runToMemory(df, p, OutputMode.Complete())
      val bk = udaf(Samplers.bottomKSampleAggregator(1000),
        org.apache.spark.sql.Encoders.product[(Long, String, Long)])
      val sampled = stream
        .withColumn("__draw",
          Samplers.hashDraw32(concat(lit("sq:"), col("rid"))))
        .groupBy(col("l_returnflag"))
        .agg(bk(col("__draw"), col("rid"), col("cents")).as("__s"))
      val sample = drain(sampled, "ssq1")
        .select(col("l_returnflag"), explode(col("__s.vals")).as("__v"))
        .localCheckpoint(true) // feeds kcnt + the sample value counts
      val kcnt = sample.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("__k"))
      val est = Samplers.sampleQuantileEsts(
          sample.groupBy(col("l_returnflag"), col("__v"))
            .agg(count(lit(1)).as("__cnt")),
          qs, g)
        .localCheckpoint(true) // |groups|·|q| rows; feeds the grade pass
      val graded = drain(Samplers.gradeEstimates(
        stream.select(col("l_returnflag"), col("cents").as("__v")),
        est, g), "ssq2")
      Samplers.sampleQuantilesReport(graded, kcnt, g, 50000L)
        .orderBy(col("l_returnflag"), col("q"))
    }),

    // ---- Spearman rank correlation (monotone association) ------------------
    "spearman_lineitem" -> ((s, dir) =>
      Metrics.spearmanCorr(t(s, dir, "lineitem")
          .withColumn("cents",
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long"))
          .withColumn("qty", col("l_quantity").cast("long")),
        "cents", "qty")),

    // ---- Kendall tau-b concordance between two banded metrics --------------
    // Price band (cents div 1e6) vs quantity per return flag: exact C/D
    // pair masses over the contingency dictionary self-join, marginal tie
    // correction, the mirrored tau the only float.
    "kendall_tau_lineitem" -> ((s, dir) =>
      Metrics.kendallTauB(t(s, dir, "lineitem")
          .withColumn("price_band",
            expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 " +
              "AS BIGINT) div 1000000"))
          .withColumn("qty", col("l_quantity").cast("long")),
        "price_band", "qty", Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))),

    // ---- STREAMING Kendall tau-b (contingency cells as Complete state) ----
    "streaming_kendall_tau_lineitem" -> ((s, dir) => {
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
    }),

    // ---- STREAMING vocabulary richness (token dictionary as state) --------
    "streaming_vocab_richness_docs" -> ((s, dir) => {
      val stream =
        Streams.corpusStream(t(s, dir, "documents"), dir, "documents")
      val counts = stream
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val drained = Streams.runToMemory(counts, "stream_rich",
        OutputMode.Complete())
      TextAnalysis.vocabRichnessFromCounts(drained)
    }),

    // ---- phonetic blocking (surname-Soundex block + exact lev verify) -----
    // The Newcombe blocking key beside q-gram/SNM/LSH: last-token
    // phonetic code blocks, full-name Levenshtein <= 2 verify, at
    // distinct-name dictionary scale.
    "phonetic_block_part" -> ((s, dir) =>
      Dedup.phoneticBlockPairs(t(s, dir, "part"), "p_name", 2)
        .orderBy(col("code"), col("name_a"), col("name_b"))),

    // ---- phonetic blocking QUALITY vs exact lev<=2 ground truth ------------
    // Grades the new blocking the way blocking_quality grades the
    // brand/size blocks: candidates = same-code name pairs, gold = the
    // exact brute-force lev<=2 pairs over the distinct-NAME dictionary
    // (the declared exact baseline — dictionary-scale, never corpus).
    "phonetic_blocking_quality_part" -> ((s, dir) => {
      val names = t(s, dir, "part").select(col("p_name").as("name"))
        .distinct()
        .withColumn("code", Dedup.phoneticCode(
          element_at(split(col("name"), " "), -1)))
        .localCheckpoint(true)
      val cand = names.select(col("code"), col("name").as("id_a"))
        .join(names.select(col("code"), col("name").as("id_b")),
          Seq("code"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val gold = names.select(col("name").as("id_a"))
        .crossJoin(names.select(col("name").as("id_b")))
        .filter(col("id_a") < col("id_b") &&
          levenshtein(col("id_a"), col("id_b")) <= 2)
        .select(col("id_a"), col("id_b"))
      Dedup.blockingQuality(cand, gold, names.select(col("name")))
    }),

    // ---- edit-distance similarity self-join (Ed-Join prefix filtering) ----
    // Every part pair within Levenshtein distance 2 of each other's name,
    // with the exact distance. The oracle brute-forces the distance
    // predicate over all distinct-name pairs (collapse to distinct names is
    // an algebraic identity — the distance depends only on the strings), so
    // a q-gram filter that over-prunes is a correctness failure.
    "edit_pairs_part" -> ((s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "part"), "p_partkey", "p_name", 2)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- blocklist scrub report (C4/Dolma bad-words stage) -----------------
    // The blocklist rides a relation (broadcast token equi-join, never a
    // 10^4-term alternation regex); flag docs where >10% of tokens hit.
    "blocklist_docs" -> ((s, dir) => {
      import s.implicits._
      val terms = Seq("slow", "broken", "spam", "junk")
        .toDF("term")
      TextAnalysis.blocklistFilter(t(s, dir, "documents"),
          "doc_id", "text", terms, 100000L)
        .orderBy(col("doc_id"))
    }),

    // ---- corpus-frequency boilerplate scrub (C4 line-dedup rule) ----------
    // Chunks occurring in >= 3 distinct docs are template noise; EVERY
    // occurrence is removed (passage_dedup_docs keeps first occurrences —
    // this is the complementary df rule).
    "boilerplate_docs" -> ((s, dir) =>
      Dedup.boilerplateScrub(t(s, dir, "documents"), "doc_id", "text", 5, 3)
        .orderBy(col("doc_id"))),

    // ---- exact two-sample KS drift (distributed prefix sum, no sort) ------
    // Did the price distribution move between the even- and odd-key halves?
    // The supremum is exact (cross-multiplied integer form); prefix sums
    // run bucket-local with window-free base offsets from the bucket table.
    "ks_drift_orders" -> ((s, dir) =>
      Metrics.ksDrift(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", col("o_orderkey") % 2 === 0),
        "cents", "side")),

    // ---- exact Mann-Whitney U rank-sum (nonparametric two-sample drift) ----
    // Does purchase-event value stochastically dominate the rest? Doubled
    // midranks keep U exact; auc IS P(purchase > other) + half-ties; the
    // whole statistic lives on the value dictionary (no corpus join-back).
    "mann_whitney_events" -> ((s, dir) =>
      Metrics.mannWhitneyU(t(s, dir, "events")
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", col("event_type") === "purchase"),
        "cents", "side")),

    // ---- Mann-Kendall trend test + Theil-Sen slope (per event type) --------
    // The outlier-immune member of the trend panel: S/var18 exact longs on
    // the daily dictionary, Sen slope = median pairwise slope via explicit
    // middle-rank picks. Same trendDaily state the trend/CUSUM/ACF share.
    "mann_kendall_events" -> ((s, dir) =>
      Events.mannKendall(t(s, dir, "events"))
        .orderBy(col("event_type"))),

    // ---- STREAMING Mann-Kendall (same daily-total state as the trend/
    // CUSUM/ACF twins; the rank fold replays on drain) ------------------------
    "streaming_mann_kendall_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val daily = Events.trendDaily(stream)
      val drained = Streams.runToMemory(daily, "stream_mk",
        OutputMode.Complete())
      Events.mannKendallFromDaily(drained).orderBy(col("event_type"))
    }),

    // ---- ONE-SCAN Poisson bootstrap: SE + envelope for the corpus mean ----
    // All 32 replicates accumulate as 64 associative sums in a single
    // pass (the bootstrap that distributes); every multiplicity is an
    // md5 draw through the literal Poisson(1) CDF ladder.
    "bootstrap_ci_orders" -> ((s, dir) =>
      Samplers.poissonBootstrap(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")),
        "o_orderkey", "cents", 32)),

    // ---- Poisson bootstrap for a RATIO metric (value share) ---------------
    // Revenue share of purchase events with its bootstrap envelope: both
    // numerator and denominator resample together per replicate — the
    // per-row-ratio bootstrap would weight rows equally, this one does
    // not.
    "bootstrap_ratio_events" -> ((s, dir) =>
      Samplers.poissonBootstrapRatio(t(s, dir, "events")
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("pnum",
            when(col("event_type") === "purchase", col("cents"))
              .otherwise(0L)),
        "event_id", "pnum", "cents", 32)),

    // ---- STREAMING bootstrap: the 2B-sum state as Complete-mode agg --------
    // A continuously-maintained CI over the ingest: every state column is
    // an associative sum; the summary fold replays on drain.
    "streaming_bootstrap_ci_orders" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "orders"), dir, "orders")
        .withColumn("cents",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .withColumn("__den1", lit(1L))
      val sums = Samplers.bootstrapRatioSums(stream, "o_orderkey",
        "cents", "__den1", 32)
      val drained = Streams.runToMemory(sums, "stream_boot",
        OutputMode.Complete())
      Samplers.bootstrapFromSums(drained, 32, "mean")
    }),

    // ---- QQ drift table: exact quantile pairs across the two halves -------
    // The incident-doc view of the drift triad (KS locates the sup, PSI
    // bins the mass, QQ shows the levels). Type-1 selection per side.
    "qq_drift_orders" -> ((s, dir) =>
      Metrics.qqDrift(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", col("o_orderkey") % 2 === 0),
        "cents", "side",
        Seq(100000L, 250000L, 500000L, 750000L, 900000L, 990000L))
        .orderBy(col("q"))),

    // ---- two-arm experiment power advisor ----------------------------------
    // "How many users per arm before this A/B can detect a 1/2/5% move"
    // priced from the metric's measured variance — one moment hash-agg.
    "power_advisor_events" -> ((s, dir) =>
      Metrics.powerAdvisor(t(s, dir, "events")
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long")),
        "cents", Seq("event_type"), Seq(0.01, 0.02, 0.05))
        .orderBy(col("event_type"), col("mde"))),

    // ---- k-anonymity quasi-identifier risk panel ----------------------------
    "k_anonymity_customer" -> ((s, dir) =>
      Metrics.kAnonymity(t(s, dir, "customer")
          .withColumn("bal_band",
            expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
              " div 100000")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), Seq(2, 5, 10))
        .orderBy(col("k"))),

    // ---- STREAMING k-anonymity (re-identification risk of the accumulated
    // stream; class-size state, Complete mode, panel fold on drain) ----------
    "streaming_k_anonymity_customer" -> ((s, dir) => {
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
    }),

    // ---- STREAMING PSI drift (frozen reference edges, live binning) --------
    // the production monitoring shape: reference decile edges are pinned
    // from the blessed snapshot (a bins-1-long bounded collect — control
    // plane), the stream bins both sides as Complete-mode state, the panel
    // folds on drain; ≡ the batch panel, oracle shared verbatim
    "streaming_psi_drift_orders" -> ((s, dir) => {
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
    }),

    // ---- PSI drift panel (where the distribution mass moved) ---------------
    "psi_drift_orders" -> ((s, dir) =>
      Metrics.psiDrift(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", col("o_orderkey") % 2 === 0),
        "cents", "side", 10)
        .orderBy(col("bin"))),

    // ---- chi-square token drift (which tokens moved between corpora) ------
    // English vs non-English halves of the corpus: the top-25 tokens by the
    // 2x2 chi-square — the drift panel that NAMES the movers, complementing
    // domain_divergence's distribution-level scores.
    "token_drift_docs" -> ((s, dir) =>
      TextAnalysis.tokenDrift(t(s, dir, "documents")
          .withColumn("side", col("lang") === "en"),
        "text", "side", 25)),

    // ---- Kaplan-Meier time-to-conversion curve ----------------------------
    // Time from each user's first event to their first high-value purchase
    // (value >= 150); users who never convert are right-censored at their
    // last event. Risk sets, events, censored counts, and the
    // product-limit estimator per whole-day duration.
    "kaplan_meier_events" -> ((s, dir) =>
      Events.kaplanMeier(t(s, dir, "events"),
          col("event_type") === "purchase" && col("value") >= 150.0)
        .orderBy(col("dur"))),

    // ---- common-neighbor link prediction on the co-order graph ------------
    // Top-50 NON-adjacent part pairs by neighborhood Jaccard. Middle nodes
    // above deg 64 are excluded from wedge generation by declared
    // semantics (hub wedges cost deg^2 and carry no similarity signal);
    // the oracle replicates the cap exactly.
    "link_prediction_lineitem" -> ((s, dir) => {
      val hi = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 35.0)
        .select(col("l_orderkey").as("k"), col("l_partkey"))
      val edges = hi
        .join(hi.select(col("k"), col("l_partkey").as("p2")), Seq("k"))
        .filter(col("l_partkey") =!= col("p2"))
        .select(col("l_partkey").as("src"), col("p2").as("dst"))
      Graph.linkPrediction(edges, 64, 50).orderBy(col("rk"))
    }),

    // ---- RFM user segmentation (breakpoint quintiles, no global sort) -----
    // Recency/frequency/monetary per user, scored 1-5 against corpus-wide
    // type-1 quintile breakpoints from the distributed-selection
    // percentile machinery — never a global NTILE sort.
    "rfm_events" -> ((s, dir) =>
      Events.rfmSegments(t(s, dir, "events"))
        .orderBy(col("user_id"))),

    // ---- mutual-kNN clustering over embeddings ----------------------------
    // Reciprocated top-3 cosine edges -> connected components: the
    // graph-clustering view of the corpus (semantic topic grouping). The
    // kNN generator is pluggable; brute force here keeps the oracle exact.
    "knn_clusters_embeddings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") % 2 === 0)
      Similarity.mutualKnnClusters(e,
          Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 3),
          "vec_id")
        .orderBy(col("vec_id"))
    }),

    // ---- Welch two-sample t-test per event type ---------------------------
    // Did the mean event value move between the even- and odd-user halves?
    // Exact decimal moments in one conditional hash-agg; t and
    // Welch-Satterthwaite dof as fixed-order doubles.
    "ab_test_events" -> ((s, dir) =>
      Metrics.welchTTest(t(s, dir, "events")
          .withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
        .orderBy(col("event_type"))),

    // ---- ALWAYS-VALID sequential A/B test (mixture-mSPRT) -----------------
    // The continuous-monitoring companion the fixed-horizon Welch panel
    // lacks: Λ over the same six-moment state, p = min(1, 1/Λ) valid at
    // every intermediate drain (Johari et al. KDD'17). Same side/group
    // fabric as ab_test_events.
    "sequential_ab_events" -> ((s, dir) =>
      Metrics.sequentialAbTest(t(s, dir, "events")
          .withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
        .orderBy(col("event_type"))),

    // ---- STREAMING always-valid sequential A/B ----------------------------
    // The op the mSPRT exists for: the moments are Complete-mode state and
    // the mixture statistic is licensed at EVERY drain — the twin shares
    // the batch oracle verbatim (state = batch aggregate).
    "streaming_sequential_ab_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val moments = Metrics.welchMoments(
        stream.withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
      val drained = Streams.runToMemory(moments, "stream_seqab",
        OutputMode.Complete())
      Metrics.sequentialAbFromMoments(drained, Seq("event_type"))
        .orderBy(col("event_type"))
    }),

    // ---- embedding-space drift per dimension ------------------------------
    // WHERE in the embedding space do the two corpus halves diverge? Exact
    // quantized sums per (dim, side), mean shift per dimension.
    "embedding_drift_embeddings" -> ((s, dir) =>
      Similarity.embeddingDrift(t(s, dir, "embeddings")
          .withColumn("side", col("vec_id") % 2 === 0),
        "embedding", "side")
        .orderBy(col("dim"))),

    // ---- market-basket frequent pairs (A-priori level 2) ------------------
    // Part pairs co-ordered in >= 2 orders, with support and exact
    // cross-multiplied lift; pair mass is per-basket C(size,2), never
    // corpus^2.
    "basket_pairs_lineitem" -> ((s, dir) =>
      Baskets.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", 2)
        .orderBy(col("item_a"), col("item_b"))),

    // ---- STREAMING Welch A/B panel ----------------------------------------
    // The six conditional decimal moments are associative sums — legal
    // Complete-mode streaming state; the t/dof algebra runs over the
    // drained |groups|-row state table. Oracle = the batch ab_test SQL
    // (the state IS the batch aggregate, micro-batch-order-free).
    "streaming_ab_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val moments = Metrics.welchMoments(
        stream.withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
      val drained = Streams.runToMemory(moments, "stream_ab",
        OutputMode.Complete())
      Metrics.welchFromMoments(drained, Seq("event_type"))
        .orderBy(col("event_type"))
    }),

    // ---- ABC / Pareto revenue classification ------------------------------
    // Parts ranked by exact revenue cents; A while the cumulative share
    // stays within 80%, B within 95%, C beyond — boundaries decided by
    // integer cross-multiplication, never a float share.
    "abc_analysis_lineitem" -> ((s, dir) =>
      Baskets.abcAnalysis(t(s, dir, "lineitem"),
          "l_partkey", "l_extendedprice")
        .orderBy(col("rank"))),

    // ---- language-ID confusion matrix (prediction quality panel) ----------
    // The n-gram lang-ID's predictions vs the labeled lang column: per
    // (true, predicted) cell count + within-class recall share.
    "langid_confusion_docs" -> ((s, dir) => {
      val p = TextAnalysis.languageId(t(s, dir, "documents"), "text")
      val m = p.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val tot = m.groupBy(col("lang")).agg(sum(col("n")).as("__t"))
      m.join(tot, Seq("lang"))
        .select(col("lang"), col("pred_lang"), col("n"),
          round(col("n").cast("double") / col("__t"), 6)
            .as("recall_share"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // ---- Heaps'-law vocabulary-growth curve --------------------------------
    // Cumulative distinct types vs cumulative tokens over doc-order
    // buckets — the dedup-health / tokenizer-budget curve.
    "heaps_law_docs" -> ((s, dir) =>
      TextAnalysis.heapsLaw(t(s, dir, "documents"), "doc_id", "text", 50)
        .orderBy(col("bucket"))),

    // ---- vocabulary richness: Chao1 + Good-Turing unseen mass -------------
    // Species-richness view of the token distribution: singleton/doubleton
    // tail -> chao1 lower bound on total vocabulary and the Good-Turing
    // probability the next token is new — exact micro-longs from the
    // frequency-of-frequencies dictionary.
    "vocab_richness_docs" -> ((s, dir) =>
      TextAnalysis.vocabRichness(t(s, dir, "documents"), "text")),

    // ---- per-user behavioral entropy ---------------------------------------
    "user_entropy_events" -> ((s, dir) =>
      Events.userEntropy(t(s, dir, "events"))
        .orderBy(col("user_id"))),

    // ---- stratified Kaplan-Meier (one curve per assignment arm) -----------
    // Cohort = the user's assignment arm (user_id mod 3; the corpus's
    // acquisition weeks are degenerate — every user starts on day 0, so
    // an arm stratifier is the honest spread); windows partition by
    // cohort so strata never interleave.
    "kaplan_meier_cohort_events" -> ((s, dir) =>
      Events.kaplanMeier(t(s, dir, "events"),
          col("event_type") === "purchase" && col("value") >= 150.0,
          Some(col("user_id") % 3))
        .orderBy(col("cohort"), col("dur"))),

    // ---- two-proportion z-test per arm (conversion-rate A/B) --------------
    // Unit = user, success = any purchase >= 150, side = even/odd user,
    // stratified by arm — the proportions half of the A/B panel
    // (ab_test_events covers means).
    "proportion_test_events" -> ((s, dir) => {
      val units = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
          col("value") >= 150.0, 1L).otherwise(0L)).as("__s"))
        .select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side"),
          (col("__s") === 1L).as("success"))
      Metrics.proportionZTest(units, "success", "side", Seq("arm"))
        .orderBy(col("arm"))
    }),

    // ---- STREAMING two-proportion panel ------------------------------------
    // Event-level twin of the proportions test (chained user-level
    // aggregation is not legal streaming state): the four conditional
    // count moments are associative sums — Complete-mode state — and the
    // z algebra runs over the drained |arms|-row table. Unit = event,
    // success = qualifying purchase, side = even/odd user, group = arm.
    "streaming_proportion_events" -> ((s, dir) => {
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
    }),

    // ---- unbiased pass@k over sampled verdicts (Chen et al. 2021) ----------
    // Per task (event_id % 97) with n samples and c passes: pass@k =
    // 1 - prod_{i<k}(n-c-i)/(n-i), left-folded so both engines multiply
    // identical doubles; 1.0 when every size-k draw must pass, NULL
    // below k samples.
    "pass_at_k_events" -> ((s, dir) =>
      graft.scale.Eval.passAtK(
        t(s, dir, "events").select((col("event_id") % 97).as("task"),
          (col("event_type") === "purchase" && col("value") >= 120.0)
            .as("ok")),
        "task", "ok", Seq(1, 5, 10))
        .orderBy(col("task"), col("k"))),

    // ---- STREAMING pass@k (per-task counts as Complete-mode state) ---------
    "streaming_pass_at_k_events" -> ((s, dir) => {
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
    }),

    // ---- word error rate of a perturbed transcript vs its reference --------
    // Every 7th token miscalled 'xxx' (the deterministic ASR-noise
    // fixture); token-level levenshtein via the per-pair relabeling
    // encode (distance is invariant under any bijective relabeling).
    "wer_docs" -> ((s, dir) => {
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
    }),

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
    "cer_docs" -> ((s, dir) => {
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
    }),

    // ---- ROUGE-2 recall of a truncated candidate vs its reference ----------
    // Clipped-multiset bigram overlap over reference mass (Lin 2004);
    // candidate = the doc's first 12 tokens (the deterministic
    // "summary"), reference = the full text — keyed dictionaries + ONE
    // (key, gram) equi-join, never pair mass.
    "rouge2_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Eval.rougeN(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text", 2)
        .orderBy(col("doc_id"))
    }),

    // ---- chrF of the truncated candidate vs its reference ------------------
    // Character-6-gram F2 (Popović WMT'15) — tokenization-free eval
    // beside rouge2_docs; same keyed-dictionary construction, clipped
    // multiset overlap, P AND R.
    "chrf_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Eval.chrF(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- BLEU-4 of the truncated candidate vs its reference ----------------
    // Clipped modified precisions n=1..4 + brevity penalty (Papineni
    // ACL'02) — the remaining canonical generation metric beside
    // ROUGE/chrF; one (key, n, gram) dictionary per side, ONE keyed
    // equi-join, conditional-sum pivot.
    "bleu_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Eval.bleu(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- corpus-level BLEU-4 (summed counts, then the same algebra) --------
    // The Papineni corpus statistic — overlaps/masses/lengths sum over
    // segments BEFORE the precision quotients (not a mean of segment
    // BLEUs, which over-rewards short segments); one diagnostic row.
    // Runs on the doc_id % 5 = 0 segment stratum: the statistic is the
    // deliverable, and re-gramming the full corpus would duplicate
    // bleu_docs' by-construction 4-gram mass in the suite.
    "bleu_corpus_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      graft.scale.Eval.bleuCorpus(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
    }),

    // ---- paired bootstrap: is system A's corpus BLEU significantly above
    // B's? (Koehn EMNLP'04) -----------------------------------------------
    // System A = the 12-token-prefix candidate, system B = the 6-token
    // prefix (worse by construction — half the mass, a far harsher
    // brevity penalty); 32 Poisson(1) segment resamples recompute BOTH
    // corpus BLEUs per replicate from the SAME draw over the summed
    // per-segment exact counts. Same doc_id % 5 stratum as
    // bleu_corpus_docs (the statistic is the deliverable; full-corpus
    // re-gramming would triple the suite's 4-gram mass).
    "bleu_paired_bootstrap_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      def prefix(k: Int) = docs.select(col("doc_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, k))
          .as("text"))
      graft.scale.Eval.bleuPairedBootstrap(
        prefix(12), prefix(6),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
    }),

    // ---- minimum detectable effect at current traffic ----------------------
    // The planning row an experimenter reads BEFORE peeking at the
    // delta: MDE = 2.801585 * SE(delta) (alpha .05 two-sided, 80%
    // power), absolute and relative to the pooled mean.
    "mde_events" -> ((s, dir) =>
      Metrics.minDetectableEffect(t(s, dir, "events")
          .withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
        .orderBy(col("event_type"))),

    // ---- CUPED variance reduction (Deng et al. WSDM'13) --------------------
    // Pre-period (days 1-15) per-user revenue predicts the outcome
    // period; the theta-adjusted metric keeps the estimand and removes
    // the variance X explains — the entire panel is an algebra over
    // exact decimal moment sums (no per-unit double ever summed).
    "cuped_events" -> ((s, dir) =>
      Events.cuped(t(s, dir, "events"), 19738L)),

    // ---- line-density boilerplate filter ------------------------------------
    // jusText-class intra-doc gate: docs become 8-token lines plus
    // deterministic planted boilerplate (a link-dense nav line on
    // doc_id % 3, a too-short "click here" on doc_id % 4); keep a line
    // iff >= 4 tokens AND link density <= 1/5 (exact integer compare).
    // Per doc: kept/dropped line counts + token keep-mass.
    // (boilerplate_docs is the complementary CROSS-doc C4 df-rule scrub.)
    "line_density_docs" -> ((s, dir) => {
      val lined = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat_ws("\n", TextAnalysis.wordChunks(col("text"), 8)),
          when(col("doc_id") % 3 === 0,
            lit("home | about | http://site.example/nav www.example.com")),
          when(col("doc_id") % 4 === 0, lit("click here"))).as("text"))
      TextAnalysis.lineDensityFilter(lined, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- URL canonicalization + URL-level dedup ----------------------------
    // The crawl pipeline's FIRST dedup pass: case-shuffled hosts,
    // default ports, fragments, and tracking params collapse to one
    // canonical key, then one hash-agg picks the min-id representative.
    // Five deterministic messy variants per page derive from doc_id
    // (the planted-fixture pattern); variants 0-3 canonicalize
    // together, variant 4 (http + a KEPT id param) stays distinct.
    "url_dedup_docs" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"), expr(
        """CASE CAST(doc_id % 5 AS INT)
          |  WHEN 0 THEN concat('HTTPS://Example.COM:443/page/',
          |    CAST(doc_id div 5 AS STRING), '/')
          |  WHEN 1 THEN concat('https://example.com/page/',
          |    CAST(doc_id div 5 AS STRING), '#section-2')
          |  WHEN 2 THEN concat('https://example.com/page/',
          |    CAST(doc_id div 5 AS STRING), '?utm_source=feed&fbclid=abc')
          |  WHEN 3 THEN concat('https://example.com/page/',
          |    CAST(doc_id div 5 AS STRING), '/?ref=home')
          |  ELSE concat('http://example.com:80/page/',
          |    CAST(doc_id div 5 AS STRING), '?id=7')
          |END""".stripMargin).as("url"))
      Dedup.urlDedup(urls, "doc_id", "url")
        .orderBy(col("canonical_url"))
    }),

    // ---- per-domain crawl-health panel (registrable domain / eTLD+1) -------
    // Crawl pipelines budget, cap, and report by eTLD+1, not host or
    // TLD: eight deterministic host variants exercise the two-label
    // suffix match (co.uk), the PSL private registries (each
    // *.github.io user is its own domain), a non-default port, an IPv4
    // literal, and the wildcard fallback (.zz); per domain: doc count,
    // distinct canonical pages, content mass, refetch share.
    "domain_stats_docs" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("mass"), expr(
        """CASE CAST(doc_id % 8 AS INT)
          |  WHEN 0 THEN concat('https://WWW.Example.CO.UK/art/',
          |    CAST(doc_id div 24 AS STRING), '?utm_source=x')
          |  WHEN 1 THEN concat('https://news.example.co.uk/art/',
          |    CAST(doc_id div 24 AS STRING))
          |  WHEN 2 THEN concat('https://Alice.GitHub.IO/proj/',
          |    CAST(doc_id div 24 AS STRING), '#readme')
          |  WHEN 3 THEN concat('https://a.b.github.io/x/',
          |    CAST(doc_id div 24 AS STRING))
          |  WHEN 4 THEN concat('http://data.example.org:8080/d?id=',
          |    CAST(doc_id % 3 AS STRING))
          |  WHEN 5 THEN concat('https://one.two.example.ai/e/',
          |    CAST(doc_id div 24 AS STRING))
          |  WHEN 6 THEN 'http://192.168.0.1/admin'
          |  ELSE concat('https://weird.example.zz/f/',
          |    CAST(doc_id div 24 AS STRING))
          |END""".stripMargin).as("url"))
      Dedup.domainStats(urls, "doc_id", "url", "mass")
        .orderBy(col("domain"))
    }),

    // ---- sample-ratio-mismatch guard (assignment-count chi-square) ---------
    // The FIRST check a real A/B platform runs: Pearson chi-square of
    // the n_a:n_b assignment counts against the declared 50/50 design
    // at the strict alpha=0.001 SRM literal (Fabijan KDD'19) — the
    // validity gate the whole mSPRT/CUPED/MDE panel silently assumes.
    "srm_guard_events" -> ((s, dir) =>
      Metrics.srmGuard(
        t(s, dir, "events").select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side")),
        "side", Seq("arm"))
        .orderBy(col("arm"))),

    // ---- STREAMING SRM guard (the two assignment counts as state) ----------
    "streaming_srm_guard_events" -> ((s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = Metrics.srmCounts(
        stream.select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side")),
        "side", Seq("arm"))
      val drained = Streams.runToMemory(counts, "stream_srm",
        OutputMode.Complete())
      Metrics.srmFromCounts(drained, Seq("arm"))
        .orderBy(col("arm"))
    }),

    // ---- Benjamini-Hochberg FDR over a segment dashboard -------------------
    // 35 always-valid p-values (mSPRT per event_type x user-mod-7
    // segment) through the step-up FDR control: global p-rank via the
    // range scaffold, adjusted p as the two-phase suffix min, reject
    // on the rounded adjusted p. The multiple-testing guard every
    // many-segment dashboard needs.
    "fdr_bh_events" -> ((s, dir) => {
      val tests = Metrics.sequentialAbTest(
        t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 7).as("segment"),
          (col("user_id") % 2 === 0).as("side"), col("value")),
        "value", "side", Seq("event_type", "segment"))
      Metrics.benjaminiHochberg(tests, Seq("event_type", "segment"),
        "p_always")
        .orderBy(col("event_type"), col("segment"))
    }),

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
    "online_fdr_events" -> ((s, dir) => {
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
    }),

    // ---- STREAMING LORD twin (the welch moment sums as state) --------------
    // The shape online FDR exists for: the mSPRT panel drained from a
    // stream, then the LORD walk over the drained hypothesis dictionary
    // — welchMoments / sequentialAbFromMoments / onlineFdrLord shared
    // with the batch path verbatim.
    "streaming_online_fdr_events" -> ((s, dir) => {
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
    }),

    // ---- delta-method ratio-metric z-test (Deng et al. KDD'18) -------------
    // Revenue-per-click per arm: most production metrics are ratios of
    // unit sums, where a naive per-unit t-test is wrong (undefined on
    // y=0 units, mis-weighted elsewhere). Six exact decimal moments per
    // side in one hash-agg, then the delta-method variance.
    "ratio_delta_events" -> ((s, dir) =>
      Metrics.ratioMetricDelta(
        t(s, dir, "events").select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side"),
          when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0)).as("x"),
          when(col("event_type") === "click", lit(1.0))
            .otherwise(lit(0.0)).as("y")),
        "x", "y", "side", Seq("arm"))
        .orderBy(col("arm"))),

    // ---- STREAMING ratio-metric twin (the 12 moment sums as state) ---------
    "streaming_ratio_delta_events" -> ((s, dir) => {
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
    }),

    // ---- quantile treatment effect with Poisson-bootstrap CI ---------------
    // The heavy-tail leg of the A/B panel: P50/P90 deltas per event
    // type (latency/revenue metrics are READ at quantiles, where the
    // mean test answers the wrong question). Type-1 quantiles over the
    // per-(type, side, rep) value dictionaries; CI from the one-scan
    // Poisson replicate machinery.
    "quantile_effect_events" -> ((s, dir) =>
      Metrics.quantileTreatmentEffect(
        t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 2 === 0).as("side"),
          col("value"), col("event_id")),
        "value", "side", "event_id", Seq("event_type"))
        .orderBy(col("event_type"), col("quantile"))),

    // ---- STREAMING QTE twin (the replicate value dictionaries as state) ----
    "streaming_quantile_effect_events" -> ((s, dir) => {
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
    }),

    // ---- reliability diagram + expected calibration error ------------------
    // The calibration audit every scored classifier/judge pipeline gets:
    // 10 equal-width confidence bins per event type, per-bin mean
    // confidence vs empirical accuracy, ECE as the exact
    // sum|correct_b - conf-mass_b|/N reduction (no per-bin float
    // division in the statistic), MCE alongside. The planted fixture is
    // a flat-0.6-accuracy scorer whose confidence sweeps [0,1] — textbook
    // overconfidence above 0.6, underconfidence below.
    "calibration_events" -> ((s, dir) =>
      Metrics.expectedCalibrationError(
        t(s, dir, "events").select(col("event_type"),
          ((col("event_id") % 97) / lit(96.0)).as("score"),
          (col("user_id") % 5 < 3).as("correct")),
        "score", "correct", Seq("event_type"))
        .orderBy(col("event_type"), col("bin"))),

    // ---- STREAMING calibration twin (bin counts as state) -------------------
    "streaming_calibration_events" -> ((s, dir) => {
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
    }),

    // ---- post-stratified treatment effect (variance reduction) -------------
    // Stratify the per-arm A/B readout by event_type (the categorical
    // pre-treatment covariate): between-type value variance drops out
    // of the comparison, and var_reduction_pct SAYS how much the
    // stratification bought. Planted +2 lift on side B; exact decimal
    // moments per (arm, stratum, side), micro-quantized cross-strata
    // sums — order-insensitive end to end.
    "post_strat_events" -> ((s, dir) =>
      Metrics.postStratifiedDelta(
        t(s, dir, "events").select((col("user_id") % 3).as("arm"),
          col("event_type"),
          (col("user_id") % 2 === 0).as("side"),
          (col("value") + when(col("user_id") % 2 === 0, lit(2.0))
            .otherwise(lit(0.0))).as("value")),
        "value", "side", "event_type", Seq("arm"))
        .orderBy(col("arm"))),

    // ---- STREAMING post-stratification twin (stratum moments as state) -----
    "streaming_post_strat_events" -> ((s, dir) => {
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
    }),

    // ---- ALWAYS-VALID sequential two-proportion test ------------------------
    // The conversion-rate mSPRT (sequential_ab covers means): same
    // event-level fabric as the streaming proportions twin, so the
    // statistic is licensed at every drain of a conversion dashboard.
    "sequential_proportion_events" -> ((s, dir) =>
      Metrics.sequentialProportionTest(
        t(s, dir, "events").select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side"),
          (col("event_type") === "purchase" && col("value") >= 150.0)
            .as("success")),
        "success", "side", Seq("arm"))
        .orderBy(col("arm"))),

    // ---- STREAMING sequential two-proportion (same four-count state) -------
    "streaming_sequential_proportion_events" -> ((s, dir) => {
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
    }),

    // ---- STREAMING per-dimension embedding drift ---------------------------
    // The drift panel's third streaming twin (after Welch and the
    // proportions test): a stateless posexplode feeds one per-dim
    // conditional-sum aggregate — Complete-mode state, d rows — and the
    // mean/shift algebra runs over the drained table. Oracle = the batch
    // embedding_drift SQL verbatim (state IS the batch aggregate).
    "streaming_embedding_drift_embeddings" -> ((s, dir) => {
      val stream =
        Streams.corpusStream(t(s, dir, "embeddings"), dir, "embeddings")
      val moments = Similarity.embeddingDriftMoments(
        stream.withColumn("side", col("vec_id") % 2 === 0),
        "embedding", "side")
      val drained = Streams.runToMemory(moments, "stream_edrift",
        OutputMode.Complete())
      Similarity.embeddingDriftFromMoments(drained)
        .orderBy(col("dim"))
    })
  ))

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


  def oracleSql: Map[String, String] = {
    val m = baseOracleSql
    // the star-contraction CC produces the same components as the
    // propagation CC — the oracle describes the RESULT (recursive
    // reachability), not the algorithm, so the SQL is shared verbatim
    distinctKeys("oracleSql", m.toSeq ++ Seq(
      ("dup_clusters_star_docs" -> m("dup_clusters_docs")),
      // the streaming panel's Complete-mode state IS the batch moment
      // aggregate (associative sums, micro-batch-order-free) — same SQL
      ("streaming_ab_events" -> m("ab_test_events")),
      ("streaming_embedding_drift_embeddings" ->
        m("embedding_drift_embeddings")),
      // the g3 fold over the drained count state = the batch fdViolations
      // algebra (spec-pinned composition) — same SQL
      ("streaming_fd_violations_orders" -> m("fd_violations_orders")),
      // the Benford fold over the drained digit-count state = the batch
      // panel algebra (spec-pinned composition) — same SQL
      ("streaming_benford_orders" -> m("benford_orders")),
      // k-anonymity twin: class-count state + drained fold ≡ the batch
      // panel, so the oracle is the batch SQL verbatim
      ("streaming_k_anonymity_customer" -> m("k_anonymity_customer")),
      // PSI twin: frozen-edge bin counts + drained fold ≡ the batch panel
      ("streaming_psi_drift_orders" -> m("psi_drift_orders")),
      // MAD twin: value-dictionary state + median/MAD rank-pick fold ≡
      // the batch panel (madFromCounts ∘ valueCounts spec-pinned)
      ("streaming_mad_outliers_events" -> m("mad_outliers_events")),
      // BOUNDED MAD twin: five bounded-state passes ≡ the same batch panel
      ("streaming_mad_bounded_events" -> m("mad_outliers_events")),
      // association twin: cell-count state + panel fold ≡ the batch panel
      ("streaming_assoc_orders" -> m("assoc_panel_orders")),
      // daily-trend twin: per-(type, day) cent-total state + regression
      // fold ≡ the batch fit (trendFromDaily ∘ trendDaily spec-pinned)
      ("streaming_trend_events" -> m("trend_fit_events")),
      // CUSUM twin: the SAME daily-total state, peak-pick fold on drain
      ("streaming_cusum_events" -> m("cusum_changepoint_events")),
      // Mann-Kendall twin: the SAME daily-total state, rank fold on drain
      ("streaming_mann_kendall_events" -> m("mann_kendall_events")),
      // Fleiss twin: rating-profile count state + kappa fold on drain
      ("streaming_fleiss_kappa_docs" -> m("fleiss_kappa_docs")),
      // bootstrap twin: the 2B-sum state is associative, fold on drain
      ("streaming_bootstrap_ci_orders" -> m("bootstrap_ci_orders")),
      // ACF twin: the SAME daily-total state, gap-fill + lag fold on drain
      ("streaming_acf_events" -> m("acf_events")),
      // user-entropy twin: (user, type) count state + entropy fold
      ("streaming_user_entropy_events" -> m("user_entropy_events")),
      // l-diversity twin: (class, sensitive) cell state + panel fold
      ("streaming_l_diversity_customer" -> m("l_diversity_customer")),
      // t-closeness twin: (class, ordered sensitive) cell state + EMD fold
      ("streaming_t_closeness_customer" -> m("t_closeness_customer")),
      // seasonality twin: (type, hour) count state + index fold
      ("streaming_seasonality_events" -> m("seasonality_events")),
      // WOE twin: bin-count state + smoothed fold
      ("streaming_woe_iv_events" -> m("woe_iv_events")),
      // Pearson twin: exact decimal-moment state + fold (cast after sums)
      ("streaming_corr_matrix_lineitem" -> m("corr_matrix_lineitem")),
      // skew twin: the k-anonymity class-size state + histogram fold
      ("streaming_skew_profile_events" -> m("skew_profile_events")),
      // exact-percentile twin: value-dictionary state + rank-pick fold —
      // same generated SQL as percentiles_lineitem (defined below in this
      // block, so not reachable through m())
      ("streaming_percentiles_lineitem" -> percentilesOracle(
        Seq(500000L, 900000L, 990000L))),
      // bounded-state twin: bucket-histogram state + narrowed second pass
      // ≡ the batch two-pass selection (composition spec-pinned) — same SQL
      ("streaming_percentiles_bounded_lineitem" -> percentilesOracle(
        Seq(500000L, 900000L, 990000L))),
      ("pass_at_k_events" -> passAtKOracleSql),
      ("streaming_pass_at_k_events" -> passAtKOracleSql),

      ("rouge2_docs" ->
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

      ("chrf_docs" ->
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

      ("bleu_docs" -> bleuOracleSql(corpus = false)),
      ("bleu_corpus_docs" -> bleuOracleSql(corpus = true)),
      ("bleu_paired_bootstrap_docs" -> bleuPairedBootstrapOracleSql(32)),

      // WER: the same 7th-token perturbation, per-pair relabeling
      // encode into the private-use plane (any bijection gives the
      // identical distance), same empty-ref / >254-vocab NULL gates
      ("wer_docs" ->
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

      // CER: plain codepoint levenshtein on the lowercased pair texts,
      // both sides truncated to the first 120 chars (utterance scale)
      ("cer_docs" ->
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

      ("mde_events" ->
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

      ("cuped_events" ->
        """WITH e AS (
          |  SELECT user_id, (user_id % 2 = 0) AS side,
          |    ((CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400
          |      < 19738) AS pre,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          |  FROM events),
          |u AS (
          |  SELECT user_id, side,
          |    CAST(SUM(CASE WHEN pre THEN c ELSE 0 END) AS BIGINT) AS x,
          |    CAST(SUM(CASE WHEN NOT pre THEN c ELSE 0 END) AS BIGINT)
          |      AS y
          |  FROM e GROUP BY 1, 2),
          |g AS (
          |  SELECT
          |    COUNT(*) FILTER (NOT side) AS n_a,
          |    COUNT(*) FILTER (side) AS n_b,
          |    CAST(SUM(CAST(x AS HUGEINT)) FILTER (NOT side) AS DOUBLE)
          |      AS sxa,
          |    CAST(SUM(CAST(x AS HUGEINT)) FILTER (side) AS DOUBLE)
          |      AS sxb,
          |    CAST(SUM(CAST(y AS HUGEINT)) FILTER (NOT side) AS DOUBLE)
          |      AS sya,
          |    CAST(SUM(CAST(y AS HUGEINT)) FILTER (side) AS DOUBLE)
          |      AS syb,
          |    CAST(SUM(CAST(x AS HUGEINT) * x) FILTER (NOT side)
          |      AS DOUBLE) AS xxa,
          |    CAST(SUM(CAST(x AS HUGEINT) * x) FILTER (side) AS DOUBLE)
          |      AS xxb,
          |    CAST(SUM(CAST(y AS HUGEINT) * y) FILTER (NOT side)
          |      AS DOUBLE) AS yya,
          |    CAST(SUM(CAST(y AS HUGEINT) * y) FILTER (side) AS DOUBLE)
          |      AS yyb,
          |    CAST(SUM(CAST(x AS HUGEINT) * y) FILTER (NOT side)
          |      AS DOUBLE) AS xya,
          |    CAST(SUM(CAST(x AS HUGEINT) * y) FILTER (side) AS DOUBLE)
          |      AS xyb
          |  FROM u),
          |d AS (
          |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE)
          |      AS nb,
          |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS n,
          |    sxa + sxb AS sx, sya + syb AS sy,
          |    xxa + xxb AS sxx, xya + xyb AS sxy
          |  FROM g),
          |th AS (
          |  SELECT *, n * sxx - sx * sx AS thden,
          |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
          |    sx / n AS xbar
          |  FROM d),
          |v AS (
          |  SELECT *,
          |    (yya - sya * sya / na) / (na - 1.0) AS vya,
          |    (yyb - syb * syb / nb) / (nb - 1.0) AS vyb,
          |    (xxa - sxa * sxa / na) / (na - 1.0) AS vxa,
          |    (xxb - sxb * sxb / nb) / (nb - 1.0) AS vxb,
          |    (xya - sxa * sya / na) / (na - 1.0) AS ca,
          |    (xyb - sxb * syb / nb) / (nb - 1.0) AS cb
          |  FROM th),
          |w AS (
          |  SELECT *,
          |    vya + theta * theta * vxa - 2.0 * theta * ca AS vaa,
          |    vyb + theta * theta * vxb - 2.0 * theta * cb AS vab,
          |    sya / na - theta * (sxa / na - xbar) AS maa,
          |    syb / nb - theta * (sxb / nb - xbar) AS mab,
          |    vya / na + vyb / nb AS seraw
          |  FROM v),
          |z AS (
          |  SELECT *, vaa / na + vab / nb AS seadj,
          |    (n_a >= 2 AND n_b >= 2) AS okraw,
          |    (n_a >= 2 AND n_b >= 2 AND thden > 0.0) AS oktheta
          |  FROM w)
          |SELECT n_a, n_b,
          |  CASE WHEN oktheta THEN ROUND(theta, 6) END AS theta,
          |  ROUND(sya / na, 6) AS mean_a, ROUND(syb / nb, 6) AS mean_b,
          |  CASE WHEN oktheta THEN ROUND(maa, 6) END AS mean_a_adj,
          |  CASE WHEN oktheta THEN ROUND(mab, 6) END AS mean_b_adj,
          |  CASE WHEN okraw AND seraw > 0.0 THEN
          |    ROUND((sya / na - syb / nb) / sqrt(seraw), 6) END AS t_raw,
          |  CASE WHEN oktheta AND seadj > 0.0 THEN
          |    ROUND((maa - mab) / sqrt(seadj), 6) END AS t_cuped,
          |  CASE WHEN oktheta AND seraw > 0.0 THEN
          |    ROUND(1.0 - seadj / seraw, 6) END AS var_reduction
          |FROM z""".stripMargin),

      // sequential (mSPRT) conversion test + its twin share one oracle
      // line-density boilerplate: same 8-token chunking + planted lines,
      // same exact-integer keep rule (nt >= 4 AND nl*5 <= nt*1)
      ("line_density_docs" ->
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
          |FROM agg ORDER BY doc_id""".stripMargin),

      // url dedup: the same messy-variant construction, the same six
      // declared canonicalization rules as expression mirrors, one
      // GROUP BY on the canonical key
      ("url_dedup_docs" ->
        """WITH u0 AS (
          |  SELECT doc_id,
          |    CASE CAST(doc_id % 5 AS INT)
          |      WHEN 0 THEN 'HTTPS://Example.COM:443/page/'
          |        || CAST(doc_id // 5 AS VARCHAR) || '/'
          |      WHEN 1 THEN 'https://example.com/page/'
          |        || CAST(doc_id // 5 AS VARCHAR) || '#section-2'
          |      WHEN 2 THEN 'https://example.com/page/'
          |        || CAST(doc_id // 5 AS VARCHAR)
          |        || '?utm_source=feed&fbclid=abc'
          |      WHEN 3 THEN 'https://example.com/page/'
          |        || CAST(doc_id // 5 AS VARCHAR) || '/?ref=home'
          |      ELSE 'http://example.com:80/page/'
          |        || CAST(doc_id // 5 AS VARCHAR) || '?id=7'
          |    END AS url
          |  FROM documents),
          |c0 AS (
          |  SELECT doc_id, trim(url) AS tu,
          |    regexp_replace(trim(url), '#.*$', '') AS nf
          |  FROM u0),
          |c1 AS (
          |  SELECT doc_id, tu, nf,
          |    regexp_extract(nf,
          |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0) AS auth
          |  FROM c0),
          |c2 AS (
          |  SELECT doc_id, tu, auth,
          |    substring(nf, length(auth) + 1) AS rest
          |  FROM c1),
          |c3 AS (
          |  SELECT doc_id, tu, auth,
          |    regexp_replace(regexp_replace(lower(auth),
          |      '^(https://[^:/?#]*):443$', '\1'),
          |      '^(http://[^:/?#]*):80$', '\1') AS authc,
          |    regexp_replace(rest, '\?.*$', '') AS path,
          |    CASE WHEN contains(rest, '?')
          |      THEN regexp_replace(rest, '^[^?]*\?', '')
          |      ELSE '' END AS q
          |  FROM c2),
          |c4 AS (
          |  SELECT doc_id, tu, auth, authc,
          |    regexp_replace(path, '/$', '') AS path2,
          |    array_to_string(list_filter(string_split(q, '&'),
          |      p -> len(p) > 0 AND NOT (starts_with(p, 'utm_')
          |        OR p = 'gclid' OR starts_with(p, 'gclid=')
          |        OR p = 'fbclid' OR starts_with(p, 'fbclid=')
          |        OR p = 'msclkid' OR starts_with(p, 'msclkid=')
          |        OR p = 'ref' OR starts_with(p, 'ref='))), '&') AS q2
          |  FROM c3),
          |canon AS (
          |  SELECT doc_id,
          |    CASE WHEN length(auth) > 0 THEN authc || path2 ||
          |      (CASE WHEN length(q2) > 0 THEN '?' || q2 ELSE '' END)
          |    ELSE tu END AS canonical_url
          |  FROM c4)
          |SELECT canonical_url,
          |  CAST(MIN(doc_id) AS BIGINT) AS rep_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_dups
          |FROM canon GROUP BY canonical_url
          |ORDER BY canonical_url""".stripMargin),

      ("domain_stats_docs" -> domainStatsOracleSql),

      ("srm_guard_events" -> srmGuardOracleSql),
      ("streaming_srm_guard_events" -> srmGuardOracleSql),
      ("ratio_delta_events" -> ratioDeltaOracleSql),
      ("streaming_ratio_delta_events" -> ratioDeltaOracleSql),
      ("quantile_effect_events" -> quantileEffectOracleSql(32)),
      ("streaming_quantile_effect_events" -> quantileEffectOracleSql(8)),
      ("calibration_events" -> calibrationOracleSql),
      ("streaming_calibration_events" -> calibrationOracleSql),
      ("post_strat_events" -> postStratOracleSql),
      ("streaming_post_strat_events" -> postStratOracleSql),

      // BH FDR: the mSPRT p panel per (event_type, segment), then the
      // textbook step-up — rank over (p, ids), q = min(1, m*p/i),
      // adjusted p as the descending running min, reject on rounded
      ("fdr_bh_events" ->
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
      ("online_fdr_events" -> onlineFdrOracleSql),
      ("streaming_online_fdr_events" -> onlineFdrOracleSql),
      ("sequential_proportion_events" -> sequentialProportionOracleSql),
      ("streaming_sequential_proportion_events" ->
        sequentialProportionOracleSql),
      // event-level proportions twin — no user-level pre-aggregation
      // (chained streaming aggs are illegal), so its oracle is its own
      ("streaming_proportion_events" ->
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
          |FROM v ORDER BY arm""".stripMargin),
      // unrolled to kCore's OWN maxRounds (20): kCore now throws if peeling
      // has not converged within that cap, so whenever the Spark side
      // returns at all, a 20-round replay is ≥ convergence depth and the
      // extra rounds are identity — the oracle can never silently diverge
      ("kcore_lineitem" -> kcoreOracleSql(4, 20)),
      // Bradley-Terry: MM rounds unrolled (the pagerank convention)
      ("bradley_terry_events" -> bradleyTerryOracle(3)),
      ("rank_centrality_events" -> rankCentralityOracle(3)),
      ("streaming_rank_centrality_events" -> rankCentralityOracle(3)),
      // Copeland/Condorcet: majority-graph fold on the same dictionary
      ("copeland_events" -> copelandOracle),
      // preference twins: the pair-count dictionary is associative
      // Complete-mode state; the drained folds ARE the batch operators
      // (fromPairs ∘ pairCounts spec-pinned) — batch SQL verbatim
      ("streaming_bradley_terry_events" -> bradleyTerryOracle(3)),
      ("streaming_copeland_events" -> copelandOracle),
      // bootstrap BT: long-format Poisson weights, rep-keyed MM chain
      ("bootstrap_bradley_terry_events" -> bradleyTerryBootOracle(32, 3)),
      // Plackett-Luce: two-stage MM rounds over the triple dictionary
      ("plackett_luce_events" -> plackettLuceOracle(3)),
      // PL twin: the pattern dictionary is associative Complete state
      ("streaming_plackett_luce_events" -> plackettLuceOracle(3)),
      // pairwise win-rate matrix over the shared pair dictionary
      ("winrate_matrix_events" ->
        s"""$btPairCtes
           |SELECT lo, hi, n2, w2lo,
           |  ROUND(CAST(w2lo AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
           |    AS winrate_lo
           |FROM pr ORDER BY lo, hi""".stripMargin),
      // majority-cycle triad census over the decided pair dictionary
      ("majority_cycles_events" ->
        s"""$btPairCtes,
           |dec AS (
           |  SELECT lo, hi,
           |    CASE WHEN w2lo * 2 > n2 THEN lo ELSE hi END AS src,
           |    CASE WHEN w2lo * 2 > n2 THEN hi ELSE lo END AS dst
           |  FROM pr WHERE w2lo * 2 <> n2),
           |cyc AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cyclic
           |  FROM dec e1 JOIN dec e2 ON e2.src = e1.dst
           |  JOIN dec e3 ON e3.src = e2.dst AND e3.dst = e1.src
           |  WHERE e1.src < e1.dst AND e1.src < e2.dst),
           |res AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_resolved
           |  FROM dec u1 JOIN dec u2 ON u2.lo = u1.hi
           |  JOIN dec u3 ON u3.lo = u1.lo AND u3.hi = u2.hi),
           |np AS (SELECT CAST(COUNT(DISTINCT p) AS BIGINT) AS n_players
           |  FROM (SELECT lo AS p FROM pr UNION ALL SELECT hi FROM pr)),
           |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_decided_pairs
           |  FROM dec)
           |SELECT np.n_players, nd.n_decided_pairs,
           |  res.n_resolved AS n_resolved_triads,
           |  cyc.n_cyclic AS n_cyclic_triads,
           |  CASE WHEN res.n_resolved > 0 THEN
           |    ROUND(CAST(cyc.n_cyclic AS DOUBLE) /
           |      CAST(res.n_resolved AS DOUBLE), 6) END AS cyclic_rate
           |FROM np, nd, res, cyc""".stripMargin),
      // Kendall tau-b: contingency-dictionary self-join + tie margins
      ("kendall_tau_lineitem" -> kendallTauOracle),
      // phonetic blocking: surname-code blocks + levenshtein verify
      ("phonetic_block_part" ->
        """WITH names AS (
          |  SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n
          |  FROM part GROUP BY 1),
          |k0 AS (
          |  SELECT name, n, regexp_replace(upper(string_split(name, ' ')[-1]),
          |      '[^A-Z]', '', 'g') AS key
          |  FROM names),
          |k1 AS (
          |  SELECT name, n, key,
          |    translate(key[2:], 'AEIOUYHWBFPVCGJKQSXZDTLMNR',
          |      '00000000111122222222334556') AS m
          |  FROM k0),
          |k2 AS (
          |  SELECT name, n,
          |    key[1:1] || rpad(substring(regexp_replace(
          |      regexp_replace(regexp_replace(regexp_replace(
          |      regexp_replace(regexp_replace(regexp_replace(
          |      regexp_replace(m,
          |        '0{2,}','0','g'),'1{2,}','1','g'),'2{2,}','2','g'),
          |        '3{2,}','3','g'),'4{2,}','4','g'),'5{2,}','5','g'),
          |        '6{2,}','6','g'), '0', '', 'g'), 1, 3), 3, '0') AS code
          |  FROM k1)
          |SELECT a.code, a.name AS name_a, b.name AS name_b,
          |  a.n AS n_a, b.n AS n_b,
          |  CAST(levenshtein(a.name, b.name) AS INT) AS lev
          |FROM k2 a JOIN k2 b ON a.code = b.code AND a.name < b.name
          |WHERE levenshtein(a.name, b.name) <= 2
          |ORDER BY 1, 2, 3""".stripMargin),
      // phonetic blocking quality: same-code candidates vs brute gold
      ("phonetic_blocking_quality_part" ->
        """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
          |k0 AS (
          |  SELECT name, regexp_replace(upper(string_split(name, ' ')[-1]),
          |      '[^A-Z]', '', 'g') AS key
          |  FROM names),
          |k1 AS (
          |  SELECT name, key,
          |    translate(key[2:], 'AEIOUYHWBFPVCGJKQSXZDTLMNR',
          |      '00000000111122222222334556') AS m
          |  FROM k0),
          |k2 AS (
          |  SELECT name,
          |    key[1:1] || rpad(substring(regexp_replace(
          |      regexp_replace(regexp_replace(regexp_replace(
          |      regexp_replace(regexp_replace(regexp_replace(
          |      regexp_replace(m,
          |        '0{2,}','0','g'),'1{2,}','1','g'),'2{2,}','2','g'),
          |        '3{2,}','3','g'),'4{2,}','4','g'),'5{2,}','5','g'),
          |        '6{2,}','6','g'), '0', '', 'g'), 1, 3), 3, '0') AS code
          |  FROM k1),
          |nr0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM names),
          |cand AS (
          |  SELECT a.name AS i, b.name AS j
          |  FROM k2 a JOIN k2 b ON a.code = b.code AND a.name < b.name),
          |gold AS (
          |  SELECT a.name AS i, b.name AS j
          |  FROM names a JOIN names b ON a.name < b.name
          |  WHERE levenshtein(a.name, b.name) <= 2),
          |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
          |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gold FROM gold),
          |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
          |  FROM cand JOIN gold USING (i, j))
          |SELECT nr AS n_records, n_cand, n_gold, n_hit,
          |  CASE WHEN n_gold > 0 THEN
          |    ROUND(CAST(n_hit AS DOUBLE) / CAST(n_gold AS DOUBLE), 6)
          |  END AS pair_completeness,
          |  CASE WHEN nr > 1 THEN
          |    ROUND(1.0 - CAST(n_cand AS DOUBLE)
          |      / CAST(CAST(nr AS HUGEINT) * (nr - 1) / 2 AS DOUBLE), 6)
          |  END AS reduction_ratio
          |FROM nr0, c, g, h""".stripMargin),
      // tau-b twin: contingency cells as Complete-mode state, fold on
      // drain (FromCounts ∘ cell-counts spec-pinned) — batch SQL verbatim
      ("streaming_kendall_tau_lineitem" -> kendallTauOracle),
      // richness twin: vocab-bounded token dictionary state, same fold
      ("streaming_vocab_richness_docs" -> vocabRichnessOracle),
      // vocab richness: frequency-of-frequencies fold, floored micro
      ("vocab_richness_docs" -> vocabRichnessOracle),
      // video near-dup: shot segmentation (lag + cumulative breaks) ->
      // shot-key MinHash bands -> exact set-Jaccard verify
      ("video_dup_docs" ->
        s"""$videoDupCtes
          |SELECT id_a, id_b, n_a, n_b, n_common,
          |  ROUND(CAST(n_common AS DOUBLE) /
          |    CAST(n_a + n_b - n_common AS DOUBLE), 6) AS jaccard
          |FROM gp ORDER BY 1, 2""".stripMargin),
      // video recall grade: exact Jaccard of planted pairs vs gp hits
      ("video_dup_recall_docs" ->
        s"""$videoDupCtes,
          |pl AS (
          |  SELECT doc_id AS id_a, doc_id + 999999999 AS id_b
          |  FROM documents WHERE doc_id % 13 = 0 AND doc_id % 3 = 2),
          |ti AS (
          |  SELECT pl.id_a, pl.id_b, CAST(COUNT(*) AS BIGINT) AS nc
          |  FROM pl JOIN ks ka ON ka.doc_id = pl.id_a
          |  JOIN ks kb ON kb.doc_id = pl.id_b
          |    AND kb.shot_key = ka.shot_key
          |  GROUP BY 1, 2),
          |tv AS (
          |  SELECT pl.id_a, pl.id_b, sa.n AS n_a, sb.n AS n_b,
          |    COALESCE(ti.nc, 0) AS nc
          |  FROM pl JOIN sz sa ON sa.doc_id = pl.id_a
          |  JOIN sz sb ON sb.doc_id = pl.id_b
          |  LEFT JOIN ti ON ti.id_a = pl.id_a AND ti.id_b = pl.id_b),
          |tg AS (SELECT id_a, id_b,
          |  (nc * 2 >= n_a + n_b - nc) AS above FROM tv),
          |fj AS (
          |  SELECT tg.above,
          |    CASE WHEN gp.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
          |  FROM tg LEFT JOIN gp
          |    ON gp.id_a = tg.id_a AND gp.id_b = tg.id_b)
          |SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
          |  CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_above_gate,
          |  CAST(SUM(CASE WHEN above THEN hit ELSE 0 END) AS BIGINT)
          |    AS n_recovered,
          |  CASE WHEN SUM(CASE WHEN above THEN 1 ELSE 0 END) > 0 THEN
          |    ROUND(CAST(SUM(CASE WHEN above THEN hit ELSE 0 END)
          |        AS DOUBLE) /
          |      CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS DOUBLE), 6)
          |    END AS recall
          |FROM fj""".stripMargin),
      // video clusters: the gated pairs + the dup_clusters reach pattern
      ("video_dup_clusters_docs" ->
        s"""$videoDupCtes,
          |e AS (
          |  SELECT id_a AS src, id_b AS dst FROM gp
          |  UNION SELECT id_b, id_a FROM gp),
          |reach(a, b) AS (
          |  SELECT doc_id, doc_id FROM vid
          |  UNION
          |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src)
          |SELECT a AS doc_id, MIN(b) AS cluster_rep
          |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin),
      // BFD manifest: cumulative volume in (bucket desc, id) order
      ("sequence_pack_manifest_docs" ->
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
      // BFD sequence packing: the divisible-sizes closed form
      ("sequence_pack_docs" ->
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
      // deterministic KLL sketch: dictionary + tournament-descent fold
      ("kll_quantiles_lineitem" -> kllOracle),
      ("kll_quantiles_by_flag_lineitem" -> kllByOracle),
      // grouped KLL twin: per-group (value, count) Complete-mode state
      ("streaming_kll_quantiles_by_flag_lineitem" -> kllByOracle),
      // KLL twin: the (value, count) Complete-mode state is the batch
      // dictionary (associative monoid) — same SQL verbatim
      ("streaming_kll_quantiles_lineitem" -> kllOracle),
      ("mmr_select_embeddings" -> mmrOracleSql(0L, 8)),
      ("bpe_train_docs" -> bpeTrainOracle(8)),
      // the unigram-LM trainer replay: recursive-CTE Viterbi DPs
      ("unigram_lm_train_docs" -> unigramLmOracle(2)),
      // the encode half: train CTEs on the %5<>0 split + forward Viterbi
      ("unigram_encode_docs" -> unigramEncodeOracle(2)),
      ("bpe_encode_docs" -> bpeEncodeOracle(8)),
      ("wordpiece_train_docs" -> wordpieceTrainOracle(8)),
      ("wordpiece_encode_docs" -> wordpieceEncodeOracle(8)),
      ("tokenizer_fertility_docs" -> tokenizerFertilityOracle(8)),
      ("gopher_repetition_docs" -> gopherRepetitionOracle(2, 6)),
      ("classifier_train_docs" ->
        classifierTrainOracle(8, "train")),
      ("classifier_calibration_trained_docs" ->
        classifierTrainOracle(8, "calibration")),
      ("conformal_classifier_docs" ->
        classifierTrainOracle(8, "conformal")),
      ("conformal_mondrian_docs" ->
        classifierTrainOracle(8, "mondrian")),
      ("langid_trained_docs" -> langidTrainedOracleSql(4)),
      ("pr_curve_docs" ->
        s"$prCurveOracleCore ORDER BY threshold DESC"),
      ("best_f1_threshold_docs" ->
        s"SELECT * FROM ($prCurveOracleCore) ORDER BY f1 DESC, threshold LIMIT 1"),

      ("conformal_regression_docs" ->
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
      ("kfold_docs" ->
        """WITH RECURSIVE toks AS (
          |  SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '\s+'),
          |      x -> len(x) > 0) AS t
          |  FROM documents),
          |sh AS (
          |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''),
          |    COALESCE(' ' || t[i+2], '')) AS sh
          |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
          |mh AS (
          |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
          |  FROM sh, UNNEST(range(0, 8)) AS su(s)
          |  GROUP BY doc_id, s),
          |bands AS (
          |  SELECT doc_id, s // 2 AS band,
          |    STRING_AGG(h, '' ORDER BY s) AS band_key
          |  FROM mh GROUP BY doc_id, s // 2),
          |prs AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.band_key = b.band_key
          |  WHERE a.doc_id < b.doc_id),
          |e AS (
          |  SELECT id_a AS src, id_b AS dst FROM prs
          |  UNION SELECT id_b, id_a FROM prs),
          |reach(a, b) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
          |cl AS (
          |  SELECT a AS doc_id, MIN(b) AS cluster_rep FROM reach GROUP BY a)
          |SELECT doc_id, cluster_rep,
          |  CAST(('0x' || substr(md5('fold:' || CAST(cluster_rep AS VARCHAR)),
          |    1, 8)) AS BIGINT) % 5 AS fold
          |FROM cl ORDER BY doc_id""".stripMargin),
      ("pmi_pairs_docs" ->
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
      ("phrase_search_docs" ->
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
      ("chunk_docs" ->
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
      ("ppr_trade_orders" -> pprOracleSql(3)),
      ("matryoshka_recall_embeddings" ->
        matryoshkaOracle(Seq(8, 16, 32, 64), 10, 20)),
      ("ranking_eval_embeddings" -> rankingEvalOracle(10, 20)),
      ("percentiles_lineitem" -> percentilesOracle(
        Seq(500000L, 900000L, 990000L))),
      ("oph_pairs_docs" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '\s+'),
          |      x -> len(x) > 0) AS t
          |  FROM documents),
          |sh AS (
          |  SELECT DISTINCT doc_id,
          |    concat(t[i], COALESCE(' ' || t[i+1], ''),
          |      COALESCE(' ' || t[i+2], '')) AS sh
          |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
          |hb AS (
          |  SELECT doc_id, sh, md5(sh) AS h,
          |    CAST(('0x' || substr(md5(sh), 1, 6)) AS BIGINT) % 16 AS bucket
          |  FROM sh),
          |sig AS (
          |  SELECT doc_id, bucket, MIN(h) AS mh FROM hb GROUP BY 1, 2),
          |bands AS (
          |  SELECT doc_id, bucket // 4 AS band,
          |    string_agg(bucket || ':' || mh, '|' ORDER BY bucket)
          |      AS band_key
          |  FROM sig GROUP BY doc_id, bucket // 4),
          |cand AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.band_key = b.band_key
          |    AND a.doc_id < b.doc_id),
          |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
          |common AS (
          |  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
          |  FROM cand c
          |  JOIN sh a ON a.doc_id = c.id_a
          |  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
          |  GROUP BY c.id_a, c.id_b)
          |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
          |  ROUND(CAST(n_common AS DOUBLE)
          |    / (sa.sz + sb.sz - n_common), 6) AS jaccard
          |FROM common
          |JOIN sizes sa ON sa.doc_id = id_a
          |JOIN sizes sb ON sb.doc_id = id_b
          |WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin),
      ("interval_overlap_orders" ->
        """WITH iv AS (
          |  SELECT o_orderkey AS id,
          |    CAST(date_diff('day', DATE '1970-01-01',
          |      CAST(o_orderdate AS DATE)) AS BIGINT) AS s
          |  FROM orders),
          |iv2 AS (SELECT id, s, s + id % 20 AS e FROM iv)
          |SELECT a.id AS l_id, b.id AS r_id,
          |  CAST(LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS BIGINT)
          |    AS overlap_units
          |FROM iv2 a JOIN iv2 b
          |  ON a.id % 499 = 0 AND a.id <> b.id
          |  AND a.s <= b.e AND b.s <= a.e
          |ORDER BY l_id, r_id""".stripMargin)))
  }

  /** Personalized-PageRank oracle: the [[graft.scale.Graph
    * .personalizedPageRankMicro]] rounds unrolled to fixed depth, teleport
    * base folded into the node table (sources = every 50th supplier).
    */
  private def pprOracleSql(iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      val prev = if (i == 1) "s0" else s"i${i - 1}"
      s"""i$i AS (
         |  SELECT n.node, n.base, CAST(n.base +
         |    (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS score
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, CAST(s.score // d.outdeg AS BIGINT) AS contrib
         |    FROM edges e JOIN $prev s ON e.src = s.node
         |    JOIN deg d ON e.src = d.src
         |    WHERE s.score > 0) c ON c.dst = n.node
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_suppkey AS sk, o_custkey + 10000000 AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT sk AS src, ck AS dst FROM pairs
       |  UNION ALL SELECT ck AS src, sk AS dst FROM pairs),
       |srcs AS (SELECT DISTINCT sk AS node FROM pairs WHERE sk % 50 = 0),
       |nodes AS (
       |  SELECT n.node,
       |    CASE WHEN s.node IS NULL THEN 0 ELSE 150000 END AS base
       |  FROM (SELECT DISTINCT src AS node FROM edges) n
       |  LEFT JOIN srcs s ON s.node = n.node),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       |s0 AS (
       |  SELECT node, CAST(CASE WHEN base > 0 THEN 1000000 ELSE 0 END
       |    AS BIGINT) AS score FROM nodes),
       |$rounds
       |SELECT CASE WHEN node >= 10000000 THEN 'customer'
       |    ELSE 'supplier' END AS node_type,
       |  CAST(CASE WHEN node >= 10000000 THEN node - 10000000
       |    ELSE node END AS BIGINT) AS node_id,
       |  score AS score_micro
       |FROM i$iterations WHERE score > 0
       |ORDER BY score_micro DESC, node_type, node_id""".stripMargin
  }

  /** Matryoshka-recall oracle: per truncation dim, the sliced-vector
    * quantized-cosine top-k joined against full-dim ground truth, recall
    * in integer micro-units (mirrors [[graft.scale.Similarity
    * .matryoshkaRecall]]'s floor-division discipline).
    */
  private def matryoshkaOracle(dims: Seq[Int], k: Int, qMod: Int): String = {
    val vcols = dims.map(d =>
      s"""list_transform(embedding[1:$d],
         |      x -> round(CAST(x AS DOUBLE) * 1000)) AS v$d""".stripMargin)
      .mkString(",\n    ")
    val full = dims.max
    val blocks = dims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim,
         |  CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  round((SUM(rm) // COUNT(*)) / 1000000.0, 6) AS recall_at_$k
         |FROM (
         |  SELECT a.query_id,
         |    (SUM(CASE WHEN e.cand_id IS NULL THEN 0 ELSE 1 END)
         |      * 1000000) // $k AS rm
         |  FROM (
         |    SELECT query_id, cand_id FROM (
         |      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |        ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |          list_dot_product(q.v$d, c.v$d)
         |            / sqrt(list_dot_product(q.v$d, q.v$d)
         |                   * list_dot_product(c.v$d, c.v$d)) DESC,
         |          c.vec_id) AS rk
         |      FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
         |      WHERE q.vec_id % $qMod = 0) WHERE rk <= $k) a
         |  LEFT JOIN exact e
         |    ON e.query_id = a.query_id AND e.cand_id = a.cand_id
         |  GROUP BY a.query_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH qv AS (
       |  SELECT vec_id,
       |    $vcols
       |  FROM embeddings),
       |exact AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(q.v$full, c.v$full)
       |          / sqrt(list_dot_product(q.v$full, q.v$full)
       |                 * list_dot_product(c.v$full, c.v$full)) DESC,
       |        c.vec_id) AS rk
       |    FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id % $qMod = 0) WHERE rk <= $k)
       |SELECT * FROM ($blocks) ORDER BY dim""".stripMargin
  }

  /** Ranking-eval oracle: replays the brute-force quantized-cosine top-k,
    * label-match relevance, and the micro-unit metric arithmetic of
    * [[graft.metrics.Metrics.rankingMetrics]]. The DCG discount table is
    * interpolated FROM the Scala constants (`Metrics.discountMicro`), so
    * both engines share the identical integers and no libm difference can
    * surface; `//` mirrors Spark's `div` (floor division, all operands
    * non-negative).
    */
  private def rankingEvalOracle(k: Int, qMod: Int): String = {
    val disc = graft.metrics.Metrics.discountMicro(k)
    val ideal = graft.metrics.Metrics.idealDcgMicro(k)
    val discCase = disc.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
    val idealCase = ideal.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
    s"""WITH qv AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
       |  FROM embeddings),
       |pairs AS (
       |  SELECT q.vec_id AS qid, q.label AS qlabel, c.vec_id AS cid,
       |    CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel,
       |    list_dot_product(q.v, c.v)
       |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
       |  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id % $qMod = 0),
       |topk AS (
       |  SELECT qid, qlabel, rel, rk FROM (
       |    SELECT qid, qlabel, rel,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rk
       |    FROM pairs) WHERE rk <= $k),
       |cums AS (
       |  SELECT qid, qlabel, rel, rk,
       |    SUM(rel) OVER (PARTITION BY qid ORDER BY rk) AS cum
       |  FROM topk),
       |perq AS (
       |  SELECT qid, qlabel,
       |    CAST(SUM(rel) AS BIGINT) AS nrel,
       |    MIN(CASE WHEN rel = 1 THEN rk END) AS firstr,
       |    CAST(SUM(CASE WHEN rel = 1 THEN
       |      (CASE rk $discCase ELSE 0 END) ELSE 0 END) AS BIGINT) AS dcgm,
       |    CAST(SUM(CASE WHEN rel = 1 THEN (cum * 1000000) // rk
       |      ELSE 0 END) AS BIGINT) AS apnum
       |  FROM cums GROUP BY qid, qlabel),
       |m AS (
       |  SELECT qlabel,
       |    CASE WHEN firstr IS NULL THEN 0 ELSE 1000000 // firstr END AS rrm,
       |    (nrel * 1000000) // $k AS pm,
       |    CASE WHEN nrel = 0 THEN 0 ELSE apnum // nrel END AS apm,
       |    CASE WHEN nrel = 0 THEN 0 ELSE (dcgm * 1000000)
       |      // (CASE LEAST(nrel, $k) $idealCase ELSE 1 END) END AS ndcgm
       |  FROM perq)
       |SELECT qlabel AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
       |  round((SUM(rrm) // COUNT(*)) / 1000000.0, 6) AS mrr,
       |  round((SUM(apm) // COUNT(*)) / 1000000.0, 6) AS map,
       |  round((SUM(pm) // COUNT(*)) / 1000000.0, 6) AS p_at_$k,
       |  round((SUM(ndcgm) // COUNT(*)) / 1000000.0, 6) AS ndcg_at_$k
       |FROM m GROUP BY qlabel ORDER BY qlabel""".stripMargin
  }

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

  /** Per-domain crawl-panel replay: the url_dedup canonicalization chain,
    * then host extraction and the SAME suffix ladder the Spark side runs,
    * generated from the one [[graft.scale.Dedup.PublicSuffixes]] list
    * (longest-label-first order; host = suffix gates NULL; IPv4 and the
    * wildcard fallback included), then one hash-agg per domain.
    */
  private def domainStatsOracleSql: String = {
    val ordered = graft.scale.Dedup.PublicSuffixes.distinct
      .sortBy(s => (-s.count(_ == '.'), -s.length, s))
    val ladder = ordered.map { sfx =>
      val esc = sfx.replace(".", "\\.")
      s"      WHEN host = '$sfx' THEN NULL\n" +
        s"      WHEN ends_with(host, '.$sfx')\n" +
        s"        THEN regexp_extract(host, '([^.]+\\.$esc)$$', 1)"
    }.mkString("\n")
    val head =
      """WITH u0 AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS mass,
        |    CASE CAST(doc_id % 8 AS INT)
        |      WHEN 0 THEN 'https://WWW.Example.CO.UK/art/'
        |        || CAST(doc_id // 24 AS VARCHAR) || '?utm_source=x'
        |      WHEN 1 THEN 'https://news.example.co.uk/art/'
        |        || CAST(doc_id // 24 AS VARCHAR)
        |      WHEN 2 THEN 'https://Alice.GitHub.IO/proj/'
        |        || CAST(doc_id // 24 AS VARCHAR) || '#readme'
        |      WHEN 3 THEN 'https://a.b.github.io/x/'
        |        || CAST(doc_id // 24 AS VARCHAR)
        |      WHEN 4 THEN 'http://data.example.org:8080/d?id='
        |        || CAST(doc_id % 3 AS VARCHAR)
        |      WHEN 5 THEN 'https://one.two.example.ai/e/'
        |        || CAST(doc_id // 24 AS VARCHAR)
        |      WHEN 6 THEN 'http://192.168.0.1/admin'
        |      ELSE 'https://weird.example.zz/f/'
        |        || CAST(doc_id // 24 AS VARCHAR)
        |    END AS url
        |  FROM documents),
        |c0 AS (
        |  SELECT doc_id, mass, trim(url) AS tu,
        |    regexp_replace(trim(url), '#.*$', '') AS nf
        |  FROM u0),
        |c1 AS (
        |  SELECT doc_id, mass, tu, nf,
        |    regexp_extract(nf,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0) AS auth
        |  FROM c0),
        |c2 AS (
        |  SELECT doc_id, mass, tu, auth,
        |    substring(nf, length(auth) + 1) AS rest
        |  FROM c1),
        |c3 AS (
        |  SELECT doc_id, mass, tu, auth,
        |    regexp_replace(regexp_replace(lower(auth),
        |      '^(https://[^:/?#]*):443$', '\1'),
        |      '^(http://[^:/?#]*):80$', '\1') AS authc,
        |    regexp_replace(rest, '\?.*$', '') AS path,
        |    CASE WHEN contains(rest, '?')
        |      THEN regexp_replace(rest, '^[^?]*\?', '')
        |      ELSE '' END AS q
        |  FROM c2),
        |c4 AS (
        |  SELECT doc_id, mass, tu, auth, authc,
        |    regexp_replace(path, '/$', '') AS path2,
        |    array_to_string(list_filter(string_split(q, '&'),
        |      p -> len(p) > 0 AND NOT (starts_with(p, 'utm_')
        |        OR p = 'gclid' OR starts_with(p, 'gclid=')
        |        OR p = 'fbclid' OR starts_with(p, 'fbclid=')
        |        OR p = 'msclkid' OR starts_with(p, 'msclkid=')
        |        OR p = 'ref' OR starts_with(p, 'ref='))), '&') AS q2
        |  FROM c3),
        |canon AS (
        |  SELECT doc_id, mass,
        |    CASE WHEN length(auth) > 0 THEN authc || path2 ||
        |      (CASE WHEN length(q2) > 0 THEN '?' || q2 ELSE '' END)
        |    ELSE tu END AS cu
        |  FROM c4),
        |h0 AS (
        |  SELECT doc_id, mass, cu,
        |    regexp_replace(regexp_replace(lower(regexp_extract(trim(cu),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
        |      '^.*@', ''), ':[0-9]*$', '') AS host
        |  FROM canon),
        |d0 AS (
        |  SELECT doc_id, mass, cu,
        |    NULLIF(CASE
        |      WHEN length(host) = 0 THEN NULL
        |      WHEN regexp_matches(host, '^[0-9]+(\.[0-9]+){3}$')
        |        THEN host""".stripMargin
    val tail =
      """      WHEN regexp_matches(host, '[^.]\.[^.]+$')
        |        THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
        |      ELSE NULL END, '') AS domain
        |  FROM h0)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT md5(cu)) AS BIGINT) AS n_pages,
        |  CAST(SUM(mass) AS BIGINT) AS mass,
        |  ROUND(1.0 - CAST(COUNT(DISTINCT md5(cu)) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_share
        |FROM d0 GROUP BY domain ORDER BY domain""".stripMargin
    head + "\n" + ladder + "\n" + tail
  }

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

  /** Semantic-decontamination replay core (through the within-cell
    * cosine hits) — shared by the flagged-doc detail and the measured
    * recall oracles. Benchmark vectors are rebuilt from the QUANTIZED
    * corpus integers (v_i + (vec_id+i)%5 − 2 for paraphrases, the
    * reversed list for novels) — exactly what Spark's quantize recovers
    * from the fixture's /1000.0 floats. Same 1-probe corpus / 2-probe
    * bench cell walk, exact-double dots (integer-valued, < 2^53).
    */
  private def semanticDecontamOracleCore: String =
    """WITH qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))
      |      AS v
      |  FROM embeddings),
      |bench AS (
      |  SELECT vec_id AS bench_id,
      |    CASE WHEN vec_id % 7 = 0 THEN
      |      list_transform(range(1, len(v) + 1),
      |        i -> v[i] + CAST((vec_id + i) % 5 - 2 AS DOUBLE))
      |    ELSE list_reverse(v) END AS bv
      |  FROM qv WHERE vec_id % 7 = 0 OR vec_id % 7 = 3),
      |cents AS (
      |  SELECT vec_id AS centroid_id, v AS centv FROM qv
      |  WHERE vec_id % 100 = 0),
      |casn AS (
      |  SELECT corpus_id, cv, centroid_id FROM (
      |    SELECT q.vec_id AS corpus_id, q.v AS cv, c.centroid_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_dot_product(q.v, c.centv)
      |          / sqrt(list_dot_product(q.v, q.v)
      |                 * list_dot_product(c.centv, c.centv)) DESC,
      |        c.centroid_id) AS rk
      |    FROM qv q, cents c)
      |  WHERE rk = 1),
      |basn AS (
      |  SELECT centroid_id, bench_id, bv FROM (
      |    SELECT b.bench_id, c.centroid_id, b.bv,
      |      ROW_NUMBER() OVER (PARTITION BY b.bench_id ORDER BY
      |        list_dot_product(b.bv, c.centv)
      |          / sqrt(list_dot_product(b.bv, b.bv)
      |                 * list_dot_product(c.centv, c.centv)) DESC,
      |        c.centroid_id) AS rk
      |    FROM bench b, cents c)
      |  WHERE rk <= 2),
      |hits AS (
      |  SELECT corpus_id, bench_id, cs FROM (
      |    SELECT a.corpus_id, b.bench_id,
      |      list_dot_product(a.cv, b.bv)
      |        / sqrt(list_dot_product(a.cv, a.cv)
      |               * list_dot_product(b.bv, b.bv)) AS cs
      |    FROM casn a JOIN basn b ON b.centroid_id = a.centroid_id)
      |  WHERE cs >= 0.95)""".stripMargin

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

  /** Image-quality panel replay: the phash oracle's md5 stub-grid CTE
    * (documents are text payloads, so every grid replays in VARCHAR md5),
    * then the exact long sums — Laplacian response per interior cell as
    * explicit 1-based list indexing — and the same fixed-order float
    * expressions as [[graft.scale.Multimodal.imageQuality]].
    */
  /** Shared px→agg CTE chain of the two image-quality oracles. */
  private def imageQualityAggCtes: String = {
    // 1-based grid indices of the 3x3 Laplacian stencil at interior cell
    // k in 0..35 (gy = k//6+1, gx = k%6+1, row-major 8-wide)
    val c = "(k // 6 + 1) * 8 + k % 6 + 2"
    val n = "(k // 6) * 8 + k % 6 + 2"
    val s2 = "(k // 6 + 2) * 8 + k % 6 + 2"
    val w = "(k // 6 + 1) * 8 + k % 6 + 1"
    val e = "(k // 6 + 1) * 8 + k % 6 + 3"
    val lap = s"(4 * p[$c] - p[$n] - p[$s2] - p[$w] - p[$e])"
    s"""WITH px AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), k ->
       |      CAST(('0x' || substring(
       |        md5(text || ':' || CAST(k // 16 AS VARCHAR)),
       |        (k % 16) * 2 + 1, 2)) AS BIGINT)) AS p
       |  FROM documents WHERE doc_id % 3 = 0),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(list_sum(p) AS BIGINT) AS sum_px,
       |    CAST(list_sum(list_transform(p, x -> x * x)) AS BIGINT)
       |      AS sumsq_px,
       |    CAST(list_sum(list_transform(range(0, 36), k ->
       |      $lap)) AS BIGINT) AS lap_sum,
       |    CAST(list_sum(list_transform(range(0, 36), k ->
       |      $lap * $lap)) AS BIGINT) AS lap_sumsq,
       |    CAST(len(list_filter(p, x -> x <= 25)) AS INT) AS n_dark,
       |    CAST(len(list_filter(p, x -> x >= 230)) AS INT) AS n_bright
       |  FROM px)""".stripMargin
  }

  private def imageQualityOracleSql: String =
    s"""$imageQualityAggCtes
       |SELECT doc_id, sum_px, sumsq_px, lap_sum, lap_sumsq, n_dark,
       |  n_bright,
       |  ROUND(CAST(sum_px AS DOUBLE) / 64.0, 6) AS brightness,
       |  ROUND(sqrt(CAST(64 * sumsq_px - sum_px * sum_px AS DOUBLE)
       |    / 4096.0), 6) AS contrast,
       |  ROUND(CAST(36 * lap_sumsq - lap_sum * lap_sum AS DOUBLE)
       |    / 1296.0, 6) AS blur_var,
       |  ROUND(CAST(n_dark AS DOUBLE) / 64.0, 6) AS dark_frac,
       |  ROUND(CAST(n_bright AS DOUBLE) / 64.0, 6) AS bright_frac
       |FROM agg ORDER BY doc_id""".stripMargin

  private def imageQualityGateOracleSql: String =
    s"""$imageQualityAggCtes,
       |g AS (
       |  SELECT
       |    36 * lap_sumsq - lap_sum * lap_sum < 129600 AS blurry,
       |    n_dark > 32 AS dk, n_bright > 32 AS br
       |  FROM agg)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
       |  CAST(SUM(CASE WHEN blurry THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_blurry,
       |  CAST(SUM(CASE WHEN dk THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dark_heavy,
       |  CAST(SUM(CASE WHEN br THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bright_heavy,
       |  CAST(SUM(CASE WHEN NOT blurry AND NOT dk AND NOT br THEN 1
       |    ELSE 0 END) AS BIGINT) AS n_kept,
       |  ROUND(CAST(SUM(CASE WHEN NOT blurry AND NOT dk AND NOT br
       |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS kept_frac
       |FROM g""".stripMargin

  private def phashOracleSql: String = {
    val table = graft.scale.Multimodal.cosQ.mkString(", ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000000, text FROM documents
       |  WHERE doc_id % 97 = 0),
       |px AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), k ->
       |      CAST(('0x' || substring(
       |        md5(text || ':' || CAST(k // 16 AS VARCHAR)),
       |        (k % 16) * 2 + 1, 2)) AS BIGINT)) AS p
       |  FROM corpus),
       |cf AS (
       |  SELECT doc_id,
       |    list_transform(range(1, 61), j ->
       |      list_sum(list_transform(range(0, 64), k ->
       |        p[k + 1] * ct.t[(j // 8) * 8 + (k // 8) + 1]
       |                 * ct.t[(j % 8) * 8 + (k % 8) + 1]))) AS cs
       |  FROM px CROSS JOIN (SELECT [$table] AS t) ct),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(1, 61), i ->
       |      CASE WHEN cs[i] > list_sort(cs)[30]
       |        THEN CAST(1 AS BIGINT) << (i - 1)
       |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
       |  FROM cf),
       |b AS (
       |  SELECT doc_id, sig, d.band,
       |    (sig >> (d.band * 15)) & 32767 AS bkey
       |  FROM sig CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS band) d),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b,
       |    a.sig AS sig_a, bb.sig AS sig_b
       |  FROM b a JOIN b bb
       |    ON a.band = bb.band AND a.bkey = bb.bkey
       |      AND a.doc_id < bb.doc_id)
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
       |ORDER BY 1, 2""".stripMargin
  }

  /** Mechanically unrolled k-core peeling oracle: per round, a (degree,
    * keep, prune) CTE triple over the shrinking edge set. Peeling past the
    * fixpoint is identity, so `rounds` ≥ the corpus's convergence depth
    * replays [[graft.scale.Graph.kCore]]'s fixpoint exactly.
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED: each e_r is referenced 3× by the next round — if
    // the engine inlines the chain, the scan count grows 3^rounds and the
    // replay dies on file handles before it dies on CPU
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += """hi AS MATERIALIZED (
      |  SELECT l_orderkey AS kk, l_partkey AS p FROM lineitem
      |  WHERE l_quantity >= 35.0)""".stripMargin
    ctes += """e0 AS MATERIALIZED (
      |  SELECT DISTINCT least(a.p, b.p) AS a, greatest(a.p, b.p) AS b
      |  FROM hi a JOIN hi b ON a.kk = b.kk AND a.p <> b.p)""".stripMargin
    for (r <- 1 to rounds) {
      ctes += s"d$r AS MATERIALIZED (\n  SELECT node, COUNT(*) AS deg FROM (\n" +
        s"    SELECT a AS node FROM e${r - 1}" +
        s" UNION ALL SELECT b FROM e${r - 1}) u\n  GROUP BY node)"
      ctes += s"k$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k)"
      ctes += s"e$r AS MATERIALIZED (\n  SELECT e.a, e.b FROM e${r - 1} e\n" +
        s"  JOIN k$r ka ON e.a = ka.node\n  JOIN k$r kb ON e.b = kb.node)"
    }
    "WITH " + ctes.mkString(",\n") +
      s"\nSELECT node, COUNT(*) AS core_deg FROM (\n" +
      s"  SELECT a AS node FROM e$rounds" +
      s" UNION ALL SELECT b FROM e$rounds) u\n" +
      "GROUP BY node ORDER BY node"
  }

  /** Mechanically unrolled greedy k-center oracle: one (pick, re-min) CTE
    * pair per round — the oracle replays the ALGORITHM (greedy argmax
    * chain) because the k-center result is defined by it. All distances
    * are integer sums over the quantized vectors, so every argmax
    * comparison is exact; ties fall to ascending vec_id like the Spark
    * side.
    */
  /** Mechanically unrolled greedy MMR oracle (same idiom as
    * [[kcenterOracleSql]]): round 1 picks by pure relevance (min d2 to the
    * query), later rounds argmax the exact-long marginal score dm − dq,
    * ties on ascending vec_id.
    */
  private def mmrOracleSql(queryId: Long, k: Int): String = {
    def dist(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 65), i -> " +
        s"($a.v[i] - $b.v[i]) * ($a.v[i] - $b.v[i])))"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += """qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
      |  FROM embeddings)""".stripMargin
    ctes += s"q0 AS (SELECT v FROM qv WHERE vec_id = $queryId)"
    ctes += s"""cand AS (
      |  SELECT q.vec_id, q.v, ${dist("q", "z")} AS dq
      |  FROM qv q, q0 z WHERE q.vec_id <> $queryId)""".stripMargin
    ctes += "c1 AS (\n  SELECT vec_id, v, dq FROM cand" +
      "\n  ORDER BY dq, vec_id LIMIT 1)"
    ctes += s"""d1 AS (
      |  SELECT c.vec_id, c.v, c.dq, ${dist("c", "s")} AS dm
      |  FROM cand c, c1 s WHERE c.vec_id <> s.vec_id)""".stripMargin
    for (r <- 2 to k) {
      ctes += s"c$r AS (\n  SELECT vec_id, v, dq, dm FROM d${r - 1}" +
        s"\n  ORDER BY (dm - dq) DESC, vec_id LIMIT 1)"
      if (r < k)
        ctes += s"d$r AS (\n  SELECT d.vec_id, d.v, d.dq," +
          s" LEAST(d.dm, ${dist("d", "s")}) AS dm" +
          s"\n  FROM d${r - 1} d, c$r s WHERE d.vec_id <> s.vec_id)"
    }
    val sel = (s"SELECT 1 AS sel_round, vec_id AS sel_id," +
      s" CAST(dq AS BIGINT) AS d2_query, CAST(NULL AS BIGINT) AS d2_sel" +
      s" FROM c1") +: (2 to k).map(r =>
      s"SELECT $r AS sel_round, vec_id AS sel_id," +
        s" CAST(dq AS BIGINT) AS d2_query, CAST(dm AS BIGINT) AS d2_sel" +
        s" FROM c$r")
    "WITH " + ctes.mkString(",\n") + "\n" +
      sel.mkString("\nUNION ALL\n") + "\nORDER BY sel_round"
  }

  private def kcenterOracleSql(k: Int): String = {
    def dist(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 65), i -> " +
        s"($a.v[i] - $b.v[i]) * ($a.v[i] - $b.v[i])))"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += """qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
      |  FROM embeddings)""".stripMargin
    ctes += """c1 AS (
      |  SELECT vec_id, v,
      |    list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) AS obj
      |  FROM qv ORDER BY obj DESC, vec_id LIMIT 1)""".stripMargin
    ctes += s"""d1 AS (
      |  SELECT q.vec_id, q.v, ${dist("q", "c")} AS dm
      |  FROM qv q, c1 c WHERE q.vec_id <> c.vec_id)""".stripMargin
    for (r <- 2 to k) {
      ctes += s"c$r AS (\n  SELECT vec_id, v, dm AS obj FROM d${r - 1}" +
        s"\n  ORDER BY dm DESC, vec_id LIMIT 1)"
      if (r < k)
        ctes += s"d$r AS (\n  SELECT d.vec_id, d.v," +
          s" LEAST(d.dm, ${dist("d", "c")}) AS dm" +
          s"\n  FROM d${r - 1} d, c$r c WHERE d.vec_id <> c.vec_id)"
    }
    val sel = (1 to k).map(r =>
        s"SELECT $r AS sel_round, vec_id AS sel_id," +
          s" CAST(obj AS BIGINT) AS obj FROM c$r")
      .mkString("\nUNION ALL\n")
    "WITH " + ctes.mkString(",\n") + "\n" + sel + "\nORDER BY sel_round"
  }

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

  /** Bradley-Terry MM replay: the pagerank unrolled-round convention over
    * the (lo, hi) pair dictionary — each round one tt join, one denominator
    * union-agg, the floored Praw pick, and the mean-1e6 renormalization,
    * all in DuckDB `//` integer division (mirrors
    * [[graft.scale.Preference.bradleyTerryMicro]] term for term).
    */
  /** The arena-match fabrication + (lo, hi) pair-count dictionary shared
    * by the Bradley-Terry and Copeland oracles.
    */
  private val btPairCtes: String =
    """WITH m AS (
      |  SELECT event_id AS mid, event_id % 12 AS pa,
      |    (event_id // 12) % 12 AS pb, user_id % 10 AS ock
      |  FROM events WHERE event_id % 12 <> (event_id // 12) % 12),
      |pr AS (
      |  SELECT LEAST(pa, pb) AS lo, GREATEST(pa, pb) AS hi,
      |    CAST(2 * COUNT(*) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN ock = 0 THEN 1
      |      WHEN ock <= 6 THEN 2 ELSE 0 END) AS BIGINT) AS w2lo
      |  FROM m GROUP BY 1, 2)""".stripMargin

  /** Bootstrapped Bradley-Terry replay: per-(match, replicate) Poisson
    * weights through the shared 16-bit CDF ladder (long format — the
    * replicate is DATA, so the MM rounds run once, grouped by rep), the
    * keyed MM chain, the per-player moment SE + envelope fold, and the
    * plain point fit joined on — mirrors
    * [[graft.scale.Preference.bradleyTerryBootstrap]] term for term.
    */
  private def bradleyTerryBootOracle(reps: Int, rounds: Int): String = {
    val cdf = graft.sample.Samplers.PoissonCdf16
    val u = "((CAST(('0x' || substring(md5(CAST(mid AS VARCHAR) || " +
      "':c' || CAST(b.b // 3 AS VARCHAR)), 1, 15)) AS BIGINT) >> " +
      "((b.b % 3) * 16)) & 65535)"
    val ladder = cdf.zipWithIndex.foldRight("8") { case ((t, k), acc) =>
      s"CASE WHEN $u < $t THEN $k ELSE $acc END"
    }
    val perRound = (1 to rounds).map { r =>
      s"""wt$r AS (
         |  SELECT rep, player, CAST(SUM(tt) AS BIGINT) AS t FROM (
         |    SELECT wp.rep, wp.lo AS player,
         |      CAST(CAST(wp.n2 AS HUGEINT) * 1000000000000 // (sl.p + sh.p) AS BIGINT) AS tt
         |    FROM wp JOIN ws${r - 1} sl
         |      ON sl.rep = wp.rep AND sl.player = wp.lo
         |    JOIN ws${r - 1} sh
         |      ON sh.rep = wp.rep AND sh.player = wp.hi
         |    UNION ALL
         |    SELECT wp.rep, wp.hi, CAST(CAST(wp.n2 AS HUGEINT) * 1000000000000 // (sl.p + sh.p) AS BIGINT)
         |    FROM wp JOIN ws${r - 1} sl
         |      ON sl.rep = wp.rep AND sl.player = wp.lo
         |    JOIN ws${r - 1} sh
         |      ON sh.rep = wp.rep AND sh.player = wp.hi)
         |  GROUP BY 1, 2),
         |wr$r AS (
         |  SELECT wpp.rep, wpp.player, GREATEST(
         |    (wpp.wins2 * 1000000) // GREATEST(wt$r.t // 1000000, 1), 1)
         |    AS praw
         |  FROM wpp JOIN wt$r
         |    ON wt$r.rep = wpp.rep AND wt$r.player = wpp.player),
         |ws$r AS (
         |  SELECT wr$r.rep, wr$r.player, GREATEST(
         |    (wr$r.praw * 1000000) // GREATEST(nn$r.s // nn$r.n, 1), 1)
         |    AS p
         |  FROM wr$r JOIN (SELECT rep, CAST(SUM(praw) AS BIGINT) AS s,
         |    CAST(COUNT(*) AS BIGINT) AS n FROM wr$r GROUP BY 1) nn$r
         |    ON nn$r.rep = wr$r.rep)""".stripMargin
    }.mkString(",\n")
    s"""$btPairCtes,
       |mw AS (
       |  SELECT LEAST(pa, pb) AS lo, GREATEST(pa, pb) AS hi,
       |    CASE WHEN ock = 0 THEN 1 WHEN ock <= 6 THEN 2 ELSE 0 END
       |      AS w2l,
       |    b.b AS rep, $ladder AS w
       |  FROM m, UNNEST(range(0, $reps)) AS b(b)),
       |wp AS (
       |  SELECT rep, lo, hi, CAST(SUM(2 * w) AS BIGINT) AS n2,
       |    CAST(SUM(w2l * w) AS BIGINT) AS w2lo
       |  FROM mw GROUP BY 1, 2, 3 HAVING SUM(w) > 0),
       |wpp AS (
       |  SELECT rep, player, CAST(SUM(n2) AS BIGINT) AS games2,
       |    CAST(SUM(w2) AS BIGINT) AS wins2
       |  FROM (
       |    SELECT rep, lo AS player, n2, w2lo AS w2 FROM wp
       |    UNION ALL SELECT rep, hi, n2, n2 - w2lo FROM wp)
       |  GROUP BY 1, 2),
       |ws0 AS (SELECT rep, player, CAST(1000000 AS BIGINT) AS p FROM wpp),
       |$perRound,
       |se AS (
       |  SELECT player, CAST(COUNT(*) AS BIGINT) AS n_reps,
       |    CAST(SUM(p) AS BIGINT) AS sq, CAST(SUM(p * p) AS BIGINT) AS sqq,
       |    CAST(MIN(p) AS BIGINT) AS ci_lo_micro,
       |    CAST(MAX(p) AS BIGINT) AS ci_hi_micro
       |  FROM ws$rounds GROUP BY 1),
       |pp AS (
       |  SELECT player, CAST(SUM(n2) AS BIGINT) AS games2,
       |    CAST(SUM(w2) AS BIGINT) AS wins2
       |  FROM (
       |    SELECT lo AS player, n2, w2lo AS w2 FROM pr
       |    UNION ALL SELECT hi, n2, n2 - w2lo FROM pr)
       |  GROUP BY 1),
       |s0 AS (SELECT player, CAST(1000000 AS BIGINT) AS p FROM pp),
       |${btMmRoundsSql(rounds)}
       |SELECT pp.player, pp.games2, pp.wins2, s$rounds.p AS strength_micro,
       |  ROUND(1500.0 + 400.0 * ln(CAST(s$rounds.p AS DOUBLE) / 1e6)
       |    / ln(10.0), 6) AS elo,
       |  se.n_reps,
       |  CASE WHEN se.n_reps > 1 THEN
       |    ROUND(sqrt(CAST(se.n_reps * se.sqq - se.sq * se.sq AS DOUBLE)
       |      / (CAST(se.n_reps AS DOUBLE)
       |        * (CAST(se.n_reps AS DOUBLE) - 1.0))) / 1e6, 6) END
       |    AS boot_se,
       |  se.ci_lo_micro, se.ci_hi_micro
       |FROM pp JOIN s$rounds USING (player)
       |LEFT JOIN se USING (player)
       |ORDER BY strength_micro DESC, player""".stripMargin
  }

  /** Plackett-Luce replay: race fabrication, the ordered-triple pattern
    * dictionary, and unrolled two-stage MM rounds (suffix members as a
    * CASE list UNNEST) — mirrors
    * [[graft.scale.Preference.plackettLuceMicro]] term for term.
    */
  private def plackettLuceOracle(rounds: Int): String = {
    val mem = "CASE WHEN stage = 0 THEN [f, s, t3] ELSE [s, t3] END"
    val perRound = (1 to rounds).map { r =>
      s"""d$r AS (
         |  SELECT f, s, t3, cnt, stage,
         |    CAST(CAST(cnt AS HUGEINT) * 1000000000000 // ssum AS BIGINT) AS term FROM (
         |    SELECT sg.f, sg.s, sg.t3, sg.cnt, sg.stage,
         |      CAST(SUM(p.p) AS BIGINT) AS ssum
         |    FROM sg, UNNEST(CASE WHEN sg.stage = 0
         |      THEN [sg.f, sg.s, sg.t3] ELSE [sg.s, sg.t3] END) AS u(m)
         |    JOIN ps${r - 1} p ON p.player = u.m
         |    GROUP BY 1, 2, 3, 4, 5)),
         |tm$r AS (
         |  SELECT u.m AS player, CAST(SUM(term) AS BIGINT) AS t
         |  FROM d$r, UNNEST($mem) AS u(m)
         |  GROUP BY 1),
         |pr$r AS (
         |  SELECT w.player, GREATEST((w.n_chosen * 1000000) //
         |    GREATEST(tm$r.t // 1000000, 1), 1) AS praw
         |  FROM w JOIN tm$r USING (player)),
         |ps$r AS (
         |  SELECT player, GREATEST((praw * 1000000) //
         |    GREATEST(nn.s // nn.n, 1), 1) AS p
         |  FROM pr$r, (SELECT CAST(SUM(praw) AS BIGINT) AS s,
         |    CAST(COUNT(*) AS BIGINT) AS n FROM pr$r) nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH rr AS (
       |  SELECT event_id % 12 AS x, (event_id // 12) % 12 AS y,
       |    (event_id // 144) % 12 AS z, user_id % 10 AS k
       |  FROM events
       |  WHERE event_id % 12 <> (event_id // 12) % 12
       |    AND event_id % 12 <> (event_id // 144) % 12
       |    AND (event_id // 12) % 12 <> (event_id // 144) % 12),
       |ro AS (
       |  SELECT LEAST(x, y, z) AS a, GREATEST(x, y, z) AS c,
       |    x + y + z - LEAST(x, y, z) - GREATEST(x, y, z) AS b, k
       |  FROM rr),
       |races AS (
       |  SELECT
       |    CASE WHEN k <= 5 THEN a WHEN k <= 7 THEN b ELSE c END AS f,
       |    CASE WHEN k <= 4 THEN b WHEN k = 5 THEN c WHEN k = 6 THEN a
       |      WHEN k = 7 THEN c WHEN k = 8 THEN a ELSE b END AS s,
       |    CASE WHEN k <= 4 THEN c WHEN k = 5 THEN b WHEN k = 6 THEN c
       |      WHEN k = 7 THEN a WHEN k = 8 THEN b ELSE a END AS t3
       |  FROM ro),
       |rc AS (
       |  SELECT f, s, t3, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM races GROUP BY 1, 2, 3),
       |w AS (
       |  SELECT player, CAST(SUM(ca) AS BIGINT) AS n_races,
       |    CAST(SUM(cw) AS BIGINT) AS n_chosen
       |  FROM (
       |    SELECT f AS player, cnt AS cw, cnt AS ca FROM rc
       |    UNION ALL SELECT s, cnt, cnt FROM rc
       |    UNION ALL SELECT t3, CAST(0 AS BIGINT), cnt FROM rc)
       |  GROUP BY 1),
       |sg AS (SELECT f, s, t3, cnt, st.stage
       |  FROM rc, UNNEST([0, 1]) AS st(stage)),
       |ps0 AS (SELECT player, CAST(1000000 AS BIGINT) AS p FROM w),
       |$perRound
       |SELECT w.player, w.n_races, w.n_chosen, ps$rounds.p
       |  AS strength_micro,
       |  ROUND(1500.0 + 400.0 * ln(CAST(ps$rounds.p AS DOUBLE) / 1e6)
       |    / ln(10.0), 6) AS elo
       |FROM w JOIN ps$rounds USING (player)
       |ORDER BY strength_micro DESC, player""".stripMargin
  }

  /** Copeland / Condorcet panel replay over the shared pair dictionary. */
  private def copelandOracle: String =
    s"""$btPairCtes,
       |sides AS (
       |  SELECT lo AS player,
       |    CASE WHEN w2lo * 2 > n2 THEN 1 ELSE 0 END AS w,
       |    CASE WHEN w2lo * 2 = n2 THEN 1 ELSE 0 END AS t
       |  FROM pr
       |  UNION ALL
       |  SELECT hi,
       |    CASE WHEN (n2 - w2lo) * 2 > n2 THEN 1 ELSE 0 END,
       |    CASE WHEN w2lo * 2 = n2 THEN 1 ELSE 0 END
       |  FROM pr)
       |SELECT player, CAST(COUNT(*) AS BIGINT) AS n_opponents,
       |  CAST(SUM(w) AS BIGINT) AS h2h_wins,
       |  CAST(SUM(t) AS BIGINT) AS h2h_ties,
       |  CAST(COUNT(*) - SUM(w) - SUM(t) AS BIGINT) AS h2h_losses,
       |  CAST(SUM(w) * 2 + SUM(t) - COUNT(*) AS BIGINT) AS copeland,
       |  SUM(w) = COUNT(*) AS is_condorcet
       |FROM sides GROUP BY player
       |ORDER BY copeland DESC, player""".stripMargin

  /** The ungrouped MM-round CTEs (t/r/s) shared by the plain and
    * bootstrap Bradley-Terry oracles.
    */
  private def btMmRoundsSql(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""t$r AS (
         |  SELECT player, CAST(SUM(tt) AS BIGINT) AS t FROM (
         |    SELECT pr.lo AS player,
         |      CAST(CAST(pr.n2 AS HUGEINT) * 1000000000000 // (sl.p + sh.p) AS BIGINT) AS tt
         |    FROM pr JOIN s${r - 1} sl ON sl.player = pr.lo
         |    JOIN s${r - 1} sh ON sh.player = pr.hi
         |    UNION ALL
         |    SELECT pr.hi, CAST(CAST(pr.n2 AS HUGEINT) * 1000000000000 // (sl.p + sh.p) AS BIGINT)
         |    FROM pr JOIN s${r - 1} sl ON sl.player = pr.lo
         |    JOIN s${r - 1} sh ON sh.player = pr.hi)
         |  GROUP BY 1),
         |r$r AS (
         |  SELECT pp.player, GREATEST(
         |    (pp.wins2 * 1000000) // GREATEST(t$r.t // 1000000, 1), 1) AS praw
         |  FROM pp JOIN t$r USING (player)),
         |s$r AS (
         |  SELECT player, GREATEST(
         |    (praw * 1000000) // GREATEST(nn.s // nn.n, 1), 1) AS p
         |  FROM r$r, (SELECT CAST(SUM(praw) AS BIGINT) AS s,
         |    CAST(COUNT(*) AS BIGINT) AS n FROM r$r) nn)""".stripMargin
    }.mkString(",\n")

  /** Rank Centrality replay: the shared pair dictionary → ordered edge
    * relation → integer transition dictionary (win share over max
    * degree) → unrolled lazy-walk rounds — mirrors
    * [[graft.scale.Preference.rankCentralityMicro]] term for term.
    */
  private def rankCentralityOracle(rounds: Int): String = {
    val perRound = (1 to rounds).map { r =>
      s"""in$r AS (
         |  SELECT pe.dst AS player,
         |    CAST(SUM((pi.pi * pe.p_micro) // 1000000) AS BIGINT)
         |      AS inflow
         |  FROM pe JOIN pi${r - 1} pi ON pi.player = pe.src
         |  GROUP BY 1),
         |pi$r AS (
         |  SELECT p.player,
         |    (p.pi * resid.resid) // 1000000
         |      + COALESCE(in$r.inflow, 0) AS pi
         |  FROM pi${r - 1} p JOIN resid USING (player)
         |  LEFT JOIN in$r USING (player))""".stripMargin
    }.mkString(",\n")
    s"""$btPairCtes,
       |e AS (
       |  SELECT lo AS src, hi AS dst, n2 - w2lo AS w2, n2 FROM pr
       |  UNION ALL SELECT hi, lo, w2lo, n2 FROM pr),
       |deg AS (
       |  SELECT src AS player, CAST(COUNT(*) AS BIGINT) AS n_opponents
       |  FROM e GROUP BY 1),
       |dm AS (SELECT CAST(MAX(n_opponents) AS BIGINT) AS dmax FROM deg),
       |pe AS (
       |  SELECT src, dst, (w2 * 1000000) // (n2 * dm.dmax) AS p_micro
       |  FROM e, dm),
       |resid AS (
       |  SELECT src AS player,
       |    1000000 - CAST(SUM(p_micro) AS BIGINT) AS resid
       |  FROM pe GROUP BY 1),
       |pi0 AS (SELECT player, CAST(1000000 AS BIGINT) AS pi FROM deg),
       |$perRound
       |SELECT deg.player, deg.n_opponents, pi$rounds.pi AS pi_micro
       |FROM deg JOIN pi$rounds USING (player)
       |ORDER BY pi_micro DESC, player""".stripMargin
  }

  private def bradleyTerryOracle(rounds: Int): String =
    s"""$btPairCtes,
       |pp AS (
       |  SELECT player, CAST(SUM(n2) AS BIGINT) AS games2,
       |    CAST(SUM(w2) AS BIGINT) AS wins2
       |  FROM (
       |    SELECT lo AS player, n2, w2lo AS w2 FROM pr
       |    UNION ALL SELECT hi, n2, n2 - w2lo FROM pr)
       |  GROUP BY 1),
       |s0 AS (SELECT player, CAST(1000000 AS BIGINT) AS p FROM pp),
       |${btMmRoundsSql(rounds)}
       |SELECT pp.player, pp.games2, pp.wins2, s$rounds.p AS strength_micro,
       |  ROUND(1500.0 + 400.0 * ln(CAST(s$rounds.p AS DOUBLE) / 1e6)
       |    / ln(10.0), 6) AS elo
       |FROM pp JOIN s$rounds USING (player)
       |ORDER BY strength_micro DESC, player""".stripMargin

  /** Deterministic KLL sketch replay: value dictionary + cumulative count,
    * the md5-bit tournament descent as a list_reduce fold, the bounded
    * block explode landing each survivor rank in its covering dictionary
    * row, and the capped type-1 picks — mirrors
    * [[graft.scale.Sketches.kllFromCounts]] term for term (k = 1024).
    */
  private def kllOracle: String = {
    val probes = kllProbes.map { case (n, d) => s"($n,$d)" }.mkString(",")
    s"""WITH vc AS (
       |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
       |    AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM lineitem GROUP BY 1),
       |cm AS (SELECT v, c,
       |  CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM vc),
       |m2 AS (
       |  SELECT n, lev, CAST(1 AS BIGINT) << lev AS p2 FROM (
       |    SELECT n, (SELECT MIN(l) FROM range(0, 41) t(l)
       |      WHERE m.n <= 1024 * (CAST(1 AS BIGINT) << l)) AS lev
       |    FROM (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vc) m)),
       |sv AS (
       |  SELECT s.b, s.r, s.v FROM (
       |    SELECT cm.v, cm.c, cm.cum, u.b,
       |      list_reduce(
       |        list_prepend(u.b, list_reverse(
       |          list_filter(range(1, 41), i -> i <= m2.lev))),
       |        (acc, l) -> acc * 2 +
       |          CAST(('0x' || substr(md5(CAST(l AS VARCHAR) || ':' ||
       |            CAST(acc AS VARCHAR)), 1, 1)) AS BIGINT) % 2) AS r
       |    FROM cm, m2,
       |      UNNEST(range((cm.cum - cm.c) // m2.p2,
       |        (cm.cum - 1) // m2.p2 + 1)) AS u(b)) s
       |  WHERE s.r >= s.cum - s.c AND s.r < s.cum),
       |mx AS (SELECT MAX(b) AS maxb FROM sv),
       |pk AS (
       |  SELECT q_num, q_den, m2.n, CAST(m2.lev AS BIGINT) AS levels,
       |    m2.p2, (q_num * m2.n + q_den - 1) // q_den - 1 AS t,
       |    ((q_num * m2.n + q_den - 1) // q_den - 1) // m2.p2 > mx.maxb
       |      AS capped,
       |    LEAST(((q_num * m2.n + q_den - 1) // q_den - 1) // m2.p2,
       |      mx.maxb) AS b
       |  FROM (VALUES $probes) q(q_num, q_den), m2, mx)
       |SELECT pk.q_num, pk.q_den, pk.n, pk.levels, pk.t AS target_rank,
       |  sv.r AS surv_rank, sv.v AS est_value,
       |  CAST(abs(sv.r - pk.t) AS BIGINT) AS rank_err,
       |  CAST(CASE WHEN pk.capped THEN 2 * pk.p2 - 1 ELSE pk.p2 - 1 END
       |    AS BIGINT) AS err_bound
       |FROM pk JOIN sv USING (b)
       |ORDER BY q_num""".stripMargin
  }

  /** Per-group KLL replay: [[kllOracle]] with every stage PARTITIONED by
    * the group and the tournament fold evaluated once per (group, block).
    */
  private def kllByOracle: String = {
    val probes = kllProbes.map { case (n, d) => s"($n,$d)" }.mkString(",")
    s"""WITH vc AS (
       |  SELECT l_returnflag AS g,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |cm AS (SELECT g, v, c,
       |  CAST(SUM(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum
       |  FROM vc),
       |m2 AS (
       |  SELECT g, n, lev, CAST(1 AS BIGINT) << lev AS p2 FROM (
       |    SELECT g, n, (SELECT MIN(l) FROM range(0, 41) t(l)
       |      WHERE m.n <= 1024 * (CAST(1 AS BIGINT) << l)) AS lev
       |    FROM (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM vc
       |      GROUP BY 1) m)),
       |rk AS (
       |  SELECT g, b,
       |    list_reduce(
       |      list_prepend(b, list_reverse(
       |        list_filter(range(1, 41), i -> i <= lev))),
       |      (acc, l) -> acc * 2 +
       |        CAST(('0x' || substr(md5(CAST(l AS VARCHAR) || ':' ||
       |          CAST(acc AS VARCHAR)), 1, 1)) AS BIGINT) % 2) AS r
       |  FROM (SELECT m2.g, m2.lev, u.b FROM m2,
       |    UNNEST(range(0, (m2.n + m2.p2 - 1) // m2.p2)) AS u(b))),
       |sv AS (
       |  SELECT c0.g, c0.b, rk.r, c0.v FROM (
       |    SELECT cm.g, cm.v, cm.c, cm.cum, u.b
       |    FROM cm JOIN m2 USING (g),
       |      UNNEST(range((cm.cum - cm.c) // m2.p2,
       |        (cm.cum - 1) // m2.p2 + 1)) AS u(b)) c0
       |  JOIN rk ON rk.g = c0.g AND rk.b = c0.b
       |  WHERE rk.r >= c0.cum - c0.c AND rk.r < c0.cum),
       |mx AS (SELECT g, MAX(b) AS maxb FROM sv GROUP BY 1),
       |pk AS (
       |  SELECT q_num, q_den, m2.g, m2.n, CAST(m2.lev AS BIGINT) AS levels,
       |    m2.p2, (q_num * m2.n + q_den - 1) // q_den - 1 AS t,
       |    ((q_num * m2.n + q_den - 1) // q_den - 1) // m2.p2 > mx.maxb
       |      AS capped,
       |    LEAST(((q_num * m2.n + q_den - 1) // q_den - 1) // m2.p2,
       |      mx.maxb) AS b
       |  FROM (VALUES $probes) q(q_num, q_den), m2 JOIN mx USING (g))
       |SELECT pk.g AS l_returnflag, pk.q_num, pk.q_den, pk.n, pk.levels,
       |  pk.t AS target_rank, sv.r AS surv_rank, sv.v AS est_value,
       |  CAST(abs(sv.r - pk.t) AS BIGINT) AS rank_err,
       |  CAST(CASE WHEN pk.capped THEN 2 * pk.p2 - 1 ELSE pk.p2 - 1 END
       |    AS BIGINT) AS err_bound
       |FROM pk JOIN sv ON sv.g = pk.g AND sv.b = pk.b
       |ORDER BY 1, 2""".stripMargin
  }

  /** Shared CTE chain of the video near-dup oracles: echoed corpus ->
    * frame signatures -> shot segmentation -> shot-key MinHash bands ->
    * exact-Jaccard-gated pairs (`gp`). WITH RECURSIVE so the clusters
    * oracle can append its reachability CTE.
    */
  private val videoDupCtes: String =
    """WITH RECURSIVE corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 999999999, text FROM documents
      |  WHERE doc_id % 13 = 0),
      |vid AS (
      |  SELECT doc_id, text, CAST(doc_id % 30 + 1 AS INT) AS n_frames
      |  FROM corpus WHERE doc_id % 3 = 2),
      |fr AS (
      |  SELECT doc_id, CAST(f AS INT) AS f,
      |    CAST(('0x' || substring(md5(text || CAST(f AS VARCHAR)),
      |      1, 2)) AS INT) AS sig
      |  FROM vid, UNNEST(range(0, n_frames)) AS u(f)),
      |bd AS (
      |  SELECT doc_id, f, sig,
      |    CASE WHEN f > 0 AND abs(sig - lag(sig) OVER w) > 64
      |      THEN 1 ELSE 0 END AS brk
      |  FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
      |sh AS (
      |  SELECT doc_id, f, sig, SUM(brk) OVER
      |    (PARTITION BY doc_id ORDER BY f) AS shot_id
      |  FROM bd),
      |ks0 AS (
      |  SELECT doc_id, STRING_AGG(CAST(sig AS VARCHAR), '-'
      |    ORDER BY f) AS shot_key
      |  FROM sh GROUP BY doc_id, shot_id),
      |ks AS (SELECT DISTINCT doc_id, shot_key FROM ks0),
      |mh AS (
      |  SELECT doc_id, s,
      |    MIN(md5(CAST(s AS VARCHAR) || ':' || shot_key)) AS h
      |  FROM ks, UNNEST(range(0, 8)) AS su(s)
      |  GROUP BY 1, 2),
      |bands AS (
      |  SELECT doc_id, s // 2 AS band,
      |    MIN(CASE WHEN s % 2 = 0 THEN h END) ||
      |    MIN(CASE WHEN s % 2 = 1 THEN h END) AS bkey
      |  FROM mh GROUP BY doc_id, s // 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey
      |      AND a.doc_id < b.doc_id),
      |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ks GROUP BY 1),
      |iv AS (
      |  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_common
      |  FROM cand c JOIN ks ka ON ka.doc_id = c.id_a
      |  JOIN ks kb ON kb.doc_id = c.id_b
      |    AND kb.shot_key = ka.shot_key
      |  GROUP BY 1, 2),
      |gp AS (
      |  SELECT iv.id_a, iv.id_b, sa.n AS n_a, sb.n AS n_b, iv.n_common
      |  FROM iv JOIN sz sa ON sa.doc_id = iv.id_a
      |  JOIN sz sb ON sb.doc_id = iv.id_b
      |  WHERE iv.n_common * 2 >= sa.n + sb.n - iv.n_common)""".stripMargin

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

  private def baseOracleSql: Map[String, String] =
    distinctKeys("baseOracleSql", Seq(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "serialize_keyed_customer" ->
      """SELECT c_custkey,
        |  'c_name: ' || c_name || ' ^ c_nationkey: ' || c_nationkey
        |    || ' ^ c_mktsegment: ' || c_mktsegment AS text
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "serialize_simple_part" ->
      """SELECT p_partkey,
        |  p_name || '^' || p_brand || '^' || p_type || '^' || p_size AS text
        |FROM part ORDER BY p_partkey""".stripMargin,

    "em_blocked_pairs" ->
      """SELECT l.l_orderkey, l.l_linenumber,
        |  'A: ' || p.p_name || '; ' || p.p_brand || '; ' || p.p_size
        |    || '; ' || 'B: ' || s.s_name || '; ' || s.s_nationkey || '; '
        |    || CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS text,
        |  CASE WHEN l.l_returnflag = 'R' THEN 'Yes' ELSE 'No' END AS label_str
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,

    "impute_serialize_customer" ->
      """SELECT c_custkey,
        |  'c_name: ' || c_name || ' ^ c_nationkey: ' || c_nationkey
        |    || ' ^ c_acctbal: ' || CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS text,
        |  c_mktsegment || chr(10) AS label_str
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "error_detection_labels" ->
      """SELECT event_id, props AS text,
        |  CASE WHEN event_type <> 'error' THEN 'no' ELSE 'yes' END AS label_str
        |FROM events ORDER BY event_id""".stripMargin,

    "class_balanced_orders" ->
      """WITH m AS (
        |  SELECT MIN(cnt) AS m FROM (
        |    SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderstatus)),
        |r AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM r, m WHERE r.rn <= m.m ORDER BY o_orderkey""".stripMargin,

    "stratified_sample_docs" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY doc_id""".stripMargin,

    "positional_split_docs" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn > 3 ORDER BY doc_id""".stripMargin,

    "head_fraction_lineitem" ->
      """WITH tot AS (SELECT COUNT(*) AS total FROM lineitem),
        |r AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS l_quantity
        |FROM r, tot WHERE r.rn <= FLOOR(tot.total * 0.1)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "modulo_sample_lineitem" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |WHERE l_orderkey % 10 = 3
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "group_stats_docs" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT source) AS n_sources,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "confusion_metrics_events" ->
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
        |FROM p""".stripMargin,

    "tolerant_equality_lineitem" ->
      """SELECT l_orderkey, l_linenumber,
        |  (l_linenumber % 5) IN (0, 1, 2) AS crc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "tolerant_fraction_lineitem" ->
      """SELECT l_orderkey, l_linenumber,
        |  (l_partkey % 7) = (l_suppkey % 7) AS crc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "dedup_exact_docs" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    "minhash_bands_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s)
        |SELECT doc_id, s // 2 AS band,
        |  STRING_AGG(h, '' ORDER BY s) AS band_key
        |FROM mh GROUP BY doc_id, s // 2
        |ORDER BY doc_id, band""".stripMargin,

    "minhash_pairs_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.band_key = b.band_key
        |WHERE a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,

    "incremental_dedup_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |cfp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 < 8),
        |cbk AS (SELECT DISTINCT band, band_key FROM bands
        |        WHERE doc_id % 10 < 8),
        |inc AS (SELECT doc_id, fp FROM fps WHERE doc_id % 10 >= 8),
        |ex AS (SELECT DISTINCT doc_id FROM inc
        |       WHERE fp IN (SELECT fp FROM cfp)),
        |nr AS (SELECT DISTINCT b.doc_id
        |       FROM bands b JOIN cbk c
        |         ON b.band = c.band AND b.band_key = c.band_key
        |       WHERE b.doc_id % 10 >= 8)
        |SELECT i.doc_id,
        |  (ex.doc_id IS NOT NULL) AS dup_exact,
        |  (nr.doc_id IS NOT NULL) AS dup_near,
        |  (ex.doc_id IS NULL AND nr.doc_id IS NULL) AS kept
        |FROM inc i
        |LEFT JOIN ex ON i.doc_id = ex.doc_id
        |LEFT JOIN nr ON i.doc_id = nr.doc_id
        |ORDER BY i.doc_id""".stripMargin,

    "dup_clusters_docs" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src)
        |SELECT a AS doc_id, MIN(b) AS cluster_rep
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // the dup_clusters CC rolled up to the component-size distribution
    "component_sizes_docs" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
        |cl AS (SELECT a AS doc_id, MIN(b) AS rep FROM reach GROUP BY a),
        |szs AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM cl GROUP BY rep),
        |tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n FROM szs)
        |SELECT sz AS size, CAST(COUNT(*) AS BIGINT) AS n_components,
        |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
        |  ROUND(CAST(sz * COUNT(*) AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS doc_share
        |FROM szs, tot GROUP BY sz, n ORDER BY size""".stripMargin,

    // same component construction as dup_clusters_docs; split = md5-uniform
    // draw on the cluster representative (the kfold/uniformDraw convention)
    "leakage_split_docs" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
        |cl AS (
        |  SELECT a AS doc_id, MIN(b) AS cluster_rep FROM reach GROUP BY a)
        |SELECT doc_id, cluster_rep,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)),
        |      1, 8)) AS BIGINT) / 4294967296.0 < 0.2
        |    THEN 'test' ELSE 'train' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin,

    "jaccard_pairs_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |keep AS (
        |  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100),
        |f AS (SELECT s.* FROM sh s JOIN keep k ON s.sh = k.sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM f GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM f a JOIN f b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, n_common,
        |  ROUND(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    // the jaccard pair population folded through the (b, r) S-curve
    "lsh_tuning_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |keep AS (
        |  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100),
        |f AS (SELECT s.* FROM sh s JOIN keep k ON s.sh = k.sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM f GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM f a JOIN f b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |prs AS (
        |  SELECT ROUND(CAST(n_common AS DOUBLE)
        |    / (sa.sz + sb.sz - n_common), 6) AS s
        |  FROM common
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE)
        |    / (sa.sz + sb.sz - n_common) >= 0.2),
        |pd AS (
        |  SELECT CAST(FLOOR(s * 10) AS BIGINT) AS bucket,
        |    CAST(1.0 - pow(1.0 - pow(s, 2), 4) AS DECIMAL(38,12)) AS p
        |  FROM prs)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  ROUND(CAST(SUM(p) AS DOUBLE), 6) AS expected_detected,
        |  ROUND(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS expected_recall
        |FROM pd GROUP BY bucket ORDER BY bucket""".stripMargin,

    // SimHash: 60-bit sig from the first 15 md5 hex chars per token
    // (DuckDB parses '0x…' string casts to BIGINT — same value Spark gets
    // from conv(…,16,10)); bit votes, pack, block on top 8 bits, Hamming≤20.
    "simhash_pairs_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h
        |  FROM toks),
        |v AS (
        |  SELECT doc_id, j,
        |    CAST(SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
        |  FROM h, UNNEST(range(0, 60)) AS u(j)
        |  GROUP BY doc_id, j),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j)
        |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
        |  FROM v GROUP BY doc_id),
        |b AS (SELECT doc_id, sig, sig >> 52 AS block FROM sig)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sig, c.sig)) AS INT) AS hamming
        |FROM b a JOIN b c ON a.block = c.block AND a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.sig, c.sig)) <= 20
        |ORDER BY id_a, id_b""".stripMargin,

    "quality_docs" ->
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
        |FROM q ORDER BY doc_id""".stripMargin,

    "lang_id_docs" ->
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
        |FROM g ORDER BY doc_id""".stripMargin,

    "fingerprint_docs" ->
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
        |ORDER BY q.doc_id""".stripMargin,

    "token_count_docs" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "pack_sequences_docs" ->
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
        |FROM q ORDER BY chunk_id, chunk_offset""".stripMargin,

    "ann_topk_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5),
        |r AS (
        |  SELECT query_id, cand_id, cs,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, cand_id) AS rk
        |  FROM pairs)
        |SELECT query_id, cand_id, rk, ROUND(cs, 6) AS cos_sim
        |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    "bq_topk_embeddings" ->
      """WITH sig AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(range(1, 33), i ->
        |      CASE WHEN embedding[i] > 0
        |        THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END))
        |      AS BIGINT) AS sig_lo,
        |    CAST(list_sum(list_transform(range(33, 65), i ->
        |      CASE WHEN embedding[i] > 0
        |        THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END))
        |      AS BIGINT) AS sig_hi
        |  FROM embeddings),
        |ham AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    CAST(bit_count(xor(c.sig_lo, q.sig_lo))
        |      + bit_count(xor(c.sig_hi, q.sig_hi)) AS BIGINT) AS hamming
        |  FROM sig q JOIN sig c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |short AS (
        |  SELECT query_id, cand_id, hamming FROM (
        |    SELECT query_id, cand_id, hamming,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY hamming, cand_id) AS hrk
        |    FROM ham) WHERE hrk <= 40),
        |qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |rer AS (
        |  SELECT s.query_id, s.cand_id, s.hamming,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM short s
        |  JOIN qv c ON c.vec_id = s.cand_id
        |  JOIN qv q ON q.vec_id = s.query_id)
        |SELECT query_id, cand_id, rk, hamming, ROUND(cs, 6) AS cos_sim
        |FROM (
        |  SELECT query_id, cand_id, hamming, cs,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, cand_id) AS rk
        |  FROM rer) WHERE rk <= 10
        |ORDER BY query_id, rk""".stripMargin,

    "ann_recall_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |ep AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5),
        |exact AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cs DESC, cand_id) AS rk
        |    FROM ep) WHERE rk <= 10),
        |cents AS (
        |  SELECT vec_id AS centroid_id, v AS centv FROM qv WHERE vec_id % 100 = 0),
        |asn AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT q.vec_id, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(q.v, c.centv)
        |          / sqrt(list_dot_product(q.v, q.v)
        |                 * list_dot_product(c.centv, c.centv)) DESC,
        |        c.centroid_id) AS crk
        |    FROM qv q, cents c)
        |  WHERE crk = 1),
        |ap AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q
        |  JOIN asn a1 ON q.vec_id = a1.vec_id AND q.vec_id < 5
        |  JOIN asn a2 ON a2.centroid_id = a1.centroid_id
        |  JOIN qv c ON c.vec_id = a2.vec_id AND c.vec_id <> q.vec_id),
        |approx AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cs DESC, cand_id) AS rk
        |    FROM ap) WHERE rk <= 10),
        |h AS (
        |  SELECT a.query_id,
        |    CASE WHEN e.cand_id IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM approx a LEFT JOIN exact e
        |    ON a.query_id = e.query_id AND a.cand_id = e.cand_id),
        |g AS (
        |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_approx,
        |    CAST(SUM(hit) AS BIGINT) AS n_hit
        |  FROM h GROUP BY query_id)
        |SELECT qs.query_id,
        |  CAST(COALESCE(g.n_approx, 0) AS BIGINT) AS n_approx,
        |  CAST(COALESCE(g.n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(CAST(COALESCE(g.n_hit, 0) AS DOUBLE)
        |    / LEAST(10.0, qs.n_exact), 6) AS recall
        |FROM (SELECT query_id, CAST(COUNT(*) AS DOUBLE) AS n_exact
        |      FROM exact GROUP BY query_id) qs
        |LEFT JOIN g ON qs.query_id = g.query_id
        |ORDER BY qs.query_id""".stripMargin,

    // kmeans_assign's argmin replay + temperature_mix's √-quota/md5-pick
    // replay with the cluster as the domain
    "cluster_balanced_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS centroid_id, v AS centv FROM qv WHERE vec_id < 4),
        |d AS (
        |  SELECT q.vec_id, c.centroid_id,
        |    (SELECT SUM((q.v[i] - c.centv[i]) * (q.v[i] - c.centv[i]))
        |     FROM UNNEST(range(1, len(q.v) + 1)) AS u(i)) AS d2
        |  FROM qv q CROSS JOIN cents c),
        |a AS (
        |  SELECT vec_id, centroid_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rk
        |  FROM d),
        |asg AS (SELECT vec_id, centroid_id AS cluster FROM a WHERE rk = 1),
        |c2 AS (SELECT cluster, COUNT(*) AS n FROM asg GROUP BY 1),
        |w AS (
        |  SELECT cluster, CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
        |    AS wq
        |  FROM c2),
        |tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS tw FROM w),
        |qt AS (SELECT cluster, (300 * wq) // tw AS quota FROM w CROSS JOIN tot),
        |r AS (
        |  SELECT cluster, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY cluster
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rnk
        |  FROM asg)
        |SELECT r.vec_id, r.cluster, CAST(r.rnk AS BIGINT) AS sel_rank
        |FROM r JOIN qt ON r.cluster = qt.cluster AND r.rnk <= qt.quota
        |ORDER BY r.cluster, sel_rank""".stripMargin,

    "kmeans_assign_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS centroid_id, v AS centv FROM qv WHERE vec_id < 4),
        |d AS (
        |  SELECT q.vec_id, c.centroid_id,
        |    (SELECT SUM((q.v[i] - c.centv[i]) * (q.v[i] - c.centv[i]))
        |     FROM UNNEST(range(1, len(q.v) + 1)) AS u(i)) AS d2
        |  FROM qv q CROSS JOIN cents c),
        |a AS (
        |  SELECT vec_id, centroid_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rk
        |  FROM d),
        |asg AS (SELECT vec_id, centroid_id FROM a WHERE rk = 1),
        |ex AS (
        |  SELECT s.centroid_id, CAST(i - 1 AS INT) AS pos, qv.v[i] AS x
        |  FROM asg s JOIN qv ON qv.vec_id = s.vec_id,
        |    UNNEST(range(1, len(qv.v) + 1)) AS u(i))
        |SELECT centroid_id, pos, COUNT(*) AS n,
        |  ROUND(CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) / COUNT(*), 6) AS m
        |FROM ex GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "cosine_near_dup_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |blocked AS (
        |  SELECT vec_id, v,
        |    array_to_string(list_transform([1,2,3,4,5,6,7,8],
        |      i -> CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END), '') AS block
        |  FROM qv),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v)
        |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cs
        |  FROM blocked a JOIN blocked b
        |    ON a.block = b.block AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(cs, 6) AS cos_sim
        |FROM pairs WHERE cs >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // the near-dup blocking replicated at eps 0.15; core = deg >= 3;
    // CC label = min reachable core id; border = min core-neighbor label
    "dbscan_embeddings" ->
      """WITH RECURSIVE qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))
        |      AS v
        |  FROM embeddings),
        |blocked AS (
        |  SELECT vec_id, v,
        |    array_to_string(list_transform([1,2,3,4,5,6,7,8],
        |      i -> CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END), '')
        |      AS block
        |  FROM qv),
        |prs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM blocked a JOIN blocked b
        |    ON a.block = b.block AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v)
        |    / sqrt(list_dot_product(a.v, a.v)
        |      * list_dot_product(b.v, b.v)) >= 0.15),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION ALL SELECT id_b, id_a FROM prs),
        |core AS (
        |  SELECT src AS id FROM e GROUP BY src HAVING COUNT(*) >= 3),
        |ce AS (
        |  SELECT e.src, e.dst FROM e
        |  JOIN core c1 ON e.src = c1.id JOIN core c2 ON e.dst = c2.id),
        |reach(a, b) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT r.a, ce.dst FROM reach r JOIN ce ON r.b = ce.src),
        |cl AS (SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a),
        |border AS (
        |  SELECT e.src AS id, MIN(cl.cluster) AS cluster
        |  FROM e JOIN core c2 ON e.dst = c2.id JOIN cl ON cl.id = e.dst
        |  WHERE e.src NOT IN (SELECT id FROM core)
        |  GROUP BY e.src)
        |SELECT id, cluster, 'core' AS role FROM cl
        |UNION ALL SELECT id, cluster, 'border' FROM border
        |ORDER BY id""".stripMargin,

    "sessionize_events" ->
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) AS ep
        |  FROM events),
        |l AS (
        |  SELECT *, LAG(ep) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ep
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev_ep IS NULL OR ep - prev_ep > 1800
        |    THEN 1 ELSE 0 END AS ns
        |  FROM l),
        |s AS (
        |  SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM f)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  MIN(ep) AS start_epoch, MAX(ep) AS end_epoch,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "hourly_agg_events" ->
      """SELECT CAST(FLOOR(EPOCH(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
        |  event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "sliding_agg_events" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) AS ep
        |  FROM events),
        |w AS (
        |  SELECT event_type, value,
        |    unnest([ (ep // 1800) * 1800 - 1800, (ep // 1800) * 1800 ])
        |      AS win_start
        |  FROM e)
        |SELECT win_start, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // session_window's half-open µs rule: new session iff gap >= 30 min
    "streaming_session_events" ->
      """WITH e AS (
        |  SELECT user_id, value, CAST(EPOCH_US(ts) AS BIGINT) AS us
        |  FROM events),
        |l AS (
        |  SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev IS NULL OR us - prev >= 1800000000
        |    THEN 1 ELSE 0 END AS ns
        |  FROM l),
        |s AS (
        |  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT user_id,
        |  MIN(us) AS start_us,
        |  MAX(us) + 1800000000 AS end_us,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    // the Complete-mode session oracle + the watermark cutoff: only
    // sessions whose end precedes the ms-truncated watermark emit
    "streaming_session_append_events" ->
      """WITH e AS (
        |  SELECT user_id, value, CAST(EPOCH_US(ts) AS BIGINT) AS us
        |  FROM events),
        |wm AS (
        |  SELECT ((MAX(us) // 1000) - 3600000) * 1000 AS wm_us FROM e),
        |l AS (
        |  SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev IS NULL OR us - prev >= 1800000000
        |    THEN 1 ELSE 0 END AS ns
        |  FROM l),
        |s AS (
        |  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f),
        |g AS (
        |  SELECT user_id,
        |    MIN(us) AS start_us,
        |    MAX(us) + 1800000000 AS end_us,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n_events, sum_value
        |FROM g, wm WHERE end_us <= wm_us
        |ORDER BY user_id, start_us""".stripMargin,

    // same math as sliding_agg_events — the streaming form must match it
    "streaming_sliding_agg_events" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) AS ep
        |  FROM events),
        |w AS (
        |  SELECT event_type, value,
        |    unnest([ (ep // 1800) * 1800 - 1800, (ep // 1800) * 1800 ])
        |      AS win_start
        |  FROM e)
        |SELECT win_start, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "json_props_events" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q1_full_pricing" ->
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
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "grouping_sets_events" ->
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |  COALESCE(CAST(user_bucket AS VARCHAR), 'ALL') AS user_bucket,
        |  COUNT(*) AS n
        |FROM (SELECT event_type, user_id % 5 AS user_bucket FROM events)
        |GROUP BY GROUPING SETS ((event_type), (user_bucket))
        |ORDER BY 1, 2""".stripMargin,

    "q3_shipping_priority" ->
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
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
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
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c.c_name, o.o_orderkey,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        |  CAST(b.sum_qty AS DOUBLE) AS sum_qty
        |FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 20""".stripMargin,

    "range_frame_orders" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(EPOCH(o_orderdate) AS BIGINT) // 86400 AS day
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_7d
        |FROM o ORDER BY o_orderkey""".stripMargin,

    "window_analytics_orders" ->
      """SELECT o_orderkey, o_custkey,
        |  ROW_NUMBER() OVER w AS rn,
        |  CAST(LAG(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS prev_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_sum
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,

    "semi_join_customers" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "anti_join_customers" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "rollup_revenue_lineitem" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "set_ops_docs" ->
      """SELECT doc_id FROM (
        |  (SELECT doc_id FROM documents
        |   EXCEPT
        |   SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
        |  INTERSECT
        |  SELECT doc_id FROM documents WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin,

    // The prefix-filter candidate generator is EXACT, so the oracle is the
    // brute-force all-pairs relation thresholded at the 0.3 candidate
    // threshold — no blocking key anywhere; pred thresholds at 0.5 inside.
    "em_similarity_part" ->
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
        |FROM pairs WHERE sim >= 0.3 ORDER BY id_a, id_b""".stripMargin,

    "em_end_to_end_part" ->
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
        |FROM pr""".stripMargin,

    // The prefix-filter join is EXACT, so the oracle is the brute-force
    // all-pairs relation thresholded at 0.5 — no blocking key anywhere.
    "em_similarity_ppjoin_part" ->
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
        |FROM pairs WHERE sim >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // Oracle recomputes the error-detection pipeline straight from `part`
    // (the CSV split-dir round-trip on the Spark side is value-preserving).
    "error_detection_end_to_end_part" ->
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
        |FROM p ORDER BY target""".stripMargin,

    "impute_end_to_end_customer" ->
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
        |FROM c""".stripMargin,

    "transform_end_to_end_part" ->
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
        |FROM c""".stripMargin,

    "impute_dict_customer" ->
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
        |ORDER BY t.c_custkey""".stripMargin,

    "error_detect_vocab_part" ->
      """WITH vocab AS (
        |  SELECT DISTINCT p_type AS val FROM part WHERE p_partkey % 10 <> 0),
        |test AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 50 = 0 THEN p_type || '_xx' ELSE p_type END AS val
        |  FROM part WHERE p_partkey % 10 = 0)
        |SELECT t.p_partkey,
        |  CASE WHEN v.val IS NULL THEN 'yes' ELSE 'no' END AS pred
        |FROM test t LEFT JOIN vocab v ON t.val = v.val
        |ORDER BY t.p_partkey""".stripMargin,

    "synthesize_transform_part" ->
      """SELECT p_partkey, upper(p_name) AS pred FROM (
        |  SELECT p_partkey, p_name,
        |    ROW_NUMBER() OVER (ORDER BY p_partkey) AS rn FROM part)
        |WHERE rn > 3 ORDER BY p_partkey""".stripMargin,

    "transform_affine_lineitem" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(ROUND(l_quantity * 1.8 + 32, 1) AS VARCHAR) AS pred
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // Opaque-UDF semantics replayed declaratively: trim, then either the
    // reverse-upper transform or the sentinel where the closure throws
    // (length divisible by 7 after trim).
    "transform_opaque_part" ->
      """SELECT p_partkey,
        |  CASE WHEN length(trim(p_name)) % 7 = 0 THEN 'Not excutable'
        |       ELSE upper(reverse(trim(p_name))) END AS pred
        |FROM part ORDER BY p_partkey""".stripMargin,

    // deg→DMS→deg + fixed-zone shift replay: the same IEEE double ops on
    // the same printf-built inputs; the DMS seconds string round-trips
    // exactly (shortest double representation), so the reconstruction uses
    // the numeric components directly.
    "transform_geo_part" ->
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
        |FROM hj8 ORDER BY p_partkey""".stripMargin,

    // Haversine: the oracle re-parses the pair string with the same regex
    // and runs the same fixed-order double formula (pi()/libm trig agree
    // bit-for-bit with the JVM on this platform — the ln/exp contract
    // every scored query already relies on; ROUND(.,3) is the guard).
    "transform_haversine_part" ->
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
        |FROM h ORDER BY p_partkey""".stripMargin,

    // The rewrite is semantics-preserving: the oracle is simply the column
    // the collapsed plan reads directly.
    "resplit_rewrite_part" ->
      """SELECT p_partkey, p_brand AS pred
        |FROM part ORDER BY p_partkey""".stripMargin,

    "multimodal_features_docs" ->
      """SELECT doc_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS f0,
        |  CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS f1,
        |  CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS f2,
        |  CAST(('0x' || substr(md5(text), 7, 2)) AS INT) AS f3
        |FROM documents ORDER BY doc_id""".stripMargin,

    // stub waveform -> frame energies -> delta-sign bits -> banded join;
    // the clone shift is a multiple of 3 so kinds survive the re-ingest
    "audio_dup_docs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 999999999, text FROM documents
        |  WHERE doc_id % 97 = 0),
        |aud AS (SELECT doc_id, text FROM corpus WHERE doc_id % 3 = 1),
        |sm AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 256), k ->
        |      CAST(('0x' || substring(
        |        md5(text || ':a' || CAST(k // 16 AS VARCHAR)),
        |        (k % 16) * 2 + 1, 2)) AS BIGINT) - 128) AS s
        |  FROM aud),
        |en AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 32), f ->
        |      list_sum(list_transform(range(1, 9), i ->
        |        CAST(s[f * 8 + i] AS BIGINT) * s[f * 8 + i]))) AS e
        |  FROM sm),
        |sg AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 31), b ->
        |      CASE WHEN e[b + 2] > e[b + 1]
        |        THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS BIGINT) AS sig
        |  FROM en),
        |b AS (
        |  SELECT doc_id, sig, d.band, (sig >> (d.band * 8)) & 255 AS bkey
        |  FROM sg CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS band) d),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b,
        |    a.sig AS sig_a, bb.sig AS sig_b
        |  FROM b a JOIN b bb
        |    ON a.band = bb.band AND a.bkey = bb.bkey
        |      AND a.doc_id < bb.doc_id)
        |SELECT id_a, id_b,
        |  CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
        |ORDER BY 1, 2""".stripMargin,

    // per-video signature walk replays as a list fold; 1 + boundary count
    "shot_bounds_docs" ->
      """WITH vid AS (
        |  SELECT doc_id, text, CAST(doc_id % 30 + 1 AS INT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2),
        |sg AS (
        |  SELECT doc_id, n_frames,
        |    list_transform(range(0, n_frames), f ->
        |      CAST(('0x' || substring(md5(text || CAST(f AS VARCHAR)),
        |        1, 2)) AS INT)) AS sig
        |  FROM vid)
        |SELECT doc_id, n_frames,
        |  CAST(1 + COALESCE(list_sum(list_transform(range(1, n_frames),
        |    f -> CASE WHEN abs(sig[f + 1] - sig[f]) > 64
        |      THEN 1 ELSE 0 END)), 0) AS INT) AS n_shots
        |FROM sg ORDER BY doc_id""".stripMargin,

    // the md5 stub waveform replays like the pHash grid (VARCHAR md5 over
    // the text payload, ':a<chunk>' salts); the folds are the real algebra
    "audio_stats_docs" ->
      """WITH aud AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
        |sm AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 256), k ->
        |      CAST(('0x' || substring(
        |        md5(text || ':a' || CAST(k // 16 AS VARCHAR)),
        |        (k % 16) * 2 + 1, 2)) AS BIGINT) - 128) AS s
        |  FROM aud),
        |st AS (
        |  SELECT doc_id,
        |    CAST(len(s) AS INT) AS n_samples,
        |    CAST(list_max(list_transform(s, x -> abs(x))) AS INT) AS peak,
        |    CAST(list_sum(list_transform(range(1, 256), i ->
        |      CASE WHEN s[i] * s[i + 1] < 0 THEN 1 ELSE 0 END)) AS INT)
        |      AS zero_crossings,
        |    list_sum(list_transform(s, x -> x * x)) AS sumsq,
        |    list_sum(list_transform(s, x ->
        |      CASE WHEN abs(x) <= 4 THEN 1 ELSE 0 END)) AS nsil
        |  FROM sm)
        |SELECT doc_id, n_samples, peak, zero_crossings,
        |  ROUND(sqrt(CAST(sumsq AS DOUBLE) / CAST(n_samples AS DOUBLE)), 6)
        |    AS rms,
        |  ROUND(CAST(nsil AS DOUBLE) / CAST(n_samples AS DOUBLE), 6)
        |    AS silence_frac
        |FROM st ORDER BY doc_id""".stripMargin,

    "asof_purchase_click_events" ->
      """WITH p AS (
        |  SELECT event_id, user_id, CAST(EPOCH_US(ts) AS BIGINT) AS pts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts, value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.pts,
        |  c.ts AS asof_ts, c.value AS asof_value
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND c.ts <= p.pts
        |ORDER BY p.event_id""".stripMargin,

    // exact and IVF rankings composed, per-item depth fold, decimal-
    // summed p^(d-1)/d terms, scaffold-folded weight mass
    "rbo_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |ex AS (
        |  SELECT query_id, cand_id, rk FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cs DESC, cand_id) AS rk
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |        list_dot_product(q.v, c.v)
        |          / sqrt(list_dot_product(q.v, q.v)
        |            * list_dot_product(c.v, c.v)) AS cs
        |      FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
        |      WHERE q.vec_id < 5))
        |  WHERE rk <= 10),
        |cents AS (
        |  SELECT vec_id AS centroid_id, v AS centv FROM qv
        |  WHERE vec_id % 100 = 0),
        |asn AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT q.vec_id, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(q.v, c.centv)
        |          / sqrt(list_dot_product(q.v, q.v)
        |                 * list_dot_product(c.centv, c.centv)) DESC,
        |        c.centroid_id) AS crk
        |    FROM qv q, cents c)
        |  WHERE crk = 1),
        |ap AS (
        |  SELECT query_id, cand_id, rk FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cs DESC, cand_id) AS rk
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |        list_dot_product(q.v, c.v)
        |          / sqrt(list_dot_product(q.v, q.v)
        |            * list_dot_product(c.v, c.v)) AS cs
        |      FROM qv q
        |      JOIN asn a1 ON q.vec_id = a1.vec_id AND q.vec_id < 5
        |      JOIN asn a2 ON a2.centroid_id = a1.centroid_id
        |      JOIN qv c ON c.vec_id = a2.vec_id AND c.vec_id <> q.vec_id))
        |  WHERE rk <= 10),
        |common AS (
        |  SELECT ex.query_id, ex.cand_id,
        |    GREATEST(ex.rk, ap.rk) AS m
        |  FROM ex JOIN ap USING (query_id, cand_id)),
        |num AS (
        |  SELECT query_id,
        |    CAST(COUNT(DISTINCT cand_id) AS BIGINT) AS n_common,
        |    SUM(CAST(pow(0.9, d - 1) / d AS DECIMAL(38,12))) AS nm
        |  FROM common, UNNEST(range(1, 11)) AS u(d)
        |  WHERE d >= m GROUP BY query_id),
        |den AS (
        |  SELECT SUM(CAST(pow(0.9, d - 1) AS DECIMAL(38,12))) AS dn
        |  FROM UNNEST(range(1, 11)) AS u(d))
        |SELECT q.query_id,
        |  COALESCE(n_common, 0) AS n_common,
        |  ROUND(CAST(COALESCE(nm, 0) AS DOUBLE) / CAST(dn AS DOUBLE), 6)
        |    AS rbo
        |FROM (SELECT DISTINCT query_id FROM ex) q
        |LEFT JOIN num USING (query_id), den
        |ORDER BY query_id""".stripMargin,

    "ivf_topk_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS centroid_id, v AS centv FROM qv WHERE vec_id % 100 = 0),
        |asn AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT q.vec_id, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(q.v, c.centv)
        |          / sqrt(list_dot_product(q.v, q.v)
        |                 * list_dot_product(c.centv, c.centv)) DESC,
        |        c.centroid_id) AS crk
        |    FROM qv q, cents c)
        |  WHERE crk = 1),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, a1.centroid_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q
        |  JOIN asn a1 ON q.vec_id = a1.vec_id AND q.vec_id < 5
        |  JOIN asn a2 ON a2.centroid_id = a1.centroid_id
        |  JOIN qv c ON c.vec_id = a2.vec_id AND c.vec_id <> q.vec_id),
        |r AS (
        |  SELECT query_id, centroid_id, cand_id, cs,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, cand_id) AS rk
        |  FROM pairs)
        |SELECT query_id, centroid_id, cand_id, rk, ROUND(cs, 6) AS cos_sim
        |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    // IVF-PQ replay: coarse assign (exact long L2², low-cell ties), PQ
    // codebook = subvectors of ids < 16 over 4 subspaces of 16 dims, codes
    // by per-subspace argmin, 2-probe search, ADC = sum of the 4 per-
    // subspace table entries — every number an exact integer.
    "ivfpq_topk_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cell, v AS centv FROM qv WHERE vec_id % 100 = 0),
        |ccell AS (
        |  SELECT vec_id, cell, v FROM (
        |    SELECT c.vec_id, ct.cell, c.v,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
        |        (SELECT SUM((c.v[i]-ct.centv[i])*(c.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qv c CROSS JOIN cents ct)
        |  WHERE rk = 1),
        |book AS (
        |  SELECT b.vec_id AS code, s.sub,
        |    list_slice(b.v, s.sub*16+1, s.sub*16+16) AS bsv
        |  FROM qv b CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s
        |  WHERE b.vec_id < 16),
        |csub AS (
        |  SELECT cc.vec_id, cc.cell, s.sub,
        |    list_slice(cc.v, s.sub*16+1, s.sub*16+16) AS sv
        |  FROM ccell cc CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s),
        |codes AS (
        |  SELECT vec_id, cell, sub, code FROM (
        |    SELECT c.vec_id, c.cell, c.sub, k.code,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.sub ORDER BY
        |        (SELECT SUM((c.sv[i]-k.bsv[i])*(c.sv[i]-k.bsv[i]))
        |         FROM UNNEST(range(1, 17)) AS u(i)), k.code) AS rk
        |    FROM csub c JOIN book k ON k.sub = c.sub)
        |  WHERE rk = 1),
        |qs AS (SELECT vec_id AS qid, v FROM qv WHERE vec_id < 5),
        |probes AS (
        |  SELECT qid, cell FROM (
        |    SELECT q.qid, ct.cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        |        (SELECT SUM((q.v[i]-ct.centv[i])*(q.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qs q CROSS JOIN cents ct)
        |  WHERE rk <= 2),
        |qsub AS (
        |  SELECT qid, s.sub, list_slice(v, s.sub*16+1, s.sub*16+16) AS qsv
        |  FROM qs CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s),
        |dtab AS (
        |  SELECT q.qid, k.sub, k.code,
        |    (SELECT SUM((q.qsv[i]-k.bsv[i])*(q.qsv[i]-k.bsv[i]))
        |     FROM UNNEST(range(1, 17)) AS u(i)) AS d2
        |  FROM qsub q JOIN book k ON k.sub = q.sub),
        |adc AS (
        |  SELECT p.qid, cd.vec_id AS cand, cd.cell,
        |    CAST(SUM(d.d2) AS BIGINT) AS adc
        |  FROM probes p
        |  JOIN codes cd ON cd.cell = p.cell
        |  JOIN dtab d ON d.qid = p.qid AND d.sub = cd.sub AND d.code = cd.code
        |  WHERE cd.vec_id <> p.qid
        |  GROUP BY 1, 2, 3)
        |SELECT query_id, cell, cand_id, rk, adc FROM (
        |  SELECT qid AS query_id, cell, cand AS cand_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cand) AS rk
        |  FROM adc)
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    // Exact-L2 ground truth vs the same IVF-PQ result as above; recall per
    // recallAtK's contract (denominator = min(k, per-query exact size)).
    "ivfpq_recall_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cell, v AS centv FROM qv WHERE vec_id % 100 = 0),
        |ccell AS (
        |  SELECT vec_id, cell, v FROM (
        |    SELECT c.vec_id, ct.cell, c.v,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
        |        (SELECT SUM((c.v[i]-ct.centv[i])*(c.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qv c CROSS JOIN cents ct)
        |  WHERE rk = 1),
        |book AS (
        |  SELECT b.vec_id AS code, s.sub,
        |    list_slice(b.v, s.sub*16+1, s.sub*16+16) AS bsv
        |  FROM qv b CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s
        |  WHERE b.vec_id < 16),
        |csub AS (
        |  SELECT cc.vec_id, cc.cell, s.sub,
        |    list_slice(cc.v, s.sub*16+1, s.sub*16+16) AS sv
        |  FROM ccell cc CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s),
        |codes AS (
        |  SELECT vec_id, cell, sub, code FROM (
        |    SELECT c.vec_id, c.cell, c.sub, k.code,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.sub ORDER BY
        |        (SELECT SUM((c.sv[i]-k.bsv[i])*(c.sv[i]-k.bsv[i]))
        |         FROM UNNEST(range(1, 17)) AS u(i)), k.code) AS rk
        |    FROM csub c JOIN book k ON k.sub = c.sub)
        |  WHERE rk = 1),
        |qs AS (SELECT vec_id AS qid, v FROM qv WHERE vec_id < 5),
        |probes AS (
        |  SELECT qid, cell FROM (
        |    SELECT q.qid, ct.cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        |        (SELECT SUM((q.v[i]-ct.centv[i])*(q.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qs q CROSS JOIN cents ct)
        |  WHERE rk <= 2),
        |qsub AS (
        |  SELECT qid, s.sub, list_slice(v, s.sub*16+1, s.sub*16+16) AS qsv
        |  FROM qs CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s),
        |dtab AS (
        |  SELECT q.qid, k.sub, k.code,
        |    (SELECT SUM((q.qsv[i]-k.bsv[i])*(q.qsv[i]-k.bsv[i]))
        |     FROM UNNEST(range(1, 17)) AS u(i)) AS d2
        |  FROM qsub q JOIN book k ON k.sub = q.sub),
        |adc AS (
        |  SELECT p.qid, cd.vec_id AS cand, CAST(SUM(d.d2) AS BIGINT) AS adc
        |  FROM probes p
        |  JOIN codes cd ON cd.cell = p.cell
        |  JOIN dtab d ON d.qid = p.qid AND d.sub = cd.sub AND d.code = cd.code
        |  WHERE cd.vec_id <> p.qid
        |  GROUP BY 1, 2),
        |approx AS (
        |  SELECT qid, cand FROM (
        |    SELECT qid, cand,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cand) AS rk
        |    FROM adc)
        |  WHERE rk <= 10),
        |exact AS (
        |  SELECT qid, cand FROM (
        |    SELECT q.qid, c.vec_id AS cand,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        |        (SELECT SUM((q.v[i]-c.v[i])*(q.v[i]-c.v[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), c.vec_id) AS rk
        |    FROM qs q CROSS JOIN qv c
        |    WHERE c.vec_id <> q.qid)
        |  WHERE rk <= 10),
        |hits AS (
        |  SELECT a.qid, COUNT(*) AS n_approx,
        |    CAST(SUM(CASE WHEN e.cand IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hit
        |  FROM approx a
        |  LEFT JOIN exact e ON e.qid = a.qid AND e.cand = a.cand
        |  GROUP BY 1),
        |ex_n AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY 1)
        |SELECT ex_n.qid AS query_id,
        |  CAST(COALESCE(n_approx, 0) AS BIGINT) AS n_approx,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(CAST(COALESCE(n_hit, 0) AS DOUBLE) / LEAST(10, n_exact), 6)
        |    AS recall
        |FROM ex_n LEFT JOIN hits ON hits.qid = ex_n.qid
        |ORDER BY query_id""".stripMargin,

    // the ivfpq_recall replay with residual encoding: ccell/probes keep
    // the centroid and subtract it (integer lists), the codebook holds
    // residual subvectors of ids < 16, and the ADC table keys on
    // (query, probed cell)
    "ivfpq_residual_recall_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cell, v AS centv FROM qv WHERE vec_id % 100 = 0),
        |ccell AS (
        |  SELECT vec_id, cell, rv FROM (
        |    SELECT c.vec_id, ct.cell,
        |      list_transform(range(1, 65), i -> c.v[i] - ct.centv[i]) AS rv,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
        |        (SELECT SUM((c.v[i]-ct.centv[i])*(c.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qv c CROSS JOIN cents ct)
        |  WHERE rk = 1),
        |book AS (
        |  SELECT b.vec_id AS code, sb.sub,
        |    list_slice(b.rv, sb.sub*16+1, sb.sub*16+16) AS bsv
        |  FROM ccell b CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb
        |  WHERE b.vec_id < 16),
        |csub AS (
        |  SELECT cc.vec_id, cc.cell, sb.sub,
        |    list_slice(cc.rv, sb.sub*16+1, sb.sub*16+16) AS sv
        |  FROM ccell cc CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb),
        |codes AS (
        |  SELECT vec_id, cell, sub, code FROM (
        |    SELECT c.vec_id, c.cell, c.sub, k.code,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.sub ORDER BY
        |        (SELECT SUM((c.sv[i]-k.bsv[i])*(c.sv[i]-k.bsv[i]))
        |         FROM UNNEST(range(1, 17)) AS u(i)), k.code) AS rk
        |    FROM csub c JOIN book k ON k.sub = c.sub)
        |  WHERE rk = 1),
        |qs AS (SELECT vec_id AS qid, v FROM qv WHERE vec_id < 5),
        |probes AS (
        |  SELECT qid, cell, rq FROM (
        |    SELECT q.qid, ct.cell,
        |      list_transform(range(1, 65), i -> q.v[i] - ct.centv[i]) AS rq,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        |        (SELECT SUM((q.v[i]-ct.centv[i])*(q.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qs q CROSS JOIN cents ct)
        |  WHERE rk <= 2),
        |qsub AS (
        |  SELECT qid, cell, sb.sub,
        |    list_slice(rq, sb.sub*16+1, sb.sub*16+16) AS qsv
        |  FROM probes CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb),
        |dtab AS (
        |  SELECT q.qid, q.cell, k.sub, k.code,
        |    (SELECT SUM((q.qsv[i]-k.bsv[i])*(q.qsv[i]-k.bsv[i]))
        |     FROM UNNEST(range(1, 17)) AS u(i)) AS d2
        |  FROM qsub q JOIN book k ON k.sub = q.sub),
        |adc AS (
        |  SELECT p.qid, cd.vec_id AS cand, CAST(SUM(d.d2) AS BIGINT) AS adc
        |  FROM probes p
        |  JOIN codes cd ON cd.cell = p.cell
        |  JOIN dtab d ON d.qid = p.qid AND d.cell = p.cell
        |    AND d.sub = cd.sub AND d.code = cd.code
        |  WHERE cd.vec_id <> p.qid
        |  GROUP BY 1, 2),
        |approx AS (
        |  SELECT qid, cand FROM (
        |    SELECT qid, cand,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cand) AS rk
        |    FROM adc)
        |  WHERE rk <= 10),
        |exact AS (
        |  SELECT qid, cand FROM (
        |    SELECT q.qid, c.vec_id AS cand,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        |        (SELECT SUM((q.v[i]-c.v[i])*(q.v[i]-c.v[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), c.vec_id) AS rk
        |    FROM qs q CROSS JOIN qv c
        |    WHERE c.vec_id <> q.qid)
        |  WHERE rk <= 10),
        |hits AS (
        |  SELECT a.qid, COUNT(*) AS n_approx,
        |    CAST(SUM(CASE WHEN e.cand IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hit
        |  FROM approx a
        |  LEFT JOIN exact e ON e.qid = a.qid AND e.cand = a.cand
        |  GROUP BY 1),
        |ex_n AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY 1)
        |SELECT ex_n.qid AS query_id,
        |  CAST(COALESCE(n_approx, 0) AS BIGINT) AS n_approx,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(CAST(COALESCE(n_hit, 0) AS DOUBLE) / LEAST(10, n_exact), 6)
        |    AS recall
        |FROM ex_n LEFT JOIN hits ON hits.qid = ex_n.qid
        |ORDER BY query_id""".stripMargin,

    // ivfpq_recall's full ADC replay instantiated TWICE — once over the
    // raw vectors, once over the variance-ranked snake-permuted ones
    // (perm replays opqPermutation's exact-integer rank arithmetic);
    // exact-L2 ground truth is shared (permutation preserves L2)
    "opq_recall_embeddings" -> {
      // the IVF-PQ pipeline over vector CTE `src`, CTE names suffixed `s`
      def pipe(src: String, s: String): String =
        s"""cents$s AS (SELECT vec_id AS cell, v AS centv FROM $src WHERE vec_id % 100 = 0),
           |ccell$s AS (
           |  SELECT vec_id, cell, v FROM (
           |    SELECT c.vec_id, ct.cell, c.v,
           |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
           |        (SELECT SUM((c.v[i]-ct.centv[i])*(c.v[i]-ct.centv[i]))
           |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
           |    FROM $src c CROSS JOIN cents$s ct)
           |  WHERE rk = 1),
           |book$s AS (
           |  SELECT b.vec_id AS code, sb.sub,
           |    list_slice(b.v, sb.sub*16+1, sb.sub*16+16) AS bsv
           |  FROM $src b CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb
           |  WHERE b.vec_id < 16),
           |csub$s AS (
           |  SELECT cc.vec_id, cc.cell, sb.sub,
           |    list_slice(cc.v, sb.sub*16+1, sb.sub*16+16) AS sv
           |  FROM ccell$s cc CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb),
           |codes$s AS (
           |  SELECT vec_id, cell, sub, code FROM (
           |    SELECT c.vec_id, c.cell, c.sub, k.code,
           |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.sub ORDER BY
           |        (SELECT SUM((c.sv[i]-k.bsv[i])*(c.sv[i]-k.bsv[i]))
           |         FROM UNNEST(range(1, 17)) AS u(i)), k.code) AS rk
           |    FROM csub$s c JOIN book$s k ON k.sub = c.sub)
           |  WHERE rk = 1),
           |qs$s AS (SELECT vec_id AS qid, v FROM $src WHERE vec_id < 5),
           |probes$s AS (
           |  SELECT qid, cell FROM (
           |    SELECT q.qid, ct.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
           |        (SELECT SUM((q.v[i]-ct.centv[i])*(q.v[i]-ct.centv[i]))
           |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
           |    FROM qs$s q CROSS JOIN cents$s ct)
           |  WHERE rk <= 2),
           |qsub$s AS (
           |  SELECT qid, sb.sub, list_slice(v, sb.sub*16+1, sb.sub*16+16) AS qsv
           |  FROM qs$s CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb),
           |dtab$s AS (
           |  SELECT q.qid, k.sub, k.code,
           |    (SELECT SUM((q.qsv[i]-k.bsv[i])*(q.qsv[i]-k.bsv[i]))
           |     FROM UNNEST(range(1, 17)) AS u(i)) AS d2
           |  FROM qsub$s q JOIN book$s k ON k.sub = q.sub),
           |adc$s AS (
           |  SELECT p.qid, cd.vec_id AS cand, CAST(SUM(d.d2) AS BIGINT) AS adc
           |  FROM probes$s p
           |  JOIN codes$s cd ON cd.cell = p.cell
           |  JOIN dtab$s d ON d.qid = p.qid AND d.sub = cd.sub AND d.code = cd.code
           |  WHERE cd.vec_id <> p.qid
           |  GROUP BY 1, 2),
           |approx$s AS (
           |  SELECT qid, cand FROM (
           |    SELECT qid, cand,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cand) AS rk
           |    FROM adc$s)
           |  WHERE rk <= 10),
           |hits$s AS (
           |  SELECT a.qid, COUNT(*) AS n_approx,
           |    CAST(SUM(CASE WHEN e.cand IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_hit
           |  FROM approx$s a
           |  LEFT JOIN exact e ON e.qid = a.qid AND e.cand = a.cand
           |  GROUP BY 1)""".stripMargin
      s"""WITH qv AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |st AS (
         |  SELECT i AS olddim, CAST(COUNT(*) AS HUGEINT) AS n,
         |    CAST(SUM(x) AS HUGEINT) AS s,
         |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
         |  FROM (SELECT v[i] AS x, i
         |        FROM qv, UNNEST(range(1, 65)) AS u(i))
         |  GROUP BY 1),
         |pr AS (
         |  SELECT olddim, CAST(ROW_NUMBER() OVER (
         |    ORDER BY (n * ss - s * s) DESC, olddim) - 1 AS BIGINT) AS r0
         |  FROM st),
         |perm AS (
         |  SELECT olddim,
         |    (CASE WHEN (r0 // 4) % 2 = 0 THEN r0 % 4
         |          ELSE 3 - (r0 % 4) END) * 16 + (r0 // 4) + 1 AS newpos
         |  FROM pr),
         |rv AS (
         |  SELECT vec_id, list(x ORDER BY newpos) AS v
         |  FROM (SELECT q.vec_id, p.newpos, q.v[p.olddim] AS x
         |        FROM qv q, perm p)
         |  GROUP BY 1),
         |exact AS (
         |  SELECT qid, cand FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS cand,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        (SELECT SUM((q.v[i]-c.v[i])*(q.v[i]-c.v[i]))
         |         FROM UNNEST(range(1, 65)) AS u(i)), c.vec_id) AS rk
         |    FROM qv q CROSS JOIN qv c
         |    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
         |  WHERE rk <= 10),
         |ex_n AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY 1),
         |${pipe("qv", "_p")},
         |${pipe("rv", "_o")}
         |SELECT ex_n.qid AS query_id,
         |  CAST(COALESCE(hp.n_hit, 0) AS BIGINT) AS n_hit_pq,
         |  ROUND(CAST(COALESCE(hp.n_hit, 0) AS DOUBLE)
         |    / LEAST(10, n_exact), 6) AS recall_pq,
         |  CAST(COALESCE(ho.n_hit, 0) AS BIGINT) AS n_hit_opq,
         |  ROUND(CAST(COALESCE(ho.n_hit, 0) AS DOUBLE)
         |    / LEAST(10, n_exact), 6) AS recall_opq
         |FROM ex_n
         |LEFT JOIN hits_p hp ON hp.qid = ex_n.qid
         |LEFT JOIN hits_o ho ON ho.qid = ex_n.qid
         |ORDER BY query_id""".stripMargin
    },

    "salted_agg_events" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // exact companions + sketch-contract flags; the Spark side computes the
    // flags from its own sketches, the oracle pins them TRUE (see the query
    // comment) — an out-of-contract sketch fails the hash compare
    "approx_stats_events" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(value) AS n_vals,
        |  TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p99_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // deterministic KMV: k=64 smallest distinct 15-hex md5-prefix hashes
    // per group, replayed with a window over distinct hashes. Estimate is
    // exact-integer 63·2^60 div kth in HUGEINT — DuckDB's // on DECIMAL
    // ROUNDS the quotient (measured: 144.92 → 145) while // on integer
    // types truncates like Spark's div/BigInteger.divide; 63·2^60
    // overflows BIGINT, so int128 it is. Below-k groups report exact size.
    "kmv_distinct_events" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |  FROM h),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n_sketch, MAX(hv) AS kth
        |  FROM r WHERE rn <= 64 GROUP BY 1),
        |d AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1)
        |SELECT d.event_type, d.n_users, s.n_sketch,
        |  s.kth AS kmv_kth,
        |  CAST(CASE WHEN s.n_sketch < 64 THEN s.n_sketch
        |    ELSE (CAST(63 AS HUGEINT) * 1152921504606846976)
        |      // GREATEST(s.kth, 1) END AS BIGINT) AS kmv_est
        |FROM d JOIN s USING (event_type) ORDER BY 1""".stripMargin,

    // HLL: bucket = hash mod 64; rho = leading zeros of the remaining
    // 54-bit word + 1 (= 55 − bit-length, computed via the binary-format
    // string — exact integer string op in both engines); registers are
    // per-bucket MAX. Estimate arithmetic mirrors Sketches.hllDistinct
    // token for token.
    "hll_distinct_events" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv % 64 AS bucket,
        |    MAX(CASE WHEN hv // 64 = 0 THEN 55
        |      ELSE 55 - length(format('{:b}', hv // 64)) END) AS rho
        |  FROM h GROUP BY 1, 2),
        |f AS (
        |  SELECT e.event_type, g.bucket, COALESCE(r.rho, 0) AS reg
        |  FROM (SELECT DISTINCT event_type FROM events) e
        |  CROSS JOIN (SELECT UNNEST(range(0, 64)) AS bucket) g
        |  LEFT JOIN r ON r.event_type = e.event_type AND r.bucket = g.bucket),
        |s AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_regs,
        |    CAST(SUM(CAST(1 AS BIGINT) << (56 - reg)) AS BIGINT)
        |      AS harmonic_num,
        |    CAST(SUM((bucket + 1) * reg) AS BIGINT) AS regs_digest
        |  FROM f GROUP BY 1),
        |d AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1)
        |SELECT d.event_type, d.n_users, s.n_zero_regs, s.harmonic_num,
        |  s.regs_digest,
        |  CAST(CASE WHEN s.n_zero_regs > 0 AND
        |      2.0925986477216114E20
        |        / CAST(s.harmonic_num AS DOUBLE) <= 160.0
        |    THEN ROUND(64.0 * LN(64.0 / CAST(s.n_zero_regs AS DOUBLE)))
        |    ELSE ROUND(2.0925986477216114E20
        |      / CAST(s.harmonic_num AS DOUBLE)) END AS BIGINT) AS hll_est
        |FROM d JOIN s USING (event_type) ORDER BY 1""".stripMargin,

    // rolling HLL: per-hour registers range-joined 4-wide, absent buckets
    // contribute 2^56 to the harmonic numerator; same estimate text as
    // hll_distinct_events
    "rolling_hll_events" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    epoch_us(ts) // 1000000 // 3600 AS hour,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hour, hv % 64 AS bucket,
        |    MAX(CASE WHEN hv // 64 = 0 THEN 55
        |      ELSE 55 - length(format('{:b}', hv // 64)) END) AS rho
        |  FROM h GROUP BY 1, 2, 3),
        |a AS (SELECT DISTINCT event_type, hour FROM r),
        |roll AS (
        |  SELECT a.event_type, a.hour, r.bucket, MAX(r.rho) AS rho
        |  FROM a JOIN r ON r.event_type = a.event_type
        |    AND r.hour > a.hour - 4 AND r.hour <= a.hour
        |  GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT event_type, hour,
        |    CAST(64 - COUNT(*) AS BIGINT) AS n_zero_regs,
        |    CAST(SUM(CAST(1 AS BIGINT) << (56 - rho))
        |      + (64 - COUNT(*)) * 72057594037927936 AS BIGINT)
        |      AS harmonic_num,
        |    CAST(SUM((bucket + 1) * rho) AS BIGINT) AS regs_digest
        |  FROM roll GROUP BY 1, 2),
        |du AS (
        |  SELECT DISTINCT event_type,
        |    epoch_us(ts) // 1000000 // 3600 AS hour, user_id
        |  FROM events),
        |ex AS (
        |  SELECT a.event_type, a.hour,
        |    COUNT(DISTINCT d.user_id) AS n_users_4h
        |  FROM (SELECT DISTINCT event_type, hour FROM du) a
        |  JOIN du d ON d.event_type = a.event_type
        |    AND d.hour > a.hour - 4 AND d.hour <= a.hour
        |  GROUP BY 1, 2)
        |SELECT s.event_type, s.hour, ex.n_users_4h, s.n_zero_regs,
        |  s.harmonic_num, s.regs_digest,
        |  CAST(CASE WHEN s.n_zero_regs > 0 AND
        |      2.0925986477216114E20
        |        / CAST(s.harmonic_num AS DOUBLE) <= 160.0
        |    THEN ROUND(64.0 * LN(64.0 / CAST(s.n_zero_regs AS DOUBLE)))
        |    ELSE ROUND(2.0925986477216114E20
        |      / CAST(s.harmonic_num AS DOUBLE)) END AS BIGINT) AS hll_est
        |FROM s JOIN ex USING (event_type, hour)
        |ORDER BY event_type, hour""".stripMargin,

    // streaming rolling HLL == batch rolling HLL (register max is
    // merge-order-free, so the Complete-mode state equals the batch
    // register table): the rolling_hll_events replay minus its exact
    // recount companion
    "streaming_rolling_hll_events" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    epoch_us(ts) // 1000000 // 3600 AS hour,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hour, hv % 64 AS bucket,
        |    MAX(CASE WHEN hv // 64 = 0 THEN 55
        |      ELSE 55 - length(format('{:b}', hv // 64)) END) AS rho
        |  FROM h GROUP BY 1, 2, 3),
        |a AS (SELECT DISTINCT event_type, hour FROM r),
        |roll AS (
        |  SELECT a.event_type, a.hour, r.bucket, MAX(r.rho) AS rho
        |  FROM a JOIN r ON r.event_type = a.event_type
        |    AND r.hour > a.hour - 4 AND r.hour <= a.hour
        |  GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT event_type, hour,
        |    CAST(64 - COUNT(*) AS BIGINT) AS n_zero_regs,
        |    CAST(SUM(CAST(1 AS BIGINT) << (56 - rho))
        |      + (64 - COUNT(*)) * 72057594037927936 AS BIGINT)
        |      AS harmonic_num,
        |    CAST(SUM((bucket + 1) * rho) AS BIGINT) AS regs_digest
        |  FROM roll GROUP BY 1, 2)
        |SELECT event_type, hour, n_zero_regs, harmonic_num, regs_digest,
        |  CAST(CASE WHEN n_zero_regs > 0 AND
        |      2.0925986477216114E20
        |        / CAST(harmonic_num AS DOUBLE) <= 160.0
        |    THEN ROUND(64.0 * LN(64.0 / CAST(n_zero_regs AS DOUBLE)))
        |    ELSE ROUND(2.0925986477216114E20
        |      / CAST(harmonic_num AS DOUBLE)) END AS BIGINT) AS hll_est
        |FROM s ORDER BY event_type, hour""".stripMargin,

    // KMV set ops: the A/B sketches are the k smallest hashes of each
    // slice's user set; a union-sketch member's slice membership is its
    // per-user flag (rank-in-slice ≤ rank-in-union ≤ k, so sketch
    // membership ⟺ set membership — see Sketches.kmvSetEstimate). SUMs
    // CAST to BIGINT (DuckDB SUM(INTEGER) widens to HUGEINT).
    "kmv_setops_events" ->
      """WITH f AS (
        |  SELECT event_type, user_id,
        |    MAX(CASE WHEN event_id % 3 <> 0 THEN 1 ELSE 0 END) AS ia,
        |    MAX(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS ib
        |  FROM events GROUP BY 1, 2),
        |ex AS (
        |  SELECT event_type,
        |    CAST(SUM(ia) AS BIGINT) AS n_a,
        |    CAST(SUM(ib) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN ia = 1 OR ib = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_union,
        |    CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_inter
        |  FROM f GROUP BY 1),
        |r AS (
        |  SELECT event_type, ia, ib,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY
        |      CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |        AS BIGINT)) AS rn,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM f WHERE ia = 1 OR ib = 1),
        |u AS (
        |  SELECT event_type, COUNT(*) AS nu, MAX(hv) AS kthu,
        |    CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_both
        |  FROM r WHERE rn <= 64 GROUP BY 1),
        |est AS (
        |  SELECT event_type, nu, n_both,
        |    CAST(CASE WHEN nu < 64 THEN nu
        |      ELSE (CAST(63 AS HUGEINT) * 1152921504606846976)
        |        // GREATEST(kthu, 1) END AS BIGINT) AS est_union
        |  FROM u)
        |SELECT ex.event_type, ex.n_a, ex.n_b, ex.n_union, ex.n_inter,
        |  est.n_both, est.est_union,
        |  CAST(CASE WHEN est.nu < 64 THEN est.n_both
        |    ELSE (CAST(est.n_both AS HUGEINT) * est.est_union)
        |      // est.nu END AS BIGINT) AS est_intersect
        |FROM ex JOIN est USING (event_type) ORDER BY 1""".stripMargin,

    // pairwise overlap: per-source bottom-64 word-hash sketches; per pair,
    // the union sketch is the 64 smallest of the two sketches' union and
    // membership flags come from each side's sketch (rank containment) —
    // same HUGEINT floor-div arithmetic as the other KMV oracles
    "kmv_source_overlap_docs" ->
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
        |FROM est ORDER BY 1, 2""".stripMargin,

    // pHash pairs: full replay of the DCT perceptual hash — payload =
    // utf-8 text bytes, so the stub decode's md5-chained 8×8 grid is
    // VARCHAR md5 over (text || ':chunk'); the DCT is exact integer
    // arithmetic against the SAME quantized cosine table the Spark side
    // uses (interpolated below); bands are bit slices, verify is
    // bit_count(xor)
    "phash_pairs_docs" -> phashOracleSql,

    "image_quality_docs" -> imageQualityOracleSql,

    "image_quality_gate_docs" -> imageQualityGateOracleSql,

    // streaming KMV == batch KMV (merge-order invariance): same replay as
    // kmv_distinct_events, without the exact companion column
    "streaming_kmv_events" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |  FROM h),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n_sketch, MAX(hv) AS kth
        |  FROM r WHERE rn <= 64 GROUP BY 1)
        |SELECT event_type, n_sketch, kth AS kmv_kth,
        |  CAST(CASE WHEN n_sketch < 64 THEN n_sketch
        |    ELSE (CAST(63 AS HUGEINT) * 1152921504606846976)
        |      // GREATEST(kth, 1) END AS BIGINT) AS kmv_est
        |FROM s ORDER BY 1""".stripMargin,

    // streaming HLL == batch HLL (register max is merge-order-free)
    "streaming_hll_events" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv % 64 AS bucket,
        |    MAX(CASE WHEN hv // 64 = 0 THEN 55
        |      ELSE 55 - length(format('{:b}', hv // 64)) END) AS rho
        |  FROM h GROUP BY 1, 2),
        |f AS (
        |  SELECT e.event_type, g.bucket, COALESCE(r.rho, 0) AS reg
        |  FROM (SELECT DISTINCT event_type FROM events) e
        |  CROSS JOIN (SELECT UNNEST(range(0, 64)) AS bucket) g
        |  LEFT JOIN r ON r.event_type = e.event_type AND r.bucket = g.bucket),
        |s AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_regs,
        |    CAST(SUM(CAST(1 AS BIGINT) << (56 - reg)) AS BIGINT)
        |      AS harmonic_num,
        |    CAST(SUM((bucket + 1) * reg) AS BIGINT) AS regs_digest
        |  FROM f GROUP BY 1)
        |SELECT event_type, n_zero_regs, harmonic_num, regs_digest,
        |  CAST(CASE WHEN n_zero_regs > 0 AND
        |      2.0925986477216114E20
        |        / CAST(harmonic_num AS DOUBLE) <= 160.0
        |    THEN ROUND(64.0 * LN(64.0 / CAST(n_zero_regs AS DOUBLE)))
        |    ELSE ROUND(2.0925986477216114E20
        |      / CAST(harmonic_num AS DOUBLE)) END AS BIGINT) AS hll_est
        |FROM s ORDER BY 1""".stripMargin,

    // streaming CMS == batch CMS (counter addition is merge-order-free):
    // the sketch table itself is the checked output
    "streaming_cms_events" ->
      """SELECT d.j,
        |  CAST(('0x' || substring(md5(CAST(d.j AS VARCHAR) || ':' ||
        |    CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 512 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events e CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS j) d
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // CMS replay: row j's bucket for key x = md5-prefix("j:x") % 512 in
    // both engines; top-15 tie-break (count desc, user_id) is total order
    "cms_counts_events" ->
      """WITH c AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        |  FROM events GROUP BY 1),
        |top AS (
        |  SELECT user_id, n_exact FROM c
        |  ORDER BY n_exact DESC, user_id LIMIT 15),
        |d AS (SELECT UNNEST([0, 1, 2, 3]) AS j),
        |sk AS (
        |  SELECT d.j,
        |    CAST(('0x' || substring(md5(CAST(d.j AS VARCHAR) || ':' ||
        |      CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 512
        |      AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events e CROSS JOIN d GROUP BY 1, 2),
        |est AS (
        |  SELECT t.user_id, MIN(sk.cnt) AS cms_est
        |  FROM top t CROSS JOIN d
        |  JOIN sk ON sk.j = d.j AND sk.bucket =
        |    CAST(('0x' || substring(md5(CAST(d.j AS VARCHAR) || ':' ||
        |      CAST(t.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 512
        |  GROUP BY 1)
        |SELECT t.user_id, t.n_exact, e.cms_est,
        |  e.cms_est - t.n_exact AS overcount
        |FROM top t JOIN est e USING (user_id)
        |ORDER BY t.n_exact DESC, t.user_id""".stripMargin,

    // the twin drains the same (tok, ca, cb) Complete-mode state —
    // one oracle serves both
    "streaming_js_divergence_docs" -> jsDivergenceOracleSql,

    "js_divergence_docs" -> jsDivergenceOracleSql,

    "simpson_docs" ->
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
        |FROM c GROUP BY g ORDER BY g""".stripMargin,

    // same 3-shingle construction as the jaccard oracle, per language side;
    // |intersection| of two DISTINCT sets = inner-join row count
    "ngram_overlap_docs" ->
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
        |FROM c""".stripMargin,

    "heavy_hitters_events" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT COUNT(*) AS total FROM events)
        |SELECT user_id, event_type, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / total, 6) AS share
        |FROM c, t ORDER BY cnt DESC, user_id, event_type LIMIT 25""".stripMargin,

    "deletion_propagation_events" ->
      """WITH b AS (
        |  SELECT event_type, COUNT(*) AS n_before,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sb
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT event_type, COUNT(*) AS n_deleted,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sd
        |  FROM events WHERE user_id % 97 = 0 GROUP BY 1)
        |SELECT b.event_type, CAST(b.n_before AS BIGINT) AS n_before,
        |  CAST(COALESCE(d.n_deleted, 0) AS BIGINT) AS n_deleted,
        |  CAST(b.n_before - COALESCE(d.n_deleted, 0) AS BIGINT) AS n_after,
        |  ROUND(CAST(b.sb - COALESCE(d.sd, 0) AS DOUBLE), 6) AS sum_after
        |FROM b LEFT JOIN d ON b.event_type = d.event_type
        |ORDER BY b.event_type""".stripMargin,

    "winsorize_events" ->
      """WITH bounds AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS p05,
        |    quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT e.event_type, e.value,
        |    LEAST(GREATEST(e.value, b.p05), b.p95) AS cv, b.p05, b.p95
        |  FROM events e JOIN bounds b ON e.event_type = b.event_type)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(MIN(p05), 6) AS p05, ROUND(MIN(p95), 6) AS p95,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
        |    AS sum_raw,
        |  ROUND(CAST(SUM(CAST(cv AS DECIMAL(18,2))) AS DOUBLE), 6)
        |    AS sum_clipped
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    "streaming_corpus_dedup_docs" ->
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
        |GROUP BY source ORDER BY source""".stripMargin,

    "markov_transitions_events" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    CAST(EPOCH_US(ts) AS BIGINT) AS us
        |  FROM events),
        |st AS (
        |  SELECT
        |    LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id) AS prev_type,
        |    event_type AS next_type
        |  FROM e),
        |c AS (
        |  SELECT prev_type, next_type, COUNT(*) AS n
        |  FROM st WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6)
        |    AS prob
        |FROM c ORDER BY prev_type, next_type""".stripMargin,

    "training_pipeline_docs" ->
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
        |ORDER BY doc_id""".stripMargin,

    "dedup_keep_best_docs" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "norm_dedup_gain_docs" ->
      """WITH aug AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT text || ' !!' FROM documents WHERE doc_id % 7 = 0),
        |h AS (
        |  SELECT md5(text) AS raw_h,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |      AS norm_h
        |  FROM aug)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) - COUNT(DISTINCT raw_h) AS BIGINT) AS n_raw_dups,
        |  CAST(COUNT(*) - COUNT(DISTINCT norm_h) AS BIGINT) AS n_norm_dups,
        |  CAST(COUNT(DISTINCT raw_h) - COUNT(DISTINCT norm_h) AS BIGINT)
        |    AS gain
        |FROM h""".stripMargin,

    "compaction_docs" ->
      """WITH cs AS (
        |  SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(('0x' || substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || lang || '|' || source
        |        || '|' || CAST(n_chars AS VARCHAR) || '|' || md5(text)),
        |      1, 8)) AS BIGINT)) AS BIGINT) AS checksum
        |  FROM documents)
        |SELECT CAST(n_rows AS BIGINT) AS n_rows,
        |  checksum AS checksum_small, checksum AS checksum_packed
        |FROM cs""".stripMargin,

    // the classifier replay (calibration_docs' CTEs) + the Murphy folds
    // over the 10-bin dictionary, every shape mirrored
    "brier_panel_docs" ->
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
        |FROM f""".stripMargin,

    // PAV replay: same score/label prefix as brier; minimax fractions
    // ordered by cross-multiplied NOT EXISTS dominance
    "isotonic_calibration_docs" ->
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
        |ORDER BY ps.bin""".stripMargin,

    "calibration_docs" ->
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
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "padding_waste_docs" ->
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
        |FROM bs GROUP BY strategy ORDER BY strategy""".stripMargin,

    // gap-filled daily series (generate_series per type), lag self-join,
    // exact HUGEINT moments, the fixed-order sqrt ratio mirrored
    "acf_events" ->
      """WITH d AS (
        |  SELECT event_type,
        |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400 AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
        |  FROM d GROUP BY 1),
        |scaf AS (
        |  SELECT s.event_type, u.day
        |  FROM span s, UNNEST(range(s.d0, s.d1 + 1)) AS u(day)),
        |filled AS (
        |  SELECT sc.event_type, sc.day, COALESCE(d.yc, 0) AS yc
        |  FROM scaf sc
        |  LEFT JOIN d ON d.event_type = sc.event_type AND d.day = sc.day),
        |pairs AS (
        |  SELECT a.event_type, l.lag,
        |    CAST(a.yc AS HUGEINT) AS x, CAST(b.yc AS HUGEINT) AS y
        |  FROM filled a
        |  JOIN (SELECT UNNEST(range(1, 8)) AS lag) l ON TRUE
        |  JOIN filled b ON b.event_type = a.event_type
        |    AND b.day = a.day + l.lag),
        |m AS (
        |  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM pairs GROUP BY 1, 2)
        |SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CASE WHEN n_pairs * sxx - sx * sx > 0
        |        AND n_pairs * syy - sy * sy > 0 THEN
        |    ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6)
        |  END AS acf
        |FROM m ORDER BY event_type, lag""".stripMargin,

    "trend_fit_events" ->
      """WITH d AS (
        |  SELECT event_type,
        |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400 AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(day) AS BIGINT) AS sx, CAST(SUM(yc) AS BIGINT) AS sy,
        |    CAST(SUM(day * yc) AS BIGINT) AS sxy,
        |    CAST(SUM(day * day) AS BIGINT) AS sxx
        |  FROM d GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0.0) / 100.0, 6)
        |    AS slope_per_day
        |FROM s ORDER BY event_type""".stripMargin,

    "zipf_fit_docs" ->
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
        |FROM s""".stripMargin,

    "ngram_diversity_docs" ->
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
        |FROM cnt GROUP BY n ORDER BY n""".stripMargin,

    "vocab_coverage_docs" ->
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
        |FROM top ORDER BY rank""".stripMargin,

    "sentence_dedup_docs" ->
      """WITH s AS (
        |  SELECT doc_id, u.p, l[u.p] AS s
        |  FROM (SELECT doc_id, string_split(text, '. ') AS l FROM documents),
        |    UNNEST(range(1, len(l) + 1)) AS u(p)),
        |f AS (
        |  SELECT doc_id, s, MIN(p) AS p, COUNT(*) AS n
        |  FROM s GROUP BY doc_id, s)
        |SELECT doc_id,
        |  CAST(SUM(n) AS BIGINT) AS n_sentences,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  md5(STRING_AGG(s, '. ' ORDER BY p)) AS clean_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // integer sweep over minimum match counts — threshold m/8 is an exact
    // dyadic; same minhash/band CTEs as the accuracy oracle
    "dedup_threshold_sweep_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |mcount AS (
        |  SELECT c.id_a, c.id_b,
        |    SUM(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) AS m
        |  FROM cand c
        |  JOIN mh ma ON ma.doc_id = c.id_a
        |  JOIN mh mb ON mb.doc_id = c.id_b AND mb.s = ma.s
        |  GROUP BY c.id_a, c.id_b),
        |sw AS (
        |  SELECT u.t, id_a, id_b
        |  FROM mcount, UNNEST(range(1, 9)) AS u(t)
        |  WHERE m >= u.t),
        |pa AS (SELECT t, COUNT(*) AS n_pairs FROM sw GROUP BY t),
        |da AS (
        |  SELECT t, COUNT(DISTINCT d) AS n_docs FROM (
        |    SELECT t, id_a AS d FROM sw
        |    UNION ALL SELECT t, id_b AS d FROM sw)
        |  GROUP BY t),
        |grid AS (SELECT t FROM UNNEST(range(1, 9)) AS g(t))
        |SELECT CAST(t AS DOUBLE) / 8 AS threshold,
        |  CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs
        |FROM grid LEFT JOIN pa USING (t) LEFT JOIN da USING (t)
        |ORDER BY threshold""".stripMargin,

    "minhash_accuracy_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |est AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(SUM(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) AS DOUBLE) / 8
        |      AS est_sim
        |  FROM cand c
        |  JOIN mh ma ON ma.doc_id = c.id_a
        |  JOIN mh mb ON mb.doc_id = c.id_b AND mb.s = ma.s
        |  GROUP BY c.id_a, c.id_b),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        |  FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_a
        |  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
        |  GROUP BY c.id_a, c.id_b)
        |SELECT e.id_a, e.id_b, ROUND(e.est_sim, 6) AS est_sim,
        |  ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
        |    / CAST(sa.sz + sb.sz - COALESCE(i.n_inter, 0) AS DOUBLE), 6)
        |    AS exact_jaccard,
        |  ROUND(ABS(e.est_sim
        |    - CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
        |      / CAST(sa.sz + sb.sz - COALESCE(i.n_inter, 0) AS DOUBLE)), 6)
        |    AS abs_err
        |FROM est e
        |LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
        |JOIN sizes sa ON sa.doc_id = e.id_a
        |JOIN sizes sb ON sb.doc_id = e.id_b
        |ORDER BY e.id_a, e.id_b""".stripMargin,

    "top_tokens_docs" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "jsonl_roundtrip_docs" ->
      """SELECT doc_id, lang, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "shard_pack_docs" ->
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
        |FROM c ORDER BY doc_id""".stripMargin,

    // manifest: shard assignment replays shard_pack's running-sum floor
    // division; the checksum is the table_checksum 8-hex-draw convention
    // over "doc_id|md5(text)"
    "shard_manifest_docs" ->
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
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // video kind ⇔ doc_id % 3 = 2 (fromDocuments' kind array); signature =
    // first md5 byte of payload ++ frame-index-as-string, unsigned
    "frame_sample_docs" ->
      """WITH v AS (
        |  SELECT doc_id, text, CAST(doc_id % 30 + 1 AS INT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id, CAST(f AS INT) AS frame,
        |  CAST(('0x' || substr(md5(text || CAST(f AS VARCHAR)), 1, 2)) AS INT)
        |    AS signature
        |FROM v, UNNEST(range(0, n_frames, 5)) AS u(f)
        |ORDER BY doc_id, frame""".stripMargin,

    "orc_roundtrip_docs" ->
      """SELECT doc_id, lang, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "partitioned_layout_docs" ->
      """SELECT doc_id, lang, n_chars, md5(text) AS text_md5
        |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin,

    "passage_dedup_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(t[(i*10+1):(i*10+10)], ' ') AS chunk
        |  FROM toks,
        |    UNNEST(range(0, greatest(CAST(ceil(len(t)/10.0) AS INT), 1))) AS u(i)),
        |rn AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk)
        |    ORDER BY doc_id, pos) AS r
        |  FROM ch),
        |surv AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY pos) AS clean_text
        |  FROM rn WHERE r = 1 GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id)
        |SELECT t.doc_id, t.n_chunks,
        |  COALESCE(s.n_kept, 0) AS n_kept,
        |  COALESCE(s.clean_text, '') AS clean_text
        |FROM tot t LEFT JOIN surv s ON t.doc_id = s.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // house tokens convention; hits via a list containment over the
    // 4-term dictionary; every doc scaffolds (zero-hit rows included)
    "blocklist_docs" ->
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
        |ORDER BY d.doc_id""".stripMargin,

    "decontaminate_semantic_docs" ->
      s"""$semanticDecontamOracleCore,
         |sel AS (
         |  SELECT corpus_id, bench_id, cs,
         |    ROW_NUMBER() OVER (PARTITION BY corpus_id
         |      ORDER BY cs DESC, bench_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY corpus_id) AS nh,
         |    MAX(cs) OVER (PARTITION BY corpus_id) AS mx
         |  FROM hits)
         |SELECT corpus_id, CAST(nh AS BIGINT) AS n_bench_hits,
         |  bench_id AS top_bench_id, ROUND(mx, 6) AS max_sim
         |FROM sel WHERE rk = 1 ORDER BY corpus_id""".stripMargin,

    "decontaminate_semantic_recall_docs" ->
      s"""$semanticDecontamOracleCore,
         |f AS (SELECT corpus_id FROM hits GROUP BY corpus_id),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_flagged,
         |    CAST(SUM(CASE WHEN corpus_id % 7 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_planted_flagged
         |  FROM f),
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
         |    CAST(SUM(CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_planted
         |  FROM embeddings)
         |SELECT n_corpus, n_planted, n_flagged, n_planted_flagged,
         |  CASE WHEN n_planted > 0 THEN
         |    ROUND(CAST(n_planted_flagged AS DOUBLE)
         |      / CAST(n_planted AS DOUBLE), 6) END AS recall
         |FROM tot, agg""".stripMargin,

    "decontaminate_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT s.doc_id, COUNT(*) AS n_shared
        |  FROM sh s JOIN ev ON s.sh = ev.sh
        |  WHERE s.doc_id % 20 <> 0
        |  GROUP BY s.doc_id)
        |SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared,
        |  COALESCE(h.n_shared, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // same mh/bands replay as minhash_pairs_docs, bipartite corpus×eval
    // candidate join, est = component-agreement fraction in exact micros
    "decontaminate_fuzzy_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |cand AS (
        |  SELECT DISTINCT c.doc_id AS cid, e.doc_id AS eid
        |  FROM bands c JOIN bands e
        |    ON c.band = e.band AND c.band_key = e.band_key
        |  WHERE c.doc_id % 20 <> 0 AND e.doc_id % 20 = 0),
        |agr AS (
        |  SELECT cd.cid, cd.eid,
        |    CAST(SUM(CASE WHEN cm.h = em.h THEN 1 ELSE 0 END) * 1000000 // 8
        |      AS BIGINT) AS est
        |  FROM cand cd
        |  JOIN mh cm ON cm.doc_id = cd.cid
        |  JOIN mh em ON em.doc_id = cd.eid AND em.s = cm.s
        |  GROUP BY cd.cid, cd.eid),
        |best AS (
        |  SELECT cid, eid, est, ROW_NUMBER() OVER (
        |    PARTITION BY cid ORDER BY est DESC, eid) AS rk
        |  FROM agr)
        |SELECT d.doc_id, b.eid AS match_id,
        |  COALESCE(b.est, 0) AS est_jaccard_micro,
        |  COALESCE(b.est, 0) >= 600000 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.cid = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // same mh/bands/agr replay as decontaminate_fuzzy_docs; benchmark
    // labels join the eval side, per-(benchmark, doc) best estimate,
    // zero-overlap benchmarks scaffolded via the eval-dictionary left join
    "contamination_report_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |cand AS (
        |  SELECT DISTINCT c.doc_id AS cid, e.doc_id AS eid
        |  FROM bands c JOIN bands e
        |    ON c.band = e.band AND c.band_key = e.band_key
        |  WHERE c.doc_id % 20 <> 0 AND e.doc_id % 20 = 0),
        |agr AS (
        |  SELECT cd.cid, cd.eid,
        |    CAST(SUM(CASE WHEN cm.h = em.h THEN 1 ELSE 0 END) * 1000000 // 8
        |      AS BIGINT) AS est
        |  FROM cand cd
        |  JOIN mh cm ON cm.doc_id = cd.cid
        |  JOIN mh em ON em.doc_id = cd.eid AND em.s = cm.s
        |  GROUP BY cd.cid, cd.eid),
        |bench AS (
        |  SELECT doc_id AS eid,
        |    'bench_' || CAST(doc_id % 3 AS VARCHAR) AS benchmark
        |  FROM documents WHERE doc_id % 20 = 0),
        |corp AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS mass
        |  FROM documents WHERE doc_id % 20 <> 0),
        |ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
        |  CAST(SUM(mass) AS BIGINT) AS mc FROM corp),
        |flags AS (
        |  SELECT b.benchmark, a.cid, MAX(a.est) AS best
        |  FROM agr a JOIN bench b ON a.eid = b.eid
        |  GROUP BY 1, 2),
        |hit AS (
        |  SELECT benchmark, CAST(COUNT(*) AS BIGINT) AS n_contaminated,
        |    CAST(SUM(c.mass) AS BIGINT) AS mass_contaminated
        |  FROM flags f JOIN corp c ON c.doc_id = f.cid
        |  WHERE f.best >= 600000 GROUP BY 1),
        |evtot AS (
        |  SELECT benchmark, CAST(COUNT(*) AS BIGINT) AS n_eval
        |  FROM bench GROUP BY 1)
        |SELECT e.benchmark, e.n_eval,
        |  COALESCE(h.n_contaminated, 0) AS n_contaminated,
        |  COALESCE(h.mass_contaminated, 0) AS mass_contaminated,
        |  ROUND(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
        |    / CAST(nc AS DOUBLE), 6) AS frac_docs,
        |  ROUND(CAST(COALESCE(h.mass_contaminated, 0) AS DOUBLE)
        |    / CAST(mc AS DOUBLE), 6) AS frac_mass
        |FROM evtot e LEFT JOIN hit h USING (benchmark), ctot
        |ORDER BY e.benchmark""".stripMargin,

    // vowel-group syllables (floor 1), [.!?]+ sentence runs (floor 1),
    // formula floats mirror TextAnalysis.readability verbatim
    "readability_docs" ->
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
        |ORDER BY b.doc_id""".stripMargin,

    // explicit codepoint ranges mirror ScriptRanges; argmax tiebreak =
    // (count DESC, name DESC), the array_max-over-structs semantics
    "script_id_docs" -> {
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
    },

    "repetition_docs" ->
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
        |FROM a ORDER BY doc_id""".stripMargin,

    "corpus_freq_docs" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |  ROUND(CAST(CAST(SUM(f.cnt) AS BIGINT) AS DOUBLE) / COUNT(*), 6)
        |    AS avg_tok_freq
        |FROM tok t JOIN freq f ON t.tok = f.tok
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "pii_scrub_docs" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    text || ' contact u' || CAST(doc_id AS VARCHAR) ||
        |      '@mail.com or 555-' ||
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234',
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Luhn is a SUM of independent per-position terms (list_sum); the
    // IBAN mod-97 is a seeded sequential fold (list_prepend + list_reduce
    // — DuckDB's reduce seeds from the first element)
    "pii_luhn_docs" ->
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
        |ORDER BY doc_id, kind, token""".stripMargin,

    "streaming_hourly_agg_events" ->
      """SELECT (CAST(EPOCH_US(date_trunc('hour', ts)) AS BIGINT) // 1000000)
        |    AS hour_epoch,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Append-mode twin: only windows CLOSED by the watermark are emitted.
    // The cutoff replays Spark's integer watermark arithmetic exactly:
    // watermark µs = ((max event µs) // 1000 − 3600000) · 1000 (event-time
    // stats are ms-truncated), a window emits iff its end ≤ watermark.
    "streaming_hourly_append_events" ->
      """WITH e AS (
        |  SELECT EPOCH_NS(ts) // 1000 AS us, event_type, value
        |  FROM events),
        |wm AS (
        |  SELECT ((MAX(us) // 1000) - 3600000) * 1000 AS wm_us FROM e),
        |w AS (
        |  SELECT us // 3600000000 AS h, event_type,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY 1, 2)
        |SELECT h * 3600 AS hour_epoch, event_type, n_events, sum_value
        |FROM w, wm WHERE (h + 1) * 3600000000 <= wm_us
        |ORDER BY 1, 2""".stripMargin,

    "pivot_events" ->
      """SELECT user_id % 10 AS user_bucket,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "cube_events" ->
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |  COALESCE(CAST(value > 100.0 AS VARCHAR), 'ALL') AS high_value,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY CUBE(event_type, value > 100.0)
        |ORDER BY 1, 2""".stripMargin,

    "trial_stats_orders" ->
      """WITH s AS (
        |  SELECT o_orderstatus, COUNT(*) AS n_trials,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |      * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
        |      AS DOUBLE) AS sum_sq
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, n_trials,
        |  ROUND(sum_price / n_trials, 6) AS mean_price,
        |  ROUND(SQRT(sum_sq / n_trials -
        |    (sum_price / n_trials) * (sum_price / n_trials)), 6) AS std_price
        |FROM s ORDER BY o_orderstatus""".stripMargin,

    "tfidf_top_terms_docs" ->
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
        |FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "decontaminate_bloom_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT s.doc_id, COUNT(*) AS n_shared
        |  FROM sh s JOIN ev ON s.sh = ev.sh
        |  WHERE s.doc_id % 20 <> 0
        |  GROUP BY s.doc_id)
        |SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared,
        |  COALESCE(h.n_shared, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "kfold_split_orders" ->
      """WITH f AS (
        |  SELECT CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 5 AS INT) AS fold,
        |    o_totalprice
        |  FROM orders)
        |SELECT fold, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin,

    "percentile_interp_lineitem" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "ntile_binning_orders" ->
      """WITH b AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    NTILE(4) OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS bin
        |  FROM orders)
        |SELECT o_orderpriority, bin, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM b GROUP BY o_orderpriority, bin
        |ORDER BY o_orderpriority, bin""".stripMargin,

    "range_join_lineitem" ->
      """SELECT o.o_orderpriority, COUNT(*) AS n_shipped_30d,
        |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM orders o JOIN lineitem l
        |  ON l.l_orderkey = o.o_orderkey
        | AND l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,

    "bucketed_range_join_events" ->
      """WITH a AS (
        |  SELECT event_id AS anchor_id, epoch_us(ts) AS win_start,
        |    epoch_us(ts) + 1800 * 1000000 AS win_end
        |  FROM events WHERE event_type = 'purchase' AND user_id % 97 = 0),
        |c AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE event_type = 'click')
        |SELECT a.anchor_id, COUNT(*) AS n_clicks,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
        |FROM a JOIN c ON c.ts_us >= a.win_start AND c.ts_us < a.win_end
        |GROUP BY a.anchor_id ORDER BY a.anchor_id""".stripMargin,

    "corr_lineitem" ->
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
        |FROM s ORDER BY l_returnflag""".stripMargin,

    "mad_orders" ->
      """WITH m AS (
        |  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o.o_orderstatus, COUNT(*) AS n,
        |  ROUND(MIN(m.med), 6) AS median,
        |  ROUND(quantile_cont(abs(o.o_totalprice - m.med), 0.5), 6) AS mad
        |FROM orders o JOIN m ON o.o_orderstatus = m.o_orderstatus
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,

    "histogram_orders" ->
      """SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n_orders,
        |  ROUND(MIN(o_totalprice), 6) AS min_price,
        |  ROUND(MAX(o_totalprice), 6) AS max_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "constraints_orders" ->
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
        |ORDER BY rule""".stripMargin,

    "quantile_bin_orders" ->
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "profile_customer" ->
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
        |ORDER BY column_name""".stripMargin,

    "bpe_merge_docs" ->
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
        |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin,

    "bigram_stats_docs" ->
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
        |ORDER BY c.cnt DESC, c.bg LIMIT 20""".stripMargin,

    "passage_windows_docs" ->
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
        |FROM w ORDER BY doc_id, win_idx""".stripMargin,

    "rank_family_orders" ->
      """WITH r AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
        |    ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
        |    ROUND(CUME_DIST() OVER w, 6) AS cdist
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey))
        |SELECT * FROM r WHERE o_orderkey % 50 = 0
        |ORDER BY o_orderpriority, rnk""".stripMargin,

    "streaming_dedup_events" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "gap_fill_events" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 1000000 // 3600 AS hour, event_type, value
        |  FROM events),
        |b AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM ev),
        |spine AS (SELECT UNNEST(range(h0, h1 + 1)) AS hour FROM b),
        |c AS (
        |  SELECT hour, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY hour)
        |SELECT s.hour, COALESCE(c.n_events, 0) AS n_events,
        |  ROUND(COALESCE(c.sum_value, 0.0), 6) AS sum_value
        |FROM spine s LEFT JOIN c ON s.hour = c.hour
        |ORDER BY s.hour""".stripMargin,

    "funnel_events" ->
      """WITH m AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view'
        |      THEN epoch_us(ts) // 1000000 END) AS t0,
        |    MIN(CASE WHEN event_type = 'click'
        |      THEN epoch_us(ts) // 1000000 END) AS t1,
        |    MIN(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(ts) // 1000000 END) AS t2
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_stage1,
        |  CAST(SUM(CASE WHEN t0 IS NOT NULL AND t0 < t1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stage2,
        |  CAST(SUM(CASE WHEN t0 IS NOT NULL AND t0 < t1 AND t1 < t2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_stage3
        |FROM m""".stripMargin,

    "cohort_retention_events" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 86400 AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
        |SELECT f.cohort_day, d.day - f.cohort_day AS "offset",
        |  COUNT(DISTINCT d.user_id) AS n_users
        |FROM d JOIN f ON d.user_id = f.user_id
        |WHERE d.day - f.cohort_day <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "full_outer_join_events" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 1000000 // 86400 AS day, event_type
        |  FROM events),
        |c AS (SELECT day, COUNT(*) AS n_clicks FROM ev
        |  WHERE event_type = 'click' GROUP BY day),
        |p AS (SELECT day, COUNT(*) AS n_purchases FROM ev
        |  WHERE event_type = 'purchase' GROUP BY day)
        |SELECT COALESCE(c.day, p.day) AS day,
        |  COALESCE(c.n_clicks, 0) AS n_clicks,
        |  COALESCE(p.n_purchases, 0) AS n_purchases
        |FROM c FULL OUTER JOIN p ON c.day = p.day
        |ORDER BY day""".stripMargin,

    "upsert_merge_orders" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 0
        |    THEN o_totalprice + 1000.0 ELSE o_totalprice END
        |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "zorder_stats_orders" ->
      s"""WITH d AS (
        |  SELECT o_custkey % 1024 AS x,
        |    (CAST(EPOCH_US(o_orderdate) AS BIGINT) // 86400000000) % 1024 AS y
        |  FROM orders),
        |z AS (SELECT x, y, $zInterleaveSql AS zv FROM d)
        |SELECT zv >> 16 AS file_id, COUNT(*) AS n_rows,
        |  MIN(x) AS min_x, MAX(x) AS max_x,
        |  MIN(y) AS min_y, MAX(y) AS max_y
        |FROM z GROUP BY file_id ORDER BY file_id""".stripMargin,

    "scd2_orders" ->
      """WITH c AS (
        |  SELECT o_custkey,
        |    CAST(EPOCH_US(o_orderdate) AS BIGINT) // 86400000000 AS day,
        |    o_orderkey, o_orderpriority
        |  FROM orders WHERE o_custkey % 100 = 0),
        |l AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, day
        |    ORDER BY o_orderkey DESC) AS rn
        |  FROM c),
        |v AS (
        |  SELECT o_custkey, day, o_orderpriority,
        |    ROW_NUMBER() OVER w AS version,
        |    LEAD(day) OVER w AS valid_to
        |  FROM l WHERE rn = 1
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY day))
        |SELECT o_custkey, version, day AS valid_from, valid_to,
        |  valid_to IS NULL AS is_current, o_orderpriority
        |FROM v ORDER BY o_custkey, version""".stripMargin,

    "anomaly_zscore_events" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS day_value
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, day_value,
        |    COUNT(day_value) OVER f AS n,
        |    SUM(day_value) OVER f AS s1,
        |    SUM(CAST(CAST(day_value AS DECIMAL(18,2)) *
        |      CAST(day_value AS DECIMAL(18,2)) AS DECIMAL(38,4))) OVER f AS s2
        |  FROM daily
        |  WINDOW f AS (PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |v AS (
        |  SELECT event_type, day, day_value,
        |    CAST(s1 AS DOUBLE) / n AS mean,
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
        |      / (n - 1) AS var
        |  FROM w WHERE n >= 2),
        |z AS (
        |  SELECT *, CASE WHEN var > 0
        |    THEN (CAST(day_value AS DOUBLE) - mean) / SQRT(var) END AS zz
        |  FROM v)
        |SELECT event_type, day, CAST(day_value AS DOUBLE) AS day_value,
        |  ROUND(mean, 6) AS roll_mean, ROUND(zz, 6) AS z,
        |  (zz IS NOT NULL AND ABS(zz) > 2.0) AS is_anomaly
        |FROM z ORDER BY event_type, day""".stripMargin,

    // integer-exact quotas over quantized sqrt weights (sqrt is IEEE
    // correctly rounded -> identical doubles in both engines; everything
    // after the floor is BIGINT arithmetic)
    "temperature_mix_docs" ->
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
        |ORDER BY q.source""".stripMargin,

    "data_card_docs" ->
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
        |FROM tok GROUP BY source ORDER BY source""".stripMargin,

    "domain_mix_docs" ->
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
        |GROUP BY r.source ORDER BY r.source""".stripMargin,

    "weighted_sample_docs" ->
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
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "snapshot_diff_orders" ->
      """WITH a AS (SELECT o_orderkey, o_totalprice FROM orders),
        |b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500.0
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice FROM orders
        |  WHERE o_orderkey % 11 = 0),
        |j AS (
        |  SELECT a.o_orderkey AS ak, b.o_orderkey AS bk,
        |    a.o_totalprice AS oldp, b.o_totalprice AS newp
        |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey),
        |c AS (
        |  SELECT CASE WHEN bk IS NULL THEN 'deleted'
        |    WHEN ak IS NULL THEN 'added'
        |    WHEN oldp IS DISTINCT FROM newp THEN 'changed'
        |    ELSE 'unchanged' END AS status,
        |    ABS(COALESCE(newp, 0.0) - COALESCE(oldp, 0.0)) AS delta
        |  FROM j)
        |SELECT status, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(delta AS DECIMAL(18,2))) AS DOUBLE) AS sum_abs_delta
        |FROM c GROUP BY status ORDER BY status""".stripMargin,

    "sq8_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |e AS (
        |  SELECT CAST(i - 1 AS INT) AS pos, v[i] AS xq
        |  FROM qv, UNNEST(range(1, len(v) + 1)) AS u(i)),
        |r AS (SELECT pos, MIN(xq) AS minq, MAX(xq) AS maxq FROM e GROUP BY pos),
        |c AS (
        |  SELECT e.pos, e.xq, r.minq, r.maxq,
        |    CASE WHEN r.maxq > r.minq
        |      THEN ((e.xq - r.minq) * 255) // (r.maxq - r.minq)
        |      ELSE 0 END AS code
        |  FROM e JOIN r ON e.pos = r.pos),
        |x AS (
        |  SELECT pos, minq, maxq,
        |    CASE WHEN maxq > minq
        |      THEN ABS(510 * (xq - minq) - (2 * code + 1) * (maxq - minq))
        |      ELSE 0 END AS err_num
        |  FROM c)
        |SELECT pos, COUNT(*) AS n, MAX(minq) AS minq, MAX(maxq) AS maxq,
        |  CAST(SUM(err_num) AS BIGINT) AS sum_err_num,
        |  ROUND(CAST(CAST(SUM(err_num) AS BIGINT) AS DOUBLE) /
        |    (CAST(COUNT(*) AS DOUBLE) * CAST(510.0 AS DOUBLE)), 6) AS avg_err
        |FROM x GROUP BY pos ORDER BY pos""".stripMargin,

    "pq_codes_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |subs AS (
        |  SELECT vec_id, CAST(s AS INT) AS sub,
        |    v[(s*16+1):(s*16+16)] AS sv
        |  FROM qv, UNNEST(range(0, 4)) AS t(s)),
        |cents AS (
        |  SELECT vec_id AS cent_id, sub, sv AS cv FROM subs WHERE vec_id < 4),
        |d AS (
        |  SELECT a.vec_id, a.sub, c.cent_id,
        |    (SELECT SUM((a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i]))
        |     FROM UNNEST(range(1, len(a.sv) + 1)) AS u(i)) AS d2
        |  FROM subs a JOIN cents c ON a.sub = c.sub),
        |r AS (
        |  SELECT vec_id, sub, cent_id, d2,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |      ORDER BY d2, cent_id) AS rk
        |  FROM d)
        |SELECT sub, cent_id AS code, COUNT(*) AS n,
        |  ROUND(CAST(CAST(SUM(d2) AS BIGINT) AS DOUBLE) / COUNT(*), 6) AS avg_d2
        |FROM r WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "topn_per_group_docs" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, rn FROM r WHERE rn <= 3
        |ORDER BY lang, rn""".stripMargin,

    "quality_threshold_docs" ->
      """WITH t AS (SELECT quantile_cont(n_chars, 0.75) AS thr FROM documents)
        |SELECT lang, COUNT(*) AS n_kept, MIN(n_chars) AS min_chars
        |FROM documents, t WHERE CAST(n_chars AS DOUBLE) >= thr
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "prompt_pack_customer" ->
      """WITH s AS (
        |  SELECT CAST(c_nationkey % 5 AS BIGINT) AS grp, c_custkey,
        |    'c_name: ' || c_name || ' ^ c_mktsegment: ' || c_mktsegment AS txt
        |  FROM customer),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY c_custkey)
        |    AS rn
        |  FROM s),
        |p AS (
        |  SELECT grp, string_agg(txt, chr(10) || chr(10) ORDER BY c_custkey)
        |    AS prompt
        |  FROM r WHERE rn <= 3 GROUP BY grp),
        |n AS (SELECT grp, COUNT(*) AS n_rows FROM s GROUP BY grp)
        |SELECT p.grp, p.prompt, n.n_rows FROM p JOIN n ON p.grp = n.grp
        |ORDER BY p.grp""".stripMargin,

    "inverted_index_docs" ->
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
        |ORDER BY df DESC, token LIMIT 20""".stripMargin,

    "schema_evolution_docs" ->
      """WITH m AS (
        |  SELECT lang, FALSE AS long_doc, TRUE AS pre_evo
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT lang, n_chars >= 100 AS long_doc, FALSE AS pre_evo
        |  FROM documents WHERE doc_id % 2 <> 0)
        |SELECT lang, long_doc, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN pre_evo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pre_evolution
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q7_volume_shipping" ->
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
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "table_checksum_orders" ->
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(('0x' || substr(md5(
        |    CAST(o_orderkey AS VARCHAR) || '|' ||
        |    COALESCE(CAST(o_custkey AS VARCHAR), '<null>') || '|' ||
        |    COALESCE(o_orderstatus, '<null>') || '|' ||
        |    COALESCE(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |      '<null>') || '|' ||
        |    COALESCE(CAST(CAST(EPOCH_US(o_orderdate) AS BIGINT) // 1000000
        |      AS VARCHAR), '<null>') || '|' ||
        |    COALESCE(o_orderpriority, '<null>')), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS checksum
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q10_returned_items" ->
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
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "sequence_detect_events" ->
      """WITH o AS (
        |  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS sec,
        |    LAG(event_type) OVER w AS prev_type,
        |    LAG(epoch_us(ts) // 1000000) OVER w AS prev_sec
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT sec // 86400 AS day, COUNT(*) AS n_sequences,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM o
        |WHERE event_type = 'purchase' AND prev_type = 'click'
        |  AND sec - prev_sec <= 600
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "attribution_events" ->
      """WITH p AS (
        |  SELECT event_id, user_id, CAST(EPOCH_US(ts) AS BIGINT) AS pts, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, CAST(EPOCH_US(ts) AS BIGINT) AS cts,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 AS campaign
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.value, c.campaign
        |  FROM p ASOF JOIN c ON p.user_id = c.user_id AND c.cts <= p.pts)
        |SELECT campaign AS asof_campaign, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS attributed_revenue
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "streaming_join_events" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS cus FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS pus FROM events
        |  WHERE event_type = 'purchase')
        |SELECT pus // 1000000 // 86400 AS day, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT p.user_id) AS n_users
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.cus BETWEEN p.pus - 3600000000 AND p.pus
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "curation_pipeline_docs" ->
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
        |FROM packed GROUP BY 1 ORDER BY 1""".stripMargin,

    // the ledger replays the pipeline's own CTE chain, emitting the stage
    // attribution instead of the shard stats — every doc exactly one row
    "curation_ledger_docs" -> (curationLedgerCte +
      """
        |SELECT doc_id, stage_idx, stage, reason, n_tokens
        |FROM led ORDER BY doc_id""".stripMargin),

    "curation_ledger_mass_docs" -> (curationLedgerCte +
      """
        |SELECT stage_idx, stage, reason,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM led GROUP BY 1, 2, 3 ORDER BY stage_idx, reason""".stripMargin),

    "domain_upsample_docs" ->
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
        |GROUP BY source ORDER BY source""".stripMargin,

    "bm25_search_docs" ->
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
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // both rankers replay verbatim (BM25 rational-idf top-50, quantized
    // cosine top-50 for query vec 0), then rank -> fuse -> rounded top-20;
    // selection by unrounded score, fusion ranks on the ROUNDED score —
    // both mirrored exactly
    "rrf_hybrid_docs" ->
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
        |  SELECT doc_id, ROUND(
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
        |  FROM s),
        |lex AS (SELECT doc_id, score FROM sc WHERE score > 0
        |  ORDER BY score DESC, doc_id LIMIT 50),
        |lexr AS (SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS r
        |  FROM lex),
        |qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |vp AS (
        |  SELECT c.vec_id AS doc_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id = 0),
        |vec0 AS (SELECT doc_id, ROUND(cs, 6) AS score FROM vp
        |  ORDER BY cs DESC, doc_id LIMIT 50),
        |vecr AS (SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS r
        |  FROM vec0),
        |u AS (SELECT doc_id, 'lex' AS l, r FROM lexr
        |  UNION ALL SELECT doc_id, 'vec', r FROM vecr),
        |f AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
        |    MAX(CASE WHEN l = 'lex' THEN r END) AS rank_lex,
        |    MAX(CASE WHEN l = 'vec' THEN r END) AS rank_vec
        |  FROM u GROUP BY doc_id),
        |f2 AS (
        |  SELECT doc_id, n_lists, rank_lex, rank_vec,
        |    ROUND(COALESCE(1.0 / (60.0 + CAST(rank_lex AS DOUBLE)), 0.0)
        |      + COALESCE(1.0 / (60.0 + CAST(rank_vec AS DOUBLE)), 0.0), 6)
        |      AS rrf
        |  FROM f),
        |top AS (SELECT * FROM f2 ORDER BY rrf DESC, doc_id LIMIT 20)
        |SELECT doc_id, n_lists, rank_lex, rank_vec, rrf,
        |  CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rk
        |FROM top ORDER BY rk""".stripMargin,

    // same recursive predicted partition as bcubed; ARI's pair counts
    // fold exactly on the contingency, the final ratio in doubles
    "ari_docs" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
        |cl AS (SELECT a AS doc_id, MIN(b) AS p FROM reach GROUP BY a),
        |j AS (SELECT cl.doc_id, cl.p, d.text AS gl
        |  FROM cl JOIN documents d USING (doc_id)),
        |cells AS (SELECT p, gl, CAST(COUNT(*) AS HUGEINT) AS n
        |  FROM j GROUP BY 1, 2),
        |sij AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_items,
        |    SUM(n * (n - 1) // 2) AS sij
        |  FROM cells),
        |sa AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pred_clusters,
        |    SUM(a * (a - 1) // 2) AS sa
        |  FROM (SELECT p, SUM(n) AS a FROM cells GROUP BY p)),
        |sb AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_gold_classes,
        |    SUM(b * (b - 1) // 2) AS sb
        |  FROM (SELECT gl, SUM(n) AS b FROM cells GROUP BY gl)),
        |f AS (
        |  SELECT n_items, n_pred_clusters, n_gold_classes, sij, sa, sb,
        |    CAST(n_items AS HUGEINT) * (n_items - 1) // 2 AS t
        |  FROM sij, sa, sb)
        |SELECT n_items, n_pred_clusters, n_gold_classes,
        |  CAST(sij AS VARCHAR) AS s_pairs_both,
        |  CAST(sa AS VARCHAR) AS s_pairs_pred,
        |  CAST(sb AS VARCHAR) AS s_pairs_gold,
        |  CASE WHEN CAST(t AS DOUBLE) * (CAST(sa AS DOUBLE)
        |      + CAST(sb AS DOUBLE))
        |      - 2.0 * CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) <> 0.0 THEN
        |    ROUND((2.0 * CAST(t AS DOUBLE) * CAST(sij AS DOUBLE)
        |      - 2.0 * CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |      / (CAST(t AS DOUBLE) * (CAST(sa AS DOUBLE)
        |        + CAST(sb AS DOUBLE))
        |        - 2.0 * CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)), 6)
        |  END AS ari
        |FROM f""".stripMargin,

    // the predicted partition replays as the dup_clusters recursive
    // reachability; gold = byte-identical text; B-cubed folds on the
    // (pred, gold) contingency dictionary
    "bcubed_docs" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
        |cl AS (SELECT a AS doc_id, MIN(b) AS p FROM reach GROUP BY a),
        |j AS (SELECT cl.doc_id, cl.p, d.text AS gl
        |  FROM cl JOIN documents d USING (doc_id)),
        |cells AS (SELECT p, gl, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM j GROUP BY 1, 2),
        |ps AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pred_clusters,
        |    CAST(SUM(np) AS BIGINT) AS n_items,
        |    SUM(CAST(sp AS DOUBLE) / CAST(np AS DOUBLE)) AS psum
        |  FROM (SELECT p, SUM(n) AS np, SUM(CAST(n AS HUGEINT) * n) AS sp
        |    FROM cells GROUP BY p)),
        |gs AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_gold_classes,
        |    SUM(CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)) AS rsum
        |  FROM (SELECT gl, SUM(n) AS ng, SUM(CAST(n AS HUGEINT) * n) AS sg
        |    FROM cells GROUP BY gl))
        |SELECT n_items, n_pred_clusters, n_gold_classes,
        |  ROUND(psum / CAST(n_items AS DOUBLE), 6) AS "precision",
        |  ROUND(rsum / CAST(n_items AS DOUBLE), 6) AS recall,
        |  CASE WHEN psum / CAST(n_items AS DOUBLE)
        |      + rsum / CAST(n_items AS DOUBLE) > 0 THEN
        |    ROUND(2.0 * (psum / CAST(n_items AS DOUBLE))
        |      * (rsum / CAST(n_items AS DOUBLE))
        |      / (psum / CAST(n_items AS DOUBLE)
        |        + rsum / CAST(n_items AS DOUBLE)), 6)
        |  END AS f1
        |FROM ps, gs""".stripMargin,

    // passage windows (size 8, stride 4) then the same BM25 form at passage
    // grain — corpus stats computed over passages, like a passage index
    "rag_retrieve_docs" ->
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
        |ORDER BY score DESC, doc_id, win_idx LIMIT 15""".stripMargin,

    // same 60-bit md5 token hash simhash uses; bucket→weight is the Knuth
    // multiplicative mix onto [-1000, 1000] — all BIGINT math in both engines
    "classifier_score_docs" ->
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
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q4_priority_count" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-04-01'
        |  AND o_orderdate < TIMESTAMP '1995-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q11_part_concentration" ->
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
        |ORDER BY l_partkey""".stripMargin,

    "q14_promo_revenue" ->
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
        |  AND l_shipdate < TIMESTAMP '1995-10-01'""".stripMargin,

    "q15_top_supplier" ->
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
        |ORDER BY s_suppkey""".stripMargin,

    "q17_small_qty_revenue" ->
      """WITH pa AS (
        |  SELECT l_partkey AS pk, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |    COUNT(*) AS n_li
        |  FROM lineitem GROUP BY 1)
        |SELECT COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM lineitem JOIN pa ON l_partkey = pk
        |WHERE CAST(l_quantity AS BIGINT) * n_li * 2 < sum_qty""".stripMargin,

    "q19_disjunctive_revenue" ->
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
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q22_dormant_customers" ->
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
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q2_min_cost_supplier" ->
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
        |ORDER BY p_partkey""".stripMargin,

    "q8_market_share" ->
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
        |FROM a ORDER BY o_year""".stripMargin,

    "q9_product_profit" ->
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q12_late_shipment_priority" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q13_customer_distribution" ->
      """WITH pc AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        |  WHERE o_orderpriority <> '5-LOW' GROUP BY 1),
        |cc AS (
        |  SELECT COALESCE(n_orders, 0) AS c_count
        |  FROM customer LEFT JOIN pc ON c_custkey = o_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM cc GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q16_supplier_part_types" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size <= 9
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q20_promotion_suppliers" ->
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
        |ORDER BY s_suppkey""".stripMargin,

    "q21_waiting_suppliers" ->
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
        |ORDER BY numwait DESC, s_suppkey""".stripMargin,

    "pagerank_trade_orders" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS sk, o_custkey + 10000000 AS ck
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT sk AS src, ck AS dst FROM pairs
        |  UNION ALL SELECT ck AS src, sk AS dst FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        |s0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes),
        |i1 AS (
        |  SELECT n.node, CAST(150000 +
        |    (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS score
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, CAST(s.score // d.outdeg AS BIGINT) AS contrib
        |    FROM edges e JOIN s0 s ON e.src = s.node
        |    JOIN deg d ON e.src = d.src) c ON c.dst = n.node
        |  GROUP BY 1),
        |i2 AS (
        |  SELECT n.node, CAST(150000 +
        |    (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS score
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, CAST(s.score // d.outdeg AS BIGINT) AS contrib
        |    FROM edges e JOIN i1 s ON e.src = s.node
        |    JOIN deg d ON e.src = d.src) c ON c.dst = n.node
        |  GROUP BY 1),
        |i3 AS (
        |  SELECT n.node, CAST(150000 +
        |    (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS score
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, CAST(s.score // d.outdeg AS BIGINT) AS contrib
        |    FROM edges e JOIN i2 s ON e.src = s.node
        |    JOIN deg d ON e.src = d.src) c ON c.dst = n.node
        |  GROUP BY 1)
        |SELECT CASE WHEN node >= 10000000 THEN 'customer'
        |    ELSE 'supplier' END AS node_type,
        |  CAST(CASE WHEN node >= 10000000 THEN node - 10000000
        |    ELSE node END AS BIGINT) AS node_id,
        |  score AS score_micro
        |FROM i3
        |ORDER BY score_micro DESC, node_type, node_id""".stripMargin,

    "bfs_hops_orders" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT l_suppkey AS sk, o_custkey + 10000000 AS ck
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT sk AS src, ck AS dst FROM pairs
        |  UNION ALL SELECT ck AS src, sk AS dst FROM pairs),
        |walk(node, hop) AS (
        |  SELECT DISTINCT sk AS node, 0 AS hop FROM pairs WHERE sk % 50 = 0
        |  UNION
        |  SELECT e.dst AS node, w.hop + 1 AS hop
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.hop < 4)
        |SELECT CASE WHEN node >= 10000000 THEN 'customer'
        |    ELSE 'supplier' END AS node_type,
        |  CAST(CASE WHEN node >= 10000000 THEN node - 10000000
        |    ELSE node END AS BIGINT) AS node_id,
        |  CAST(MIN(hop) AS BIGINT) AS hops
        |FROM walk
        |GROUP BY 1, 2
        |ORDER BY node_type, node_id""".stripMargin,

    "modularity_trade_orders" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS sk, o_custkey + 10000000 AS ck
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT sk AS src, ck AS dst FROM pairs
        |  UNION ALL SELECT ck AS src, sk AS dst FROM pairs),
        |comm AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS node,
        |    CAST(s_nationkey AS BIGINT) AS community FROM supplier
        |  UNION ALL
        |  SELECT CAST(c_custkey + 10000000 AS BIGINT) AS node,
        |    CAST(c_nationkey AS BIGINT) AS community FROM customer),
        |e AS (
        |  SELECT cs.community AS cs, cd.community AS cd
        |  FROM edges
        |  JOIN comm cs ON cs.node = edges.src
        |  JOIN comm cd ON cd.node = edges.dst),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS te FROM e),
        |inc AS (
        |  SELECT cs AS community, COUNT(*) AS in_edges FROM e
        |  WHERE cs = cd GROUP BY 1),
        |degc AS (SELECT cs AS community, COUNT(*) AS deg_sum FROM e GROUP BY 1),
        |nc AS (SELECT community, COUNT(*) AS n_nodes FROM comm GROUP BY 1)
        |SELECT nc.community, nc.n_nodes,
        |  CAST(COALESCE(inc.in_edges, 0) AS BIGINT) AS in_edges,
        |  CAST(COALESCE(degc.deg_sum, 0) AS BIGINT) AS deg_sum,
        |  ROUND(COALESCE(inc.in_edges, 0) / tot.te
        |    - (COALESCE(degc.deg_sum, 0) / tot.te)
        |      * (COALESCE(degc.deg_sum, 0) / tot.te), 6) AS q_contrib
        |FROM nc
        |LEFT JOIN degc ON degc.community = nc.community
        |LEFT JOIN inc ON inc.community = nc.community, tot
        |ORDER BY nc.community""".stripMargin,

    // LPA replay: 3 rounds unrolled exactly (the pagerank convention) —
    // per round a (dst, label) count, mode pick by (count desc, label),
    // message-less nodes keep their label.
    "lpa_communities_orders" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS sk, o_custkey + 10000000 AS ck
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT sk AS src, ck AS dst FROM pairs
        |  UNION ALL SELECT ck AS src, sk AS dst FROM pairs),
        |n AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges
        |    UNION ALL SELECT dst AS node FROM edges)),
        |l0 AS (SELECT node, CAST(node AS BIGINT) AS label FROM n),
        |m1 AS (
        |  SELECT e.dst AS node, l.label, COUNT(*) AS c
        |  FROM edges e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
        |p1 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      ROW_NUMBER() OVER (PARTITION BY node
        |        ORDER BY c DESC, label) AS rk
        |    FROM m1) WHERE rk = 1),
        |l1 AS (
        |  SELECT l0.node, COALESCE(p1.label, l0.label) AS label
        |  FROM l0 LEFT JOIN p1 USING (node)),
        |m2 AS (
        |  SELECT e.dst AS node, l.label, COUNT(*) AS c
        |  FROM edges e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
        |p2 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      ROW_NUMBER() OVER (PARTITION BY node
        |        ORDER BY c DESC, label) AS rk
        |    FROM m2) WHERE rk = 1),
        |l2 AS (
        |  SELECT l1.node, COALESCE(p2.label, l1.label) AS label
        |  FROM l1 LEFT JOIN p2 USING (node)),
        |m3 AS (
        |  SELECT e.dst AS node, l.label, COUNT(*) AS c
        |  FROM edges e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
        |p3 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      ROW_NUMBER() OVER (PARTITION BY node
        |        ORDER BY c DESC, label) AS rk
        |    FROM m3) WHERE rk = 1),
        |l3 AS (
        |  SELECT l2.node, COALESCE(p3.label, l2.label) AS label
        |  FROM l2 LEFT JOIN p3 USING (node))
        |SELECT node, label FROM l3 ORDER BY node""".stripMargin,

    // Fellegi-Sunter replay: SNM candidates (rank-distance self-join),
    // conditional-sum stats, smoothed m/u ratios, the same fixed-shape
    // div-div-div-ln per field; decision on the UNROUNDED sum.
    "em_fs_part" ->
      """WITH p AS (
        |  SELECT p_partkey AS id, lower(p_name) AS k, p_brand, p_type,
        |    p_size,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |r AS (
        |  SELECT id, p_brand, p_type, p_size, toks,
        |    ROW_NUMBER() OVER (ORDER BY k, id) AS rn
        |  FROM p),
        |pr AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    a.p_brand = b.p_brand AS brand_eq,
        |    abs(a.p_size - b.p_size) <= 1 AS size_close,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
        |      AS name_sim,
        |    a.p_type = b.p_type AS gold
        |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 7),
        |st AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN gold THEN 1 ELSE 0 END) AS BIGINT) AS nm,
        |    CAST(SUM(CASE WHEN NOT gold THEN 1 ELSE 0 END) AS BIGINT) AS nu,
        |    CAST(SUM(CASE WHEN gold AND brand_eq THEN 1 ELSE 0 END) AS BIGINT) AS am1,
        |    CAST(SUM(CASE WHEN NOT gold AND brand_eq THEN 1 ELSE 0 END) AS BIGINT) AS au1,
        |    CAST(SUM(CASE WHEN gold AND size_close THEN 1 ELSE 0 END) AS BIGINT) AS am2,
        |    CAST(SUM(CASE WHEN NOT gold AND size_close THEN 1 ELSE 0 END) AS BIGINT) AS au2,
        |    CAST(SUM(CASE WHEN gold AND name_sim THEN 1 ELSE 0 END) AS BIGINT) AS am3,
        |    CAST(SUM(CASE WHEN NOT gold AND name_sim THEN 1 ELSE 0 END) AS BIGINT) AS au3
        |  FROM pr),
        |sc AS (
        |  SELECT pr.*,
        |    (CASE WHEN brand_eq
        |       THEN ln((CAST(am1 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(au1 + 1 AS DOUBLE) / (nu + 2)))
        |       ELSE ln((CAST(nm - am1 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(nu - au1 + 1 AS DOUBLE) / (nu + 2))) END
        |     + CASE WHEN size_close
        |       THEN ln((CAST(am2 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(au2 + 1 AS DOUBLE) / (nu + 2)))
        |       ELSE ln((CAST(nm - am2 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(nu - au2 + 1 AS DOUBLE) / (nu + 2))) END
        |     + CASE WHEN name_sim
        |       THEN ln((CAST(am3 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(au3 + 1 AS DOUBLE) / (nu + 2)))
        |       ELSE ln((CAST(nm - am3 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(nu - au3 + 1 AS DOUBLE) / (nu + 2))) END)
        |      AS s
        |  FROM pr, st)
        |SELECT id_a, id_b, brand_eq, size_close, name_sim, gold,
        |  ROUND(s, 6) AS score, s > 0 AS decision
        |FROM sc ORDER BY id_a, id_b""".stripMargin,

    "em_fs_weights_part" ->
      """WITH p AS (
        |  SELECT p_partkey AS id, lower(p_name) AS k, p_brand, p_type,
        |    p_size,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |r AS (
        |  SELECT id, p_brand, p_type, p_size, toks,
        |    ROW_NUMBER() OVER (ORDER BY k, id) AS rn
        |  FROM p),
        |pr AS (
        |  SELECT a.p_brand = b.p_brand AS brand_eq,
        |    abs(a.p_size - b.p_size) <= 1 AS size_close,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
        |      AS name_sim,
        |    a.p_type = b.p_type AS gold
        |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 7),
        |st AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN gold THEN 1 ELSE 0 END) AS BIGINT) AS nm,
        |    CAST(SUM(CASE WHEN NOT gold THEN 1 ELSE 0 END) AS BIGINT) AS nu,
        |    CAST(SUM(CASE WHEN gold AND brand_eq THEN 1 ELSE 0 END) AS BIGINT) AS am1,
        |    CAST(SUM(CASE WHEN NOT gold AND brand_eq THEN 1 ELSE 0 END) AS BIGINT) AS au1,
        |    CAST(SUM(CASE WHEN gold AND size_close THEN 1 ELSE 0 END) AS BIGINT) AS am2,
        |    CAST(SUM(CASE WHEN NOT gold AND size_close THEN 1 ELSE 0 END) AS BIGINT) AS au2,
        |    CAST(SUM(CASE WHEN gold AND name_sim THEN 1 ELSE 0 END) AS BIGINT) AS am3,
        |    CAST(SUM(CASE WHEN NOT gold AND name_sim THEN 1 ELSE 0 END) AS BIGINT) AS au3
        |  FROM pr)
        |SELECT * FROM (
        |  SELECT 'brand_eq' AS field, nm AS n_match, nu AS n_unmatch,
        |    am1 AS agree_match, au1 AS agree_unmatch,
        |    ROUND(CAST(am1 + 1 AS DOUBLE) / (nm + 2), 6) AS m,
        |    ROUND(CAST(au1 + 1 AS DOUBLE) / (nu + 2), 6) AS u,
        |    ROUND(ln((CAST(am1 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(au1 + 1 AS DOUBLE) / (nu + 2))), 6) AS w_agree,
        |    ROUND(ln((CAST(nm - am1 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(nu - au1 + 1 AS DOUBLE) / (nu + 2))), 6) AS w_disagree
        |  FROM st
        |  UNION ALL
        |  SELECT 'size_close', nm, nu, am2, au2,
        |    ROUND(CAST(am2 + 1 AS DOUBLE) / (nm + 2), 6),
        |    ROUND(CAST(au2 + 1 AS DOUBLE) / (nu + 2), 6),
        |    ROUND(ln((CAST(am2 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(au2 + 1 AS DOUBLE) / (nu + 2))), 6),
        |    ROUND(ln((CAST(nm - am2 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(nu - au2 + 1 AS DOUBLE) / (nu + 2))), 6)
        |  FROM st
        |  UNION ALL
        |  SELECT 'name_sim', nm, nu, am3, au3,
        |    ROUND(CAST(am3 + 1 AS DOUBLE) / (nm + 2), 6),
        |    ROUND(CAST(au3 + 1 AS DOUBLE) / (nu + 2), 6),
        |    ROUND(ln((CAST(am3 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(au3 + 1 AS DOUBLE) / (nu + 2))), 6),
        |    ROUND(ln((CAST(nm - am3 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(nu - au3 + 1 AS DOUBLE) / (nu + 2))), 6)
        |  FROM st)
        |ORDER BY field""".stripMargin,

    // SNM replay: the rank is a plain ROW_NUMBER over (key, id) — the
    // bucket join is pure plumbing, so the oracle states the semantics
    // directly as a rank-distance self-join.
    "em_snm_part" ->
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
        |FROM pairs ORDER BY id_a, id_b""".stripMargin,

    // FlashText replay: phrase_search_docs' anchor algebra generalized to
    // a dictionary relation — slot-index join, count-distinct gate.
    "keyword_tags_docs" ->
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
        |GROUP BY doc_id, phrase ORDER BY doc_id, phrase""".stripMargin,

    // g3 replay: per-(lhs,rhs) counts, per-lhs sum+max, one fold per FD —
    // NULL grouped as an ordinary value (SQL GROUP BY semantics).
    "fd_violations_orders" ->
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
        |SELECT * FROM f ORDER BY fd""".stripMargin,

    // Margin replay: exact micro-long cosine, top-4 neighborhoods per
    // side, ratio margin, argmax per source — every number integer
    // algebra until the final rounded divisions.
    "bitext_margin_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |pairs AS (
        |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
        |    CAST(round(CAST(list_dot_product(s.v, t.v) AS DOUBLE)
        |      / sqrt(CAST(list_dot_product(s.v, s.v) AS DOUBLE)
        |             * CAST(list_dot_product(t.v, t.v) AS DOUBLE))
        |      * 1e6) AS BIGINT) AS c
        |  FROM qv s JOIN qv t
        |    ON s.vec_id % 2 = 0 AND t.vec_id % 2 = 1),
        |sa AS (
        |  SELECT src_id, CAST(SUM(c) AS BIGINT) AS s_a,
        |    CAST(COUNT(*) AS BIGINT) AS n_a FROM (
        |    SELECT src_id, c, ROW_NUMBER() OVER (PARTITION BY src_id
        |      ORDER BY c DESC, tgt_id) AS rk FROM pairs)
        |  WHERE rk <= 4 GROUP BY src_id),
        |sb AS (
        |  SELECT tgt_id, CAST(SUM(c) AS BIGINT) AS s_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_b FROM (
        |    SELECT tgt_id, c, ROW_NUMBER() OVER (PARTITION BY tgt_id
        |      ORDER BY c DESC, src_id) AS rk FROM pairs)
        |  WHERE rk <= 4 GROUP BY tgt_id),
        |scored AS (
        |  SELECT p.src_id, p.tgt_id, p.c,
        |    CASE WHEN sa.s_a * sb.n_b + sb.s_b * sa.n_a > 0
        |      THEN ROUND(2.0 * p.c * sa.n_a * sb.n_b
        |        / CAST(sa.s_a * sb.n_b + sb.s_b * sa.n_a AS DOUBLE), 6)
        |    END AS margin
        |  FROM pairs p
        |  JOIN sa ON sa.src_id = p.src_id
        |  JOIN sb ON sb.tgt_id = p.tgt_id),
        |best AS (
        |  SELECT src_id, tgt_id, c, margin,
        |    ROW_NUMBER() OVER (PARTITION BY src_id
        |      ORDER BY margin DESC NULLS LAST, tgt_id) AS b
        |  FROM scored)
        |SELECT src_id, tgt_id, ROUND(CAST(c AS DOUBLE) / 1e6, 6) AS cos_sim,
        |  margin
        |FROM best WHERE b = 1 ORDER BY src_id""".stripMargin,

    // IVF bitext replay: shared-centroid assignment (ivf_topk's shape),
    // cell equi-join candidates, then the same margin algebra as the
    // brute oracle above — margins computed within the candidate set.
    "bitext_margin_ivf_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS centroid_id, v AS centv FROM qv
        |  WHERE vec_id % 2 = 1 AND vec_id % 50 = 1),
        |sass AS (
        |  SELECT vec_id AS src_id, centroid_id, v FROM (
        |    SELECT q.vec_id, c.centroid_id, q.v,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        CAST(list_dot_product(q.v, c.centv) AS DOUBLE)
        |          / sqrt(CAST(list_dot_product(q.v, q.v) AS DOUBLE)
        |                 * CAST(list_dot_product(c.centv, c.centv) AS DOUBLE))
        |          DESC, c.centroid_id) AS crk
        |    FROM qv q CROSS JOIN cents c WHERE q.vec_id % 2 = 0)
        |  WHERE crk <= 3),
        |tass AS (
        |  SELECT vec_id AS tgt_id, centroid_id, v FROM (
        |    SELECT q.vec_id, c.centroid_id, q.v,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        CAST(list_dot_product(q.v, c.centv) AS DOUBLE)
        |          / sqrt(CAST(list_dot_product(q.v, q.v) AS DOUBLE)
        |                 * CAST(list_dot_product(c.centv, c.centv) AS DOUBLE))
        |          DESC, c.centroid_id) AS crk
        |    FROM qv q CROSS JOIN cents c WHERE q.vec_id % 2 = 1)
        |  WHERE crk = 1),
        |pairs AS (
        |  SELECT s.src_id, t.tgt_id, s.centroid_id,
        |    CAST(round(CAST(list_dot_product(s.v, t.v) AS DOUBLE)
        |      / sqrt(CAST(list_dot_product(s.v, s.v) AS DOUBLE)
        |             * CAST(list_dot_product(t.v, t.v) AS DOUBLE))
        |      * 1e6) AS BIGINT) AS c
        |  FROM sass s JOIN tass t ON s.centroid_id = t.centroid_id),
        |sa AS (
        |  SELECT src_id, CAST(SUM(c) AS BIGINT) AS s_a,
        |    CAST(COUNT(*) AS BIGINT) AS n_a FROM (
        |    SELECT src_id, c, ROW_NUMBER() OVER (PARTITION BY src_id
        |      ORDER BY c DESC, tgt_id) AS rk FROM pairs)
        |  WHERE rk <= 4 GROUP BY src_id),
        |sb AS (
        |  SELECT tgt_id, CAST(SUM(c) AS BIGINT) AS s_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_b FROM (
        |    SELECT tgt_id, c, ROW_NUMBER() OVER (PARTITION BY tgt_id
        |      ORDER BY c DESC, src_id) AS rk FROM pairs)
        |  WHERE rk <= 4 GROUP BY tgt_id),
        |scored AS (
        |  SELECT p.src_id, p.centroid_id, p.tgt_id, p.c,
        |    CASE WHEN sa.s_a * sb.n_b + sb.s_b * sa.n_a > 0
        |      THEN ROUND(2.0 * p.c * sa.n_a * sb.n_b
        |        / CAST(sa.s_a * sb.n_b + sb.s_b * sa.n_a AS DOUBLE), 6)
        |    END AS margin
        |  FROM pairs p
        |  JOIN sa ON sa.src_id = p.src_id
        |  JOIN sb ON sb.tgt_id = p.tgt_id),
        |best AS (
        |  SELECT src_id, centroid_id, tgt_id, c, margin,
        |    ROW_NUMBER() OVER (PARTITION BY src_id
        |      ORDER BY margin DESC NULLS LAST, tgt_id) AS b
        |  FROM scored)
        |SELECT src_id, centroid_id, tgt_id,
        |  ROUND(CAST(c AS DOUBLE) / 1e6, 6) AS cos_sim, margin
        |FROM best WHERE b = 1 ORDER BY src_id""".stripMargin,

    "triangle_count_lineitem" ->
      """WITH hi AS (
        |  SELECT l_orderkey AS k, l_partkey AS p FROM lineitem
        |  WHERE l_quantity >= 35.0),
        |und AS (
        |  SELECT DISTINCT least(a.p, b.p) AS a, greatest(a.p, b.p) AS b
        |  FROM hi a JOIN hi b ON a.k = b.k AND a.p <> b.p),
        |deg AS (
        |  SELECT node, COUNT(*) AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und) u
        |  GROUP BY node),
        |o AS (
        |  SELECT
        |    CASE WHEN (da.deg, und.a) < (db.deg, und.b)
        |      THEN und.a ELSE und.b END AS lo,
        |    CASE WHEN (da.deg, und.a) < (db.deg, und.b)
        |      THEN und.b ELSE und.a END AS hi,
        |    CASE WHEN (da.deg, und.a) < (db.deg, und.b)
        |      THEN db.deg ELSE da.deg END AS dhi
        |  FROM und
        |  JOIN deg da ON da.node = und.a
        |  JOIN deg db ON db.node = und.b),
        |wed AS (
        |  SELECT e1.hi AS v, e2.hi AS w
        |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo
        |  WHERE (e1.dhi, e1.hi) < (e2.dhi, e2.hi)),
        |tri AS (
        |  SELECT COUNT(*) AS n_triangles FROM wed
        |  WHERE EXISTS (SELECT 1 FROM o WHERE o.lo = wed.v AND o.hi = wed.w)),
        |wt AS (
        |  SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM deg)
        |SELECT
        |  (SELECT COUNT(*) FROM deg) AS n_nodes,
        |  (SELECT COUNT(*) FROM und) AS n_edges,
        |  wt.n_wedges,
        |  tri.n_triangles,
        |  ROUND(tri.n_triangles * 3.0 / wt.n_wedges, 6) AS clustering
        |FROM wt, tri""".stripMargin,

    "streaming_enrich_events" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "substring_dup_docs" ->
      """WITH w AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(('0x' || substring(md5(substr(text, CAST(i AS INT), 48)),
        |      1, 15)) AS BIGINT) AS h
        |  FROM documents,
        |    UNNEST(range(1, GREATEST(len(text) - 47, 1) + 1)) AS u(i)
        |  WHERE i = 1 OR substr(text, CAST(i - 1 AS INT), 1) = ' '),
        |keep AS (
        |  SELECT h FROM w GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 100)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |FROM w a
        |JOIN keep ON keep.h = a.h
        |JOIN w b ON b.h = a.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "perplexity_buckets_docs" ->
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "unigram_logprob_docs" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM freq)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(AVG(ln(CAST(tf AS DOUBLE) / total)), 6) AS avg_logprob
        |FROM tok JOIN freq USING (token) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Benford replay: exact string digit extraction, the same ln-ratio
    // expectation expression verbatim, chi-square contributions on the
    // unrounded expectation.
    "benford_orders" ->
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
        |FROM sc ORDER BY 1, 2""".stripMargin,

    // CLIP-align replay: the bitext micro-long cosine convention — exact
    // integer dots on round(x*1000) vectors, one double division, one
    // round to micro — so the threshold decision cannot flap
    "clip_align_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |t AS (SELECT vec_id // 2 AS pair_id, v FROM qv WHERE vec_id % 2 = 0),
        |i AS (SELECT vec_id // 2 AS pair_id, v FROM qv WHERE vec_id % 2 = 1),
        |sc AS (
        |  SELECT t.pair_id,
        |    CAST(round(CAST(list_dot_product(t.v, i.v) AS DOUBLE)
        |      / sqrt(CAST(list_dot_product(t.v, t.v) AS DOUBLE)
        |             * CAST(list_dot_product(i.v, i.v) AS DOUBLE))
        |      * 1e6) AS BIGINT) AS cos_micro
        |  FROM t JOIN i USING (pair_id))
        |SELECT pair_id, cos_micro, cos_micro >= 280000 AS aligned
        |FROM sc ORDER BY pair_id""".stripMargin,

    // MAD replay: the exactPercentiles rank convention — type-1 order
    // statistic at rank (n·500000 + 999999) div 1e6 = ceil(n/2) — for
    // both medians; all comparisons exact longs.
    "mad_outliers_events" ->
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
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // cell contributions are ONE fixed-order double expression mirrored
    // verbatim from the Scala side, summed exactly as DECIMAL(38,12) —
    // partial-agg order cannot move the 6th decimal
    "assoc_panel_orders" ->
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
        |FROM terms ORDER BY pair""".stripMargin,

    // kappa cross-multiplies to exact integers: (diag·n − S)/(n² − S)
    "cohens_kappa_events" ->
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
        |FROM f ORDER BY event_type""".stripMargin,

    // the md5 class/sensitive fingerprints are internal — the oracle
    // groups raw tuples (GROUP BY is null-safe in both engines)
    "l_diversity_customer" ->
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
        |FROM panel, tot ORDER BY l""".stripMargin,

    // DLT priorities replayed as exact integers (w·2^32 // (md5 draw + 1)),
    // global rank, τ from row k+1, HUGEINT contribution sums
    "priority_sample_orders" ->
      """WITH base AS (
        |  SELECT o_orderkey AS id,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |pr AS (
        |  SELECT id, w,
        |    (w * 4294967296) //
        |      (CAST(('0x' || substr(md5('ps:' || CAST(id AS VARCHAR)),
        |        1, 8)) AS BIGINT) + 1) AS p
        |  FROM base),
        |top AS (
        |  SELECT id, w, p, ROW_NUMBER() OVER (ORDER BY p DESC, id) AS rk
        |  FROM pr),
        |tau AS (SELECT COALESCE(MAX(CASE WHEN rk = 501 THEN p END), 0)
        |  AS tau FROM top),
        |ex AS (SELECT CAST(SUM(CAST(w AS HUGEINT)) AS HUGEINT) AS exact
        |  FROM base),
        |sel AS (
        |  SELECT t.rk, t.id, t.w, t.p,
        |    GREATEST(CAST(t.w AS HUGEINT), CAST(tau AS HUGEINT)) AS c
        |  FROM top t, tau WHERE t.rk <= 500),
        |es AS (SELECT CAST(SUM(c) AS HUGEINT) AS estn FROM sel)
        |SELECT s.rk AS sel_rank, s.id AS o_orderkey, s.w AS weight,
        |  s.p AS priority,
        |  CAST(s.c AS VARCHAR) AS contrib,
        |  CAST(es.estn AS VARCHAR) AS est_total,
        |  CAST(ex.exact AS BIGINT) AS exact_total,
        |  CAST((es.estn - ex.exact) * 1000000 // ex.exact AS BIGINT)
        |    AS rel_err_micro
        |FROM sel s, es, ex
        |ORDER BY sel_rank""".stripMargin,

    // the aggregator holds the TRUE bottom-k (no threshold cut), so the
    // replay ranks over all draws directly; everything else is the batch
    // sample-quantile replay verbatim
    "streaming_sample_quantiles_lineitem" ->
      """WITH base AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_orderkey AS VARCHAR) || '-' ||
        |      CAST(l_linenumber AS VARCHAR) AS id,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v
        |  FROM lineitem),
        |cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1),
        |drawn AS (
        |  SELECT g, id, v,
        |    CAST(('0x' || substr(md5('sq:' || id), 1, 8)) AS BIGINT)
        |      AS draw
        |  FROM base),
        |samp AS (
        |  SELECT g, v FROM (
        |    SELECT g, v,
        |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY draw, id) AS rn
        |    FROM drawn) WHERE rn <= 1000),
        |vc AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM samp GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, v, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS ks
        |  FROM vc),
        |est AS (
        |  SELECT g, u.qm, v AS est FROM cum,
        |    UNNEST([250000, 500000, 900000]) AS u(qm)
        |  WHERE (ks * u.qm + 999999) // 1000000 > cum - c
        |    AND (ks * u.qm + 999999) // 1000000 <= cum),
        |tr AS (
        |  SELECT b.g, e.qm, MAX(e.est) AS est,
        |    CAST(SUM(CASE WHEN b.v <= e.est THEN 1 ELSE 0 END) AS BIGINT)
        |      AS true_rank
        |  FROM base b JOIN est e ON b.g = e.g
        |  GROUP BY 1, 2),
        |ks2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS k_sample
        |  FROM samp GROUP BY 1)
        |SELECT t.g AS l_returnflag,
        |  ROUND(CAST(t.qm AS DOUBLE) / 1e6, 6) AS q,
        |  c.n, k.k_sample, t.est AS est_value,
        |  (c.n * t.qm + 999999) // 1000000 AS target_rank,
        |  t.true_rank,
        |  CAST((t.true_rank - (c.n * t.qm + 999999) // 1000000) * 1000000
        |    // c.n AS BIGINT) AS rank_err_micro,
        |  abs(t.true_rank - (c.n * t.qm + 999999) // 1000000) * 1000000
        |    <= 50000 * c.n AS within_bound
        |FROM tr t JOIN cnt c USING (g) JOIN ks2 k USING (g)
        |ORDER BY l_returnflag, q""".stripMargin,

    // md5 bottom-k sample + type-1 sample quantiles + exact rank grade,
    // all replayed: the draw is the md5PrefixLong convention, the cut and
    // every rank is integer arithmetic
    "sample_quantiles_lineitem" ->
      """WITH base AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_orderkey AS VARCHAR) || '-' ||
        |      CAST(l_linenumber AS VARCHAR) AS id,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v
        |  FROM lineitem),
        |cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1),
        |drawn AS (
        |  SELECT b.g, b.id, b.v, c.n,
        |    CAST(('0x' || substr(md5('sq:' || b.id), 1, 8)) AS BIGINT)
        |      AS draw
        |  FROM base b JOIN cnt c USING (g)),
        |capped AS (
        |  SELECT * FROM drawn WHERE draw < (17179869184 * 1000) // n),
        |samp AS (
        |  SELECT g, v FROM (
        |    SELECT g, v,
        |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY draw, id) AS rn
        |    FROM capped) WHERE rn <= 1000),
        |vc AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM samp GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, v, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS ks
        |  FROM vc),
        |est AS (
        |  SELECT g, u.qm, v AS est FROM cum,
        |    UNNEST([250000, 500000, 900000]) AS u(qm)
        |  WHERE (ks * u.qm + 999999) // 1000000 > cum - c
        |    AND (ks * u.qm + 999999) // 1000000 <= cum),
        |tr AS (
        |  SELECT b.g, e.qm, MAX(e.est) AS est,
        |    CAST(SUM(CASE WHEN b.v <= e.est THEN 1 ELSE 0 END) AS BIGINT)
        |      AS true_rank
        |  FROM base b JOIN est e ON b.g = e.g
        |  GROUP BY 1, 2),
        |ks2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS k_sample
        |  FROM samp GROUP BY 1)
        |SELECT t.g AS l_returnflag,
        |  ROUND(CAST(t.qm AS DOUBLE) / 1e6, 6) AS q,
        |  c.n, k.k_sample, t.est AS est_value,
        |  (c.n * t.qm + 999999) // 1000000 AS target_rank,
        |  t.true_rank,
        |  CAST((t.true_rank - (c.n * t.qm + 999999) // 1000000) * 1000000
        |    // c.n AS BIGINT) AS rank_err_micro,
        |  abs(t.true_rank - (c.n * t.qm + 999999) // 1000000) * 1000000
        |    <= 50000 * c.n AS within_bound
        |FROM tr t JOIN cnt c USING (g) JOIN ks2 k USING (g)
        |ORDER BY l_returnflag, q""".stripMargin,

    // ordered EMD replayed in HUGEINT: the cumulative-difference sum over
    // the class x value scaffold, thresholds in cross-multiplied integer
    // form (the Spark side's exact arithmetic, mirrored)
    "t_closeness_customer" ->
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
        |FROM panel, tot ORDER BY t""".stripMargin,

    // anchored patterns keep rlike/regexp_matches on the shared subset
    "conformance_customer" ->
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
        |FROM u GROUP BY rule ORDER BY rule""".stripMargin,

    // per-pair NULL exclusion, exact decimal moments, the corr_lineitem
    // formula mirrored per pair
    "corr_matrix_lineitem" ->
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
        |FROM s ORDER BY pair""".stripMargin,

    "blocking_quality_part" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM part),
        |cand AS (
        |  SELECT DISTINCT a.p_partkey AS i, b.p_partkey AS j
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey),
        |gold AS (
        |  SELECT DISTINCT a.p_partkey AS i, b.p_partkey AS j
        |  FROM part a JOIN part b
        |    ON a.p_type = b.p_type AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gold FROM gold),
        |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
        |  FROM cand JOIN gold USING (i, j))
        |SELECT nr AS n_records, n_cand, n_gold, n_hit,
        |  CASE WHEN n_gold > 0 THEN
        |    ROUND(CAST(n_hit AS DOUBLE) / CAST(n_gold AS DOUBLE), 6)
        |  END AS pair_completeness,
        |  CASE WHEN nr > 1 THEN
        |    ROUND(1.0 - CAST(n_cand AS DOUBLE)
        |      / CAST(CAST(nr AS HUGEINT) * (nr - 1) / 2 AS DOUBLE), 6)
        |  END AS reduction_ratio
        |FROM n, c, g, h""".stripMargin,

    // Laplace-smoothed adjusted WOE; fractions mirrored verbatim
    "woe_iv_events" ->
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
        |FROM f ORDER BY bin""".stripMargin,

    // index = Σ_h·n_t / (n_h·Σ_t) — exact integer ratio, one division
    "seasonality_events" ->
      """WITH h AS (
        |  SELECT event_type,
        |    ((CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 3600) % 24
        |      AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS sc
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS nt,
        |    CAST(SUM(sc) AS BIGINT) AS st
        |  FROM h GROUP BY 1)
        |SELECT h.event_type, hour, n,
        |  ROUND(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_cents,
        |  ROUND(CAST(CAST(sc AS HUGEINT) * nt AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * st AS DOUBLE), 6) AS season_index
        |FROM h JOIN t USING (event_type)
        |ORDER BY event_type, hour""".stripMargin,

    // mirrored doubles throughout; weight mass as exact DECIMAL(38,6);
    // largest-remainder ranks tie-broken on the stratum key
    "neyman_alloc_orders" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS stratum,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |s AS (
        |  SELECT COALESCE(CAST(stratum AS VARCHAR), 'NULL') AS stratum,
        |    CAST(COUNT(*) AS BIGINT) AS n_h,
        |    SUM(CAST(v AS HUGEINT)) AS sv,
        |    SUM(CAST(v AS HUGEINT) * v) AS svv
        |  FROM b GROUP BY 1),
        |w AS (
        |  SELECT stratum, n_h,
        |    sqrt(GREATEST(
        |      CAST(CAST(n_h AS HUGEINT) * svv - sv * sv AS DOUBLE)
        |        / (CAST(n_h AS DOUBLE) * CAST(n_h AS DOUBLE)), 0.0))
        |      AS sd
        |  FROM s),
        |ww AS (SELECT *, CAST(n_h AS DOUBLE) * sd AS wt FROM w),
        |tot AS (SELECT SUM(CAST(wt AS DECIMAL(38,6))) AS sw FROM ww),
        |r AS (
        |  SELECT stratum, n_h, sd,
        |    CASE WHEN sw > 0 THEN 1000.0 * wt / CAST(sw AS DOUBLE)
        |      ELSE 0.0 END AS share, sw
        |  FROM ww, tot),
        |f AS (
        |  SELECT *, CAST(FLOOR(share) AS BIGINT) AS fl,
        |    share - FLOOR(share) AS frac
        |  FROM r),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY frac DESC, stratum ASC)
        |    AS rnk, (SELECT 1000 - SUM(fl) FROM f) AS l
        |  FROM f)
        |SELECT stratum, n_h, ROUND(sd, 6) AS sd,
        |  CAST(fl + CASE WHEN sw > 0 AND rnk <= l THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc,
        |  fl + CASE WHEN sw > 0 AND rnk <= l THEN 1 ELSE 0 END > n_h
        |    AS over_allocated
        |FROM rk ORDER BY stratum""".stripMargin,

    "ess_weights_docs" ->
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
        |FROM s""".stripMargin,

    // values compare as strings (cross-type joinability is the point);
    // only pairs with >=1 shared value appear
    "joinability_orders_customer" ->
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
        |ORDER BY col_a, col_b""".stripMargin,

    // orphan = non-null child key missing from the parent key set;
    // NULL FKs legal (excluded from the rate's denominator)
    "ri_profile_orders" ->
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
        |FROM panel GROUP BY fk ORDER BY fk""".stripMargin,

    // mode tie → smallest value, longest tie → largest value (declared)
    "survivorship_customer" ->
      """WITH base AS (
        |  SELECT c_custkey // 3 AS cluster, c_name, c_mktsegment
        |  FROM customer),
        |mem AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members
        |  FROM base GROUP BY 1),
        |cells AS (
        |  SELECT cluster, field, rule, v, COUNT(*) AS c FROM (
        |    SELECT cluster, 'c_name' AS field, 'longest' AS rule,
        |      CAST(c_name AS VARCHAR) AS v FROM base
        |    UNION ALL
        |    SELECT cluster, 'c_mktsegment', 'mode', c_mktsegment
        |    FROM base) u
        |  WHERE v IS NOT NULL GROUP BY 1, 2, 3, 4),
        |pm AS (SELECT cluster, field, rule, v,
        |    ROW_NUMBER() OVER (PARTITION BY cluster, field
        |      ORDER BY c DESC, v ASC) AS rk
        |  FROM cells WHERE rule = 'mode'),
        |pl AS (SELECT cluster, field, rule, v,
        |    ROW_NUMBER() OVER (PARTITION BY cluster, field
        |      ORDER BY len(v) DESC, v DESC) AS rk
        |  FROM cells WHERE rule = 'longest')
        |SELECT p.cluster, n_members, field, rule, survivor FROM (
        |  SELECT cluster, field, rule, v AS survivor FROM pm WHERE rk = 1
        |  UNION ALL
        |  SELECT cluster, field, rule, v FROM pl WHERE rk = 1) p
        |JOIN mem ON mem.cluster = p.cluster
        |ORDER BY p.cluster, field""".stripMargin,

    // Sₖ = n·cumₖ − k·T exact integers; peak pick tie-breaks earliest day
    "cusum_changepoint_events" ->
      """WITH d AS (
        |  SELECT event_type,
        |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400 AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, day, yc,
        |    CAST(SUM(yc) OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS cum,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n,
        |    CAST(SUM(yc) OVER (PARTITION BY event_type) AS BIGINT) AS t
        |  FROM d),
        |s AS (
        |  SELECT event_type, day, cum, k, n, t,
        |    abs(CAST(n AS HUGEINT) * cum - CAST(k AS HUGEINT) * t)
        |      AS sabs
        |  FROM c),
        |best AS (
        |  SELECT event_type, day, cum, k, n, t,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY sabs DESC, day) AS rk, sabs
        |  FROM s)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days, day AS cp_day,
        |  ROUND(CAST(sabs AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS cusum_peak,
        |  ROUND(CAST(cum AS DOUBLE) / CAST(k AS DOUBLE), 6)
        |    AS mean_before,
        |  CASE WHEN n > k THEN
        |    ROUND(CAST(t - cum AS DOUBLE) / CAST(n - k AS DOUBLE), 6)
        |  END AS mean_after
        |FROM best WHERE rk = 1 ORDER BY event_type""".stripMargin,

    // one scan for all combos; GROUP BY is null-safe in both engines, so
    // the SQL groups raw tuples while Spark groups the injective encoding
    "key_candidates_orders" ->
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
        |FROM u GROUP BY combo ORDER BY combo""".stripMargin,

    // two unrolled exact-integer HITS rounds (h0 = 1 -> a1 = indegree),
    // one L1 normalization at the end
    "hits_trade_orders" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS src, o_custkey + 10000000 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM pairs
        |  UNION SELECT dst FROM pairs),
        |a1 AS (SELECT dst, CAST(COUNT(*) AS HUGEINT) AS a
        |  FROM pairs GROUP BY dst),
        |h1 AS (SELECT src, CAST(SUM(a) AS HUGEINT) AS h
        |  FROM pairs JOIN a1 USING (dst) GROUP BY src),
        |a2s AS (SELECT dst, CAST(SUM(h) AS HUGEINT) AS a
        |  FROM pairs JOIN h1 USING (src) GROUP BY dst),
        |h2s AS (SELECT src, CAST(SUM(a) AS HUGEINT) AS h
        |  FROM pairs JOIN a2s USING (dst) GROUP BY src),
        |a2 AS (SELECT node, COALESCE(a, 0) AS a
        |  FROM nodes LEFT JOIN a2s ON node = dst),
        |h2 AS (SELECT node, COALESCE(h, 0) AS h
        |  FROM nodes LEFT JOIN h2s ON node = src),
        |tot AS (SELECT (SELECT SUM(a) FROM a2) AS ta,
        |  (SELECT SUM(h) FROM h2) AS th)
        |SELECT
        |  CASE WHEN node >= 10000000 THEN 'customer'
        |    ELSE 'supplier' END AS node_type,
        |  CASE WHEN node >= 10000000 THEN node - 10000000
        |    ELSE node END AS node_id,
        |  ROUND(CAST(a AS DOUBLE) / CAST(ta AS DOUBLE), 6) AS authority,
        |  ROUND(CAST(h AS DOUBLE) / CAST(th AS DOUBLE), 6) AS hub
        |FROM a2 JOIN h2 USING (node), tot
        |ORDER BY node_type, node_id""".stripMargin,

    // Σ_k cA(k)·cB(k) from the key histograms — the join priced without
    // the join; NULL keys count in table sizes but never join
    "join_cardinality_lineitem" ->
      """WITH ca AS (
        |  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |cb AS (
        |  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |la AS (SELECT CAST(SUM(c) AS BIGINT) AS n_left,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys_left FROM ca),
        |lb AS (SELECT CAST(SUM(c) AS BIGINT) AS n_right,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys_right FROM cb),
        |j AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys_common,
        |  CAST(SUM(CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS join_rows,
        |  CAST(MAX(CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT)
        |    AS max_key_rows
        |  FROM ca JOIN cb USING (k))
        |SELECT n_left, n_right, n_keys_left, n_keys_right, n_keys_common,
        |  join_rows, max_key_rows,
        |  ROUND(CAST(max_key_rows AS DOUBLE) / CAST(join_rows AS DOUBLE),
        |    6) AS max_key_share,
        |  ROUND(CAST(join_rows AS DOUBLE) / CAST(n_left AS DOUBLE), 6)
        |    AS fanout_left
        |FROM j, la, lb""".stripMargin,

    // gini over runs of equal masses: 2·Σ i·x = Σ m·(2·c·below + c·(c+1));
    // exact integers end-to-end, one float division per output stat
    "skew_profile_events" ->
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
        |FROM tot, agg, pct""".stripMargin,

    "char_entropy_docs" ->
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
        |FROM agg ORDER BY doc_id""".stripMargin,

    "bigram_perplexity_docs" ->
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
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // backoff levels replay as CASE over left-join hits; a trigram hit
    // implies its (w1,w2) bigram, a (w2,w3) hit implies the w2 unigram —
    // the chain never divides by NULL
    "stupid_backoff_docs" ->
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
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // unit-wise m_u/disagreement expressions, L = lcm(1..m-1) = 2 scales
    // the coincidence fractions to exact integers; <2-rating units drop
    "krippendorff_docs" ->
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
        |FROM g""".stripMargin,

    // the spine replays as the acf scaffold; the carried value is the
    // exact max-observed-day pick, engine-neutral
    "locf_fill_events" ->
      """WITH d AS (
        |  SELECT event_type,
        |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400 AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
        |  FROM d GROUP BY 1),
        |scaf AS (
        |  SELECT s.event_type, u.day
        |  FROM span s, UNNEST(range(s.d0, s.d1 + 1)) AS u(day)),
        |lastd AS (
        |  SELECT sc.event_type, sc.day, MAX(d.day) AS lastday
        |  FROM scaf sc
        |  JOIN d ON d.event_type = sc.event_type AND d.day <= sc.day
        |  GROUP BY 1, 2)
        |SELECT l.event_type, l.day, d.yc,
        |  (l.day = l.lastday) AS observed,
        |  l.day - l.lastday AS staleness
        |FROM lastd l
        |JOIN d ON d.event_type = l.event_type AND d.day = l.lastday
        |ORDER BY l.event_type, l.day""".stripMargin,

    // the rating-profile dictionary replays as one GROUP BY over the three
    // CASE raters; A = sum c*(3 + 2*#equal-pairs); exact num/den as strings
    "fleiss_kappa_docs" ->
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
        |FROM g""".stripMargin,

    // UniMax waterfall replay: capped iff cap·(D−rk+1) ≤ B − below (a
    // prefix of the capacity sort); the first uncapped rank fixes the
    // level; leftover mod tokens go one each to the first uncapped ranks.
    "unimax_mix_docs" ->
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
        |FROM alloc ORDER BY domain""".stripMargin,

    // DSIR: hashed-unigram bucket LMs with add-1 smoothing; per-token log
    // ratio as four fixed-order lns of exact integers; Gumbel key from the
    // md5 'dsir:<id>' hash; ranks compare 6-decimal-rounded keys.
    "dsir_select_docs" ->
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
        |WHERE sel_rank <= 50 ORDER BY sel_rank""".stripMargin,

    // DoReMi: per-(domain,token) count table drives both cross-entropies;
    // the softmax reads the 6-decimal-rounded excess, mirroring
    // TextAnalysis.doremiWeights token for token.
    "doremi_weights_docs" ->
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
        |ORDER BY domain""".stripMargin,

    // Gram matrix: the oracle replays the RESULT via the quadratic
    // explode+self-join form the Spark side deliberately avoids — fine in
    // DuckDB at sf0.01, which is exactly why the aggregator exists at scale
    "gram_matrix_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, i, v[i] AS x
        |  FROM qv, UNNEST(range(1, 65)) AS u(i)),
        |n AS (SELECT COUNT(*) AS n FROM qv),
        |s AS (SELECT i, CAST(SUM(x) AS BIGINT) AS sum_x FROM e GROUP BY 1),
        |g AS (
        |  SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS gram
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2)
        |SELECT g.i, g.j, n.n, sa.sum_x AS sum_i, sb.sum_x AS sum_j, g.gram
        |FROM g CROSS JOIN n
        |JOIN s sa ON sa.i = g.i
        |JOIN s sb ON sb.i = g.j
        |ORDER BY g.i, g.j""".stripMargin,

    // PCA contract replay: the exact integer-unit trace and Frobenius
    // companions from the SAME gram relation as gram_matrix_embeddings
    // (sums fit HUGEINT; emitted as exact digit VARCHARs — the pandas
    // bridge degrades wide DECIMALs to float64), flags pinned TRUE — a
    // drifting eigensolve flips one and fails the hash compare.
    "pca_variance_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, i, v[i] AS x
        |  FROM qv, UNNEST(range(1, 65)) AS u(i)),
        |n AS (SELECT COUNT(*) AS n FROM qv),
        |s AS (SELECT i, CAST(SUM(x) AS BIGINT) AS sum_x FROM e GROUP BY 1),
        |g AS (
        |  SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS gram
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2),
        |cq AS (
        |  SELECT g.i, g.j,
        |    CAST(g.gram AS HUGEINT) * n.n
        |      - CAST(sa.sum_x AS HUGEINT) * sb.sum_x AS c
        |  FROM g CROSS JOIN n
        |  JOIN s sa ON sa.i = g.i
        |  JOIN s sb ON sb.i = g.j),
        |comp AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN i = j THEN c ELSE 0 END) AS VARCHAR)
        |      AS trace_q,
        |    CAST(SUM(c * c * (CASE WHEN i = j THEN 1 ELSE 2 END))
        |      AS VARCHAR) AS frob_q
        |  FROM cq)
        |SELECT CAST(t.pc AS INT) AS pc, n.n, 64 AS d,
        |  comp.trace_q, comp.frob_q,
        |  TRUE AS sum_eq_trace_ok, TRUE AS frob_eq_sumsq_ok,
        |  TRUE AS top_ge_maxdiag_ok, TRUE AS psd_ok,
        |  TRUE AS descending_ok, TRUE AS cum_monotone_ok
        |FROM range(1, 9) t(pc) CROSS JOIN n CROSS JOIN comp
        |ORDER BY pc""".stripMargin,

    // selection pipeline: the dsir CTE chain re-rooted on the gated +
    // deduped survivor set, split via the 8-hex md5 draw
    "selection_pipeline_docs" ->
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
        |FROM r WHERE sel_rank <= 100 ORDER BY sel_rank""".stripMargin,

    // k-center: the greedy argmax chain unrolled as one CTE per round —
    // generated programmatically (see kcenterOracleSql); all-integer
    // distances so every comparison is exact.
    "kcenter_select_embeddings" -> kcenterOracleSql(8),

    "semdedup_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |coarse AS (
        |  SELECT vec_id AS coarse_id, v AS coarsev FROM qv
        |  ORDER BY vec_id LIMIT 32),
        |vasn AS (
        |  SELECT vec_id, coarse_id, v FROM (
        |    SELECT q.vec_id, c.coarse_id, q.v,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(q.v, c.coarsev)
        |          / sqrt(list_dot_product(q.v, q.v)
        |                 * list_dot_product(c.coarsev, c.coarsev)) DESC,
        |        c.coarse_id) AS crk
        |    FROM qv q, coarse c)
        |  WHERE crk = 1),
        |cents AS (
        |  SELECT coarse_id, vec_id AS centroid_id, v AS centv
        |  FROM vasn WHERE vec_id % 100 = 0),
        |asn AS (
        |  SELECT vec_id, centroid_id, v FROM (
        |    SELECT a.vec_id, c.centroid_id, a.v,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.v, c.centv)
        |          / sqrt(list_dot_product(a.v, a.v)
        |                 * list_dot_product(c.centv, c.centv)) DESC,
        |        c.centroid_id) AS frk
        |    FROM vasn a JOIN cents c ON a.coarse_id = c.coarse_id)
        |  WHERE frk = 1),
        |pairs AS (
        |  SELECT a.centroid_id, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v)
        |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))
        |      AS cs
        |  FROM asn a JOIN asn b
        |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
        |SELECT id_b AS vec_id, centroid_id, COUNT(*) AS n_dups,
        |  ROUND(MAX(cs), 6) AS max_sim
        |FROM pairs WHERE cs >= 0.3
        |GROUP BY centroid_id, id_b
        |ORDER BY vec_id""".stripMargin,

    // per-label centroid components are floor(1024·Σx / n) — exact integers
    // in both engines (kmeans_assign discipline); argmin over exact long L2²
    "centroid_classify_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |ex AS (
        |  SELECT label, i, qv.v[i] AS x
        |  FROM qv, UNNEST(range(1, len(v) + 1)) AS u(i)),
        |cm AS (
        |  SELECT label AS clabel, i,
        |    CAST(FLOOR(CAST(CAST(SUM(x) AS BIGINT) * 1024 AS DOUBLE)
        |      / COUNT(*)) AS BIGINT) AS m
        |  FROM ex GROUP BY 1, 2),
        |cents AS (SELECT clabel, list(m ORDER BY i) AS cv FROM cm GROUP BY 1),
        |d AS (
        |  SELECT q.vec_id, q.label, c.clabel,
        |    (SELECT SUM((q.v[i]*1024 - c.cv[i]) * (q.v[i]*1024 - c.cv[i]))
        |     FROM UNNEST(range(1, len(q.v) + 1)) AS u(i)) AS d2
        |  FROM qv q CROSS JOIN cents c),
        |a AS (
        |  SELECT vec_id, label, clabel,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rk
        |  FROM d)
        |SELECT label, clabel AS pred_label, COUNT(*) AS n
        |FROM a WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same cell-assignment walk as semdedup, then the per-anchor nearest
    // OTHER-label candidate within the cell — exact long L2², id tiebreak
    "hard_negatives_embeddings" ->
      """WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS centroid_id, v AS centv FROM qv
        |  WHERE vec_id % 100 = 0),
        |asn AS (
        |  SELECT vec_id, label, v, centroid_id FROM (
        |    SELECT q.vec_id, q.label, q.v, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        (SELECT SUM((q.v[i] - c.centv[i]) * (q.v[i] - c.centv[i]))
        |         FROM UNNEST(range(1, len(q.v) + 1)) AS u(i)),
        |        c.centroid_id) AS crk
        |    FROM qv q CROSS JOIN cents c)
        |  WHERE crk = 1),
        |pairs AS (
        |  SELECT a.vec_id, a.label, b.vec_id AS neg_id,
        |    b.label AS neg_label,
        |    (SELECT SUM((a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))
        |     FROM UNNEST(range(1, len(a.v) + 1)) AS u(i)) AS d2
        |  FROM asn a JOIN asn b
        |    ON a.centroid_id = b.centroid_id AND a.label <> b.label),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY d2, neg_id, neg_label) AS rk
        |  FROM pairs)
        |SELECT vec_id, label, neg_id, neg_label, CAST(d2 AS BIGINT) AS d2
        |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    // exact Mann–Whitney AUC from the aggregated (lang, score) table; the
    // θ-join LEFT JOIN accumulates strictly-below negative mass per score
    "auc_scores_docs" ->
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
        |FROM wb GROUP BY lang ORDER BY lang""".stripMargin,

    // A-ES reservoir: key = ln(u)/w with u the salted md5 dyadic rational,
    // top-40 by 9-decimal-rounded key (doc_id tiebreak)
    "weighted_reservoir_docs" ->
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
        |WHERE sel_rank <= 40 ORDER BY sel_rank""".stripMargin,

    "curriculum_order_docs" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    LEAST(CAST(floor(n_chars / 200.0) AS BIGINT), 5) AS bucket
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, bucket,
        |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY
        |      CAST(('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)),
        |        1, 8)) AS BIGINT), doc_id) AS round_idx
        |  FROM d),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY round_idx, bucket, doc_id)
        |      AS position, round_idx, bucket, doc_id
        |  FROM w)
        |SELECT position, round_idx, bucket, doc_id FROM r
        |WHERE position <= 120 ORDER BY position""".stripMargin,

    // containment: same df-cut shingle universe as jaccard_pairs_docs,
    // asymmetric n_common/|A| and n_common/|B|, keep if either ≥ 0.6
    "containment_dup_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |keep AS (
        |  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100),
        |f AS (SELECT s.* FROM sh s JOIN keep k ON s.sh = k.sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM f GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM f a JOIN f b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, n_common,
        |  ROUND(CAST(n_common AS DOUBLE) / sa.sz, 6) AS cont_ab,
        |  ROUND(CAST(n_common AS DOUBLE) / sb.sz, 6) AS cont_ba
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE GREATEST(CAST(n_common AS DOUBLE) / sa.sz,
        |  CAST(n_common AS DOUBLE) / sb.sz) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,

    // smoothed unigram entropy / KL / JS per source over the vocabulary-
    // complete grid; every ln takes exact-integer-derived args
    "domain_divergence_docs" ->
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
        |FROM agg a JOIN nd USING (domain) ORDER BY a.domain""".stripMargin,

    // winnowing: windowed MIN over the positional gram hashes, full
    // windows only; fingerprint = the distinct minima SET per doc
    "winnow_matches_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i AS pos,
        |    CAST(('0x' || substring(md5(concat(t[i],
        |      COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], ''))),
        |      1, 15)) AS BIGINT) AS h
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |wm AS (
        |  SELECT doc_id, h,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS n
        |  FROM grams),
        |fps AS (SELECT DISTINCT doc_id, wmin AS h FROM wm
        |  WHERE cnt = LEAST(4, n)),
        |keep AS (SELECT h FROM fps GROUP BY h HAVING COUNT(*) <= 100),
        |f AS (SELECT fps.* FROM fps JOIN keep USING (h)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |  FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
        |FROM p WHERE n_shared >= 2 ORDER BY id_a, id_b""".stripMargin,

    // EWMA weights are exact longs 2^(7-age); only the numerator sum is FP
    "ewma_events" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) - 1 AS age
        |  FROM events),
        |w AS (
        |  SELECT user_id, value, age,
        |    CAST(1 AS BIGINT) << CAST(7 - age AS INT) AS w
        |  FROM r WHERE age < 8)
        |SELECT user_id, COUNT(*) AS n_used,
        |  ROUND(SUM(value * w) / CAST(SUM(w) AS BIGINT), 6) AS ewma,
        |  MAX(CASE WHEN age = 0 THEN value END) AS last_value
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    "streaming_topk_events" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk,
        |    user_id, n
        |  FROM c)
        |SELECT rk, user_id, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n AS DOUBLE) / tot, 6) AS share
        |FROM r, tot WHERE rk <= 20 ORDER BY rk""".stripMargin,

    // brute-force radius predicate over ALL pairs — a grid coverage bug in
    // the Spark plan (missed cross-cell neighbor) fails this oracle
    "geo_radius_part" ->
      """WITH pts AS (
        |  SELECT p_partkey,
        |    CAST((p_partkey * 13) % 1200 AS DOUBLE) / 20.0 - 30.0 AS lat,
        |    CAST((p_partkey * 7) % 7200 AS DOUBLE) / 20.0 - 180.0 AS lon
        |  FROM part),
        |q AS (SELECT * FROM pts WHERE p_partkey % 50 = 0),
        |d AS (
        |  SELECT q.p_partkey AS query_id, p.p_partkey AS point_id,
        |    sin(((p.lat - q.lat) * (pi() / 180.0)) / 2.0) AS s_lat,
        |    sin(((p.lon - q.lon) * (pi() / 180.0)) / 2.0) AS s_lon,
        |    cos(q.lat * (pi() / 180.0)) AS c1,
        |    cos(p.lat * (pi() / 180.0)) AS c2
        |  FROM q JOIN pts p ON p.p_partkey <> q.p_partkey),
        |h AS (
        |  SELECT query_id, point_id,
        |    ROUND(asin(sqrt(least(1.0,
        |      s_lat * s_lat + c1 * c2 * (s_lon * s_lon)))) * 12742.0176, 3)
        |      AS dist_km
        |  FROM d)
        |SELECT query_id, point_id, dist_km FROM h
        |WHERE dist_km <= 100.0
        |ORDER BY query_id, point_id""".stripMargin,

    // brute force over all DISTINCT-name pairs (distance depends only on
    // the strings), expanded back to id pairs — a prefix-filter false
    // negative in the Spark plan fails this oracle
    "edit_pairs_part" ->
      """WITH d AS (SELECT DISTINCT p_name FROM part),
        |np AS (
        |  SELECT a.p_name AS na, b.p_name AS nb,
        |    CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |  FROM d a JOIN d b ON a.p_name < b.p_name
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2)
        |SELECT LEAST(x.p_partkey, y.p_partkey) AS id_a,
        |  GREATEST(x.p_partkey, y.p_partkey) AS id_b, np.dist
        |FROM np JOIN part x ON x.p_name = np.na
        |JOIN part y ON y.p_name = np.nb
        |UNION ALL
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  CAST(0 AS INTEGER) AS dist
        |FROM part a JOIN part b
        |  ON a.p_name = b.p_name AND a.p_partkey < b.p_partkey
        |ORDER BY id_a, id_b""".stripMargin,

    "boilerplate_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(t[(i*5+1):(i*5+5)], ' ') AS chunk
        |  FROM toks,
        |    UNNEST(range(0, greatest(CAST(ceil(len(t)/5.0) AS INT), 1))) AS u(i)),
        |hot AS (
        |  SELECT md5(chunk) AS h FROM ch
        |  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3),
        |kept AS (
        |  SELECT * FROM ch WHERE md5(chunk) NOT IN (SELECT h FROM hot)),
        |surv AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id)
        |SELECT t.doc_id, t.n_chunks,
        |  COALESCE(s.n_kept, 0) AS n_kept,
        |  COALESCE(s.clean_text, '') AS clean_text
        |FROM tot t LEFT JOIN surv s ON t.doc_id = s.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // doubled average ranks (2·cum_before + cnt + 1) keep fractional tie
    // ranks integral; moment expression mirrors spearmanCorr verbatim
    "spearman_lineitem" ->
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
        |FROM s""".stripMargin,

    // single-node replay of the exact KS supremum: one plain window prefix
    // sum (the bucketed two-pass structure is a distribution detail — the
    // statistic is bucket-independent)
    "ks_drift_orders" ->
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
        |GROUP BY t.n_a, t.n_b, m.ks_num""".stripMargin,

    "bootstrap_ci_orders" -> bootstrapOracleSql(32),
    "bootstrap_ratio_events" -> bootstrapRatioOracleSql(32),

    // per-side type-1 rank picks with the exactPercentiles rank rule
    "qq_drift_orders" ->
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
        |ORDER BY q""".stripMargin,

    // moment hash-agg + delta scaffold; the z constants are literals in
    // both engines so the pre-ceil double is identical
    "power_advisor_events" ->
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
        |FROM c ORDER BY event_type, mde""".stripMargin,

    // doubled midranks via one cumulative over the value dictionary; the
    // exact integers travel as strings (the ks_drift pandas-bridge rule)
    "mann_whitney_events" ->
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
        |FROM w""".stripMargin,

    // the pair θ-join, tie fold and explicit middle-rank median all live
    // on the (type, day) dictionary — same panel the trend/ACF oracles use
    "mann_kendall_events" ->
      """WITH d AS (
        |  SELECT event_type,
        |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400 AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type, a.day AS di, a.yc AS yi,
        |    b.day AS dj, b.yc AS yj,
        |    CAST(b.yc - a.yc AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
        |      / 100.0 AS slope
        |  FROM d a
        |  JOIN d b ON b.event_type = a.event_type AND a.day < b.day),
        |s AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN yj > yi THEN 1 WHEN yj < yi THEN -1
        |      ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM p GROUP BY 1),
        |rk AS (
        |  SELECT event_type, slope, ROW_NUMBER() OVER (
        |    PARTITION BY event_type ORDER BY slope, di, dj) AS rn
        |  FROM p),
        |sen AS (
        |  SELECT r.event_type, ROUND(AVG(r.slope), 6) AS sen_slope
        |  FROM rk r JOIN s ON s.event_type = r.event_type
        |  WHERE r.rn = (s.n_pairs + 1) // 2 OR r.rn = s.n_pairs // 2 + 1
        |  GROUP BY 1),
        |t AS (
        |  SELECT event_type, yc, CAST(COUNT(*) AS BIGINT) AS t
        |  FROM d GROUP BY 1, 2),
        |ti AS (
        |  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
        |  FROM t GROUP BY 1),
        |vr AS (
        |  SELECT event_type, n,
        |    n * (n - 1) * (2 * n + 5) - tie18 AS var18
        |  FROM ti)
        |SELECT s.event_type, vr.n AS n_days, s.n_pairs, s.s_stat,
        |  vr.var18,
        |  ROUND(CAST(s.s_stat AS DOUBLE) / CAST(s.n_pairs AS DOUBLE), 6)
        |    AS tau,
        |  CASE WHEN vr.var18 > 0 THEN
        |    ROUND((CASE WHEN s.s_stat > 0 THEN
        |        CAST(s.s_stat AS DOUBLE) - 1.0
        |      WHEN s.s_stat < 0 THEN CAST(s.s_stat AS DOUBLE) + 1.0
        |      ELSE 0.0 END) / sqrt(CAST(vr.var18 AS DOUBLE) / 18.0), 6)
        |  END AS z,
        |  sen.sen_slope
        |FROM s
        |JOIN vr USING (event_type)
        |JOIN sen USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // classes replay as a plain GROUP BY on the raw quasi columns (the md5
    // fingerprint is a shuffle-width detail, not a semantic)
    "k_anonymity_customer" ->
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
        |ORDER BY k""".stripMargin,

    // reference deciles via the exactPercentiles rank convention
    // (rank = (n*q + 999999) // 1e6); smoothing/float expressions mirror
    // psiDrift verbatim (the benford bit-parity rule)
    "psi_drift_orders" ->
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
        |FROM f ORDER BY bin""".stripMargin,

    "token_drift_docs" ->
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
        |ORDER BY rk""".stripMargin,

    "kaplan_meier_events" ->
      """WITH sec AS (
        |  SELECT user_id, event_type, value,
        |    epoch_us(ts) // 1000000 AS s
        |  FROM events),
        |pu AS (
        |  SELECT user_id, MIN(s) AS f, MAX(s) AS l,
        |    MIN(CASE WHEN event_type = 'purchase' AND value >= 150
        |      THEN s END) AS c
        |  FROM sec GROUP BY user_id),
        |u AS (
        |  SELECT CASE WHEN c IS NOT NULL THEN (c - f) // 86400
        |    ELSE (l - f) // 86400 END AS dur,
        |    (c IS NOT NULL) AS ev
        |  FROM pu),
        |bd AS (
        |  SELECT dur, COUNT(*) FILTER (ev) AS n_event,
        |    COUNT(*) FILTER (NOT ev) AS n_censored
        |  FROM u GROUP BY dur),
        |tot AS (SELECT COUNT(*) AS n FROM u),
        |r AS (
        |  SELECT dur, n_event, n_censored,
        |    CAST(n - COALESCE(SUM(n_event + n_censored) OVER
        |      (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |  FROM bd, tot),
        |sv AS (
        |  SELECT dur, n_risk, n_event, n_censored,
        |    SUM(CASE WHEN n_event < n_risk THEN
        |        LN(CAST(n_risk - n_event AS DOUBLE) /
        |          CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END) OVER
        |      (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) AS lnsum
        |  FROM r)
        |SELECT dur, n_risk, n_event, n_censored,
        |  CASE WHEN n_event = n_risk THEN 0.0
        |    ELSE ROUND(EXP(lnsum), 6) END AS survival
        |FROM sv ORDER BY dur""".stripMargin,

    "link_prediction_lineitem" ->
      """WITH hi AS (
        |  SELECT l_orderkey AS k, l_partkey AS p FROM lineitem
        |  WHERE l_quantity >= 35),
        |e AS (
        |  SELECT DISTINCT LEAST(a.p, b.p) AS a, GREATEST(a.p, b.p) AS b
        |  FROM hi a JOIN hi b ON a.k = b.k AND a.p <> b.p),
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |deg AS (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a),
        |mid AS (
        |  SELECT s.a AS m, s.b AS x FROM sym s
        |  JOIN deg d ON d.a = s.a AND d.deg <= 64),
        |cn AS (
        |  SELECT w1.x AS x, w2.x AS y, COUNT(*) AS cn
        |  FROM mid w1 JOIN mid w2 ON w1.m = w2.m AND w1.x < w2.x
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT cn.* FROM cn ANTI JOIN e ON cn.x = e.a AND cn.y = e.b),
        |sc AS (
        |  SELECT c.x, c.y, c.cn, dx.deg AS deg_x, dy.deg AS deg_y,
        |    ROUND(CAST(c.cn AS DOUBLE) /
        |      CAST(dx.deg + dy.deg - c.cn AS DOUBLE), 6) AS jaccard
        |  FROM cand c JOIN deg dx ON dx.a = c.x JOIN deg dy ON dy.a = c.y),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY jaccard DESC, x, y) AS rk,
        |    x, y, cn, deg_x, deg_y, jaccard
        |  FROM sc)
        |SELECT rk, x, y, cn, deg_x, deg_y, jaccard FROM r WHERE rk <= 50
        |ORDER BY rk""".stripMargin,

    // type-1 quantile breakpoints replayed with the Spark side's exact
    // integer rank (n*q + 999999) // 1000000 — no float ceil at boundaries
    "rfm_events" ->
      """WITH sec AS (
        |  SELECT user_id, value, epoch_us(ts) // 1000000 AS s FROM events),
        |pu AS (
        |  SELECT user_id, MAX(s) AS l, COUNT(*) AS frequency,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS monetary_cents
        |  FROM sec GROUP BY user_id),
        |en AS (SELECT MAX(l) AS endd FROM pu),
        |u AS (
        |  SELECT user_id, (endd - l) // 86400 AS recency_days, frequency,
        |    monetary_cents
        |  FROM pu, en),
        |nn AS (SELECT COUNT(*) AS n FROM u),
        |rr AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn
        |  FROM (SELECT recency_days AS v FROM u)),
        |rb AS (
        |  SELECT
        |    MAX(CASE WHEN rn = (n*200000+999999)//1000000 THEN v END) AS r20,
        |    MAX(CASE WHEN rn = (n*400000+999999)//1000000 THEN v END) AS r40,
        |    MAX(CASE WHEN rn = (n*600000+999999)//1000000 THEN v END) AS r60,
        |    MAX(CASE WHEN rn = (n*800000+999999)//1000000 THEN v END) AS r80
        |  FROM rr, nn),
        |ff AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn
        |  FROM (SELECT frequency AS v FROM u)),
        |fb AS (
        |  SELECT
        |    MAX(CASE WHEN rn = (n*200000+999999)//1000000 THEN v END) AS f20,
        |    MAX(CASE WHEN rn = (n*400000+999999)//1000000 THEN v END) AS f40,
        |    MAX(CASE WHEN rn = (n*600000+999999)//1000000 THEN v END) AS f60,
        |    MAX(CASE WHEN rn = (n*800000+999999)//1000000 THEN v END) AS f80
        |  FROM ff, nn),
        |mm AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn
        |  FROM (SELECT monetary_cents AS v FROM u)),
        |mb AS (
        |  SELECT
        |    MAX(CASE WHEN rn = (n*200000+999999)//1000000 THEN v END) AS m20,
        |    MAX(CASE WHEN rn = (n*400000+999999)//1000000 THEN v END) AS m40,
        |    MAX(CASE WHEN rn = (n*600000+999999)//1000000 THEN v END) AS m60,
        |    MAX(CASE WHEN rn = (n*800000+999999)//1000000 THEN v END) AS m80
        |  FROM mm, nn),
        |sc AS (
        |  SELECT u.*,
        |    CAST(1 + CAST(recency_days < r20 AS INT)
        |      + CAST(recency_days < r40 AS INT)
        |      + CAST(recency_days < r60 AS INT)
        |      + CAST(recency_days < r80 AS INT) AS BIGINT) AS r_score,
        |    CAST(1 + CAST(frequency > f20 AS INT)
        |      + CAST(frequency > f40 AS INT)
        |      + CAST(frequency > f60 AS INT)
        |      + CAST(frequency > f80 AS INT) AS BIGINT) AS f_score,
        |    CAST(1 + CAST(monetary_cents > m20 AS INT)
        |      + CAST(monetary_cents > m40 AS INT)
        |      + CAST(monetary_cents > m60 AS INT)
        |      + CAST(monetary_cents > m80 AS INT) AS BIGINT) AS m_score
        |  FROM u, rb, fb, mb)
        |SELECT user_id, recency_days, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS segment
        |FROM sc ORDER BY user_id""".stripMargin,

    // exact brute-force kNN (same quantized cosine as ann_topk), mutual
    // filter, recursive-reachability components (the CC oracle contract:
    // describe components, not the algorithm)
    "knn_clusters_embeddings" ->
      """WITH RECURSIVE qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))
        |      AS v
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v)
        |        * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id),
        |knn AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cs DESC, cand_id) AS rk
        |    FROM pairs) WHERE rk <= 3),
        |mut AS (
        |  SELECT a.query_id AS id_a, a.cand_id AS id_b
        |  FROM knn a JOIN knn b
        |    ON b.query_id = a.cand_id AND b.cand_id = a.query_id
        |  WHERE a.query_id < a.cand_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM mut
        |  UNION SELECT id_b, id_a FROM mut),
        |reach(a, b) AS (
        |  SELECT vec_id, vec_id FROM embeddings WHERE vec_id % 2 = 0
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
        |cl AS (SELECT a AS vec_id, MIN(b) AS cluster_rep FROM reach
        |  GROUP BY a),
        |sz AS (SELECT cluster_rep, COUNT(*) AS cluster_size FROM cl
        |  GROUP BY cluster_rep)
        |SELECT cl.vec_id, cl.cluster_rep, sz.cluster_size
        |FROM cl JOIN sz USING (cluster_rep) ORDER BY cl.vec_id""".stripMargin,

    "ab_test_events" ->
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
        |FROM v ORDER BY event_type""".stripMargin,

    "sequential_ab_events" -> sequentialAbOracleSql,

    "streaming_sequential_ab_events" -> sequentialAbOracleSql,

    "embedding_drift_embeddings" ->
      """WITH q AS (
        |  SELECT (vec_id % 2 = 0) AS s, i AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |      AS qv
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
        |g AS (
        |  SELECT CAST(dim AS BIGINT) AS dim,
        |    COUNT(*) FILTER (NOT s) AS n_a,
        |    COUNT(*) FILTER (s) AS n_b,
        |    CAST(COALESCE(SUM(qv) FILTER (NOT s), 0) AS BIGINT) AS sum_a_q,
        |    CAST(COALESCE(SUM(qv) FILTER (s), 0) AS BIGINT) AS sum_b_q
        |  FROM q GROUP BY dim)
        |SELECT dim, n_a, n_b, sum_a_q, sum_b_q,
        |  ROUND(CAST(sum_a_q AS DOUBLE) / n_a, 6) AS mean_a_q,
        |  ROUND(CAST(sum_b_q AS DOUBLE) / n_b, 6) AS mean_b_q,
        |  ROUND(CAST(sum_b_q AS DOUBLE) / n_b
        |    - CAST(sum_a_q AS DOUBLE) / n_a, 6) AS shift_q
        |FROM g ORDER BY dim""".stripMargin,

    "basket_pairs_lineitem" ->
      """WITH ti AS (
        |  SELECT DISTINCT l_orderkey AS txn, l_partkey AS item
        |  FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT txn) AS nt FROM ti),
        |ic AS (SELECT item, COUNT(*) AS cnt FROM ti GROUP BY item),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
        |  FROM ti a JOIN ti b ON a.txn = b.txn AND a.item < b.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT p.item_a, p.item_b, p.n_ab,
        |  ia.cnt AS n_a, ib.cnt AS n_b,
        |  ROUND(CAST(p.n_ab AS DOUBLE) / nt, 6) AS support,
        |  ROUND(CAST(p.n_ab * nt AS DOUBLE)
        |    / CAST(ia.cnt * ib.cnt AS DOUBLE), 6) AS lift
        |FROM p JOIN ic ia ON ia.item = p.item_a
        |JOIN ic ib ON ib.item = p.item_b, n
        |ORDER BY item_a, item_b""".stripMargin,

    "abc_analysis_lineitem" ->
      """WITH rev AS (
        |  SELECT l_partkey AS item,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM lineitem GROUP BY l_partkey),
        |tot AS (SELECT CAST(SUM(revenue_cents) AS BIGINT) AS t FROM rev),
        |r AS (
        |  SELECT item, revenue_cents,
        |    ROW_NUMBER() OVER
        |      (ORDER BY revenue_cents DESC, item) AS rank,
        |    CAST(SUM(revenue_cents) OVER
        |      (ORDER BY revenue_cents DESC, item
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_cents
        |  FROM rev)
        |SELECT item, revenue_cents, rank, cum_cents,
        |  ROUND(CAST(cum_cents AS DOUBLE) / t, 6) AS cum_share,
        |  CASE WHEN cum_cents * 100 <= t * 80 THEN 'A'
        |    WHEN cum_cents * 100 <= t * 95 THEN 'B'
        |    ELSE 'C' END AS abc_class
        |FROM r, tot ORDER BY rank""".stripMargin,

    // the lang_id_docs prediction CTE, aggregated to the confusion matrix
    "langid_confusion_docs" ->
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
        |ORDER BY m.lang, m.pred_lang""".stripMargin,

    "heaps_law_docs" ->
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
        |ORDER BY pb.bucket""".stripMargin,

    "user_entropy_events" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
        |    COUNT(*) AS n_types,
        |    SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))) AS clnc
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n_events, n_types,
        |  ROUND(LN(CAST(n_events AS DOUBLE))
        |    - clnc / CAST(n_events AS DOUBLE), 6) AS entropy
        |FROM u ORDER BY user_id""".stripMargin,

    "kaplan_meier_cohort_events" ->
      """WITH sec AS (
        |  SELECT user_id, event_type, value,
        |    epoch_us(ts) // 1000000 AS s
        |  FROM events),
        |pu AS (
        |  SELECT user_id, MIN(s) AS f, MAX(s) AS l,
        |    user_id % 3 AS cohort,
        |    MIN(CASE WHEN event_type = 'purchase' AND value >= 150
        |      THEN s END) AS c
        |  FROM sec GROUP BY user_id),
        |u AS (
        |  SELECT cohort,
        |    CASE WHEN c IS NOT NULL THEN (c - f) // 86400
        |      ELSE (l - f) // 86400 END AS dur,
        |    (c IS NOT NULL) AS ev
        |  FROM pu),
        |bd AS (
        |  SELECT cohort, dur, COUNT(*) FILTER (ev) AS n_event,
        |    COUNT(*) FILTER (NOT ev) AS n_censored
        |  FROM u GROUP BY cohort, dur),
        |tot AS (SELECT cohort, COUNT(*) AS n FROM u GROUP BY cohort),
        |r AS (
        |  SELECT bd.cohort, dur, n_event, n_censored,
        |    CAST(n - COALESCE(SUM(n_event + n_censored) OVER
        |      (PARTITION BY bd.cohort ORDER BY dur
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM bd JOIN tot ON tot.cohort = bd.cohort),
        |sv AS (
        |  SELECT cohort, dur, n_risk, n_event, n_censored,
        |    SUM(CASE WHEN n_event < n_risk THEN
        |        LN(CAST(n_risk - n_event AS DOUBLE) /
        |          CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END) OVER
        |      (PARTITION BY cohort ORDER BY dur
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum
        |  FROM r)
        |SELECT cohort, dur, n_risk, n_event, n_censored,
        |  CASE WHEN n_event = n_risk THEN 0.0
        |    ELSE ROUND(EXP(lnsum), 6) END AS survival
        |FROM sv ORDER BY cohort, dur""".stripMargin,

    "proportion_test_events" ->
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
        |FROM v ORDER BY arm""".stripMargin
  ))
}
