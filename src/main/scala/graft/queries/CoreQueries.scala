package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.Readers
import graft.plans.Joins
import graft.sample.Samplers
import graft.scale.Geo
import graft.serialize.Serialize
import graft.streaming.Streams

import Shared._

/** Relational, serialization, sampling and I/O queries: the paper's row
  * serialization and sampling operators, window / grouping-set / set-operation
  * shapes, and file-format and layout round trips.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object CoreQueries {

  /** Morton interleave of the low 10 bits of x and y as portable SQL bit
    * ops — mirrors [[graft.io.ZOrder.zValue]] term for term.
    */
  private val zInterleaveSql: String =
    (0 until 10).map(i =>
      s"((((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1}))")
      .mkString(" | ")

  // ---- JSONL source/sink round trip (LLM-corpus interchange format) ------
  // Writes the documents table as JSONL (distributed sink), reads it back
  // schema-first, and checks full row fidelity against the parquet
  // original (text via md5 to keep rows narrow). JSON escaping must be
  // lossless for this to hash-match.
  private val jsonlRoundtripDocs: QuerySpec =
    QuerySpec("jsonl_roundtrip_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val out = freshFixtureDir("graft_jsonl").toString
      docs.write.mode("overwrite").json(out)
      Readers.jsonl(s, out, Some(docs.schema))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    // ---- P1 keyed serialization (customer) --------------------------------
    QuerySpec("serialize_keyed_customer", (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          Serialize.serializeKeyed(Seq(
            "c_name" -> "c_name", "c_nationkey" -> "c_nationkey",
            "c_mktsegment" -> "c_mktsegment")).as("text"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey,
        |  'c_name: ' || c_name || ' ^ c_nationkey: ' || c_nationkey
        |    || ' ^ c_mktsegment: ' || c_mktsegment AS text
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ---- P2 simple serialization (part) -----------------------------------
    QuerySpec("serialize_simple_part", (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          Serialize.serializeSimple(
            Seq("p_name", "p_brand", "p_type", "p_size")).as("text"))
        .orderBy(col("p_partkey")),
      """SELECT p_partkey,
        |  p_name || '^' || p_brand || '^' || p_type || '^' || p_size AS text
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- J1+P3+P4 blocked-pair join + merged A/B serialization ------------
    // lineitem plays the labels table (ltable=part, rtable=supplier);
    // both dims broadcast (SURVEY §2.3 J1 scale note).
    QuerySpec("em_blocked_pairs", (s, dir) => {
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
    },
      """SELECT l.l_orderkey, l.l_linenumber,
        |  'A: ' || p.p_name || '; ' || p.p_brand || '; ' || p.p_size
        |    || '; ' || 'B: ' || s.s_name || '; ' || s.s_nationkey || '; '
        |    || CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS text,
        |  CASE WHEN l.l_returnflag = 'R' THEN 'Yes' ELSE 'No' END AS label_str
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin),

    // ---- P1+P6+P8 imputation serialization (customer, target=mktsegment) --
    QuerySpec("impute_serialize_customer", (s, dir) =>
      t(s, dir, "customer")
        .withColumn("c_acctbal_d", col("c_acctbal").cast("decimal(18,2)"))
        .select(col("c_custkey"),
          Serialize.serializeKeyed(Seq(
            "c_name" -> "c_name", "c_nationkey" -> "c_nationkey",
            "c_acctbal_d" -> "c_acctbal")).as("text"),
          Serialize.imputeLabel(col("c_mktsegment")).as("label_str"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey,
        |  'c_name: ' || c_name || ' ^ c_nationkey: ' || c_nationkey
        |    || ' ^ c_acctbal: ' || CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS text,
        |  c_mktsegment || chr(10) AS label_str
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ---- P5+P7 error-detection labels (events as the dirty table) ---------
    QuerySpec("error_detection_labels", (s, dir) =>
      t(s, dir, "events")
        .withColumn("is_clean",
          when(col("event_type") =!= "error", 1).otherwise(0))
        .select(col("event_id"), col("props").as("text"),
          Serialize.invertedCleanLabel(col("is_clean")).as("label_str")),
      """SELECT event_id, props AS text,
        |  CASE WHEN event_type <> 'error' THEN 'no' ELSE 'yes' END AS label_str
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- A3 class-balanced downsample (deterministic variant) -------------
    QuerySpec("class_balanced_orders", (s, dir) =>
      Samplers.classBalancedDeterministic(
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus"),
          "o_orderstatus", "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy(col("o_orderkey")),
      """WITH m AS (
        |  SELECT MIN(cnt) AS m FROM (
        |    SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderstatus)),
        |r AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM r, m WHERE r.rn <= m.m ORDER BY o_orderkey""".stripMargin),

    // ---- A2 stratified sample (deterministic variant) ---------------------
    QuerySpec("stratified_sample_docs", (s, dir) =>
      Samplers.stratifiedDeterministic(
          t(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id", 20)
        .orderBy(col("doc_id")),
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY doc_id""".stripMargin),

    // ---- A6 positional split (test side) ----------------------------------
    QuerySpec("positional_split_docs", (s, dir) => {
      val (_, test) = Samplers.positionalSplit(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id", 3)
      test.orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn > 3 ORDER BY doc_id""".stripMargin),

    // ---- A5 head-fraction limit (parallel two-phase global rank — no
    // single-partition window stage) -----------------------------------------
    QuerySpec("head_fraction_lineitem", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      Samplers.headFractionOrdered(
          li, Seq("l_orderkey", "l_linenumber"), 0.1)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """WITH tot AS (SELECT COUNT(*) AS total FROM lineitem),
        |r AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS l_quantity
        |FROM r, tot WHERE r.rn <= FLOOR(tot.total * 0.1)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- deterministic hash-ish sample (shuffle-free, pruning-friendly) ----
    QuerySpec("modulo_sample_lineitem", (s, dir) =>
      Samplers.moduloSample(
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_partkey"),
          "l_orderkey", 10, 3)
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |WHERE l_orderkey % 10 = 3
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- T1 top-k ---------------------------------------------------------
    QuerySpec("topk_orders", (s, dir) =>
      Samplers.topK(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        col("o_totalprice").desc, col("o_orderkey"), 10),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // ---- G1-G3 grouped aggregation stats ----------------------------------
    QuerySpec("group_stats_docs", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang")),
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT source) AS n_sources,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- grouping sets (beyond rollup/cube: explicit set list) -------------
    QuerySpec("grouping_sets_events", (s, dir) => {
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
    },
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |  COALESCE(CAST(user_bucket AS VARCHAR), 'ALL') AS user_bucket,
        |  COUNT(*) AS n
        |FROM (SELECT event_type, user_id % 5 AS user_bucket FROM events)
        |GROUP BY GROUPING SETS ((event_type), (user_bucket))
        |ORDER BY 1, 2""".stripMargin),

    // ---- window range frame: trailing 7-day spend per customer -------------
    QuerySpec("range_frame_orders", (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("day",
          expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) DIV 86400"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-7L, Window.currentRow)
      o.select(col("o_orderkey"), col("o_custkey"), col("day"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("spend_7d"))
        .orderBy(col("o_orderkey"))
    },
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(EPOCH(o_orderdate) AS BIGINT) // 86400 AS day
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_7d
        |FROM o ORDER BY o_orderkey""".stripMargin),

    // ---- §2.8 ranking/analytic windows (rank, lag, running frame sum) ------
    QuerySpec("window_analytics_orders", (s, dir) => {
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
    },
      """SELECT o_orderkey, o_custkey,
        |  ROW_NUMBER() OVER w AS rn,
        |  CAST(LAG(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS prev_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_sum
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin),

    // ---- §2.3 semi join (customers with ≥1 finished order) -----------------
    QuerySpec("semi_join_customers", (s, dir) => {
      val f = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      t(s, dir, "customer")
        .join(f, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    // ---- §2.3 anti join (dedup-against-seen shape) -------------------------
    QuerySpec("anti_join_customers", (s, dir) => {
      val f = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      t(s, dir, "customer")
        .join(f, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    // ---- grouping-set family: rollup ---------------------------------------
    QuerySpec("rollup_revenue_lineitem", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ---- set ops: except + intersect ---------------------------------------
    QuerySpec("set_ops_docs", (s, dir) => {
      val d = t(s, dir, "documents").select("doc_id")
      d.except(d.filter(col("doc_id") % 7 === 0))
        .intersect(d.filter(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id FROM (
        |  (SELECT doc_id FROM documents
        |   EXCEPT
        |   SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
        |  INTERSECT
        |  SELECT doc_id FROM documents WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin),

    // ---- canonical-representative dedup (keep best per group) -------------
    QuerySpec("dedup_keep_best_docs", (s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("doc_id", "source", "n_chars")
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // ---- layout: small-file compaction round trip ---------------------------
    // THE operational problem at 100 TB: a table fragmented into thousands
    // of small files (one per micro-batch/task) read-amplifies every scan.
    // Write the corpus as 64 shards, compact to ceil(n/200) by row count,
    // and prove bit fidelity via an order-invariant row checksum computed
    // on both layouts (oracle computes the same checksum from the source
    // table — all three must agree).
    QuerySpec("compaction_docs", (s, dir) => {
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
    },
      """WITH cs AS (
        |  SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(('0x' || substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || lang || '|' || source
        |        || '|' || CAST(n_chars AS VARCHAR) || '|' || md5(text)),
        |      1, 8)) AS BIGINT)) AS BIGINT) AS checksum
        |  FROM documents)
        |SELECT CAST(n_rows AS BIGINT) AS n_rows,
        |  checksum AS checksum_small, checksum AS checksum_packed
        |FROM cs""".stripMargin),

    jsonlRoundtripDocs,

    // ---- ORC source/sink round trip (second columnar format) ---------------
    QuerySpec("orc_roundtrip_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val out = freshFixtureDir("graft_orc").toString
      docs.write.mode("overwrite").orc(out)
      s.read.schema(docs.schema).orc(out)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
      jsonlRoundtripDocs.oracleSql),

    // ---- hive-partitioned layout: write by lang, read one partition --------
    // The partition filter must prune at the directory level (LayoutSpec
    // asserts the pruned plan); the oracle checks the data survives the
    // partitioned round trip exactly.
    QuerySpec("partitioned_layout_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val out = freshFixtureDir("graft_part").toString
      docs.write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang, n_chars, md5(text) AS text_md5
        |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin),

    // ---- pivot (explicit value list → deterministic columns) ---------------
    QuerySpec("pivot_events", (s, dir) =>
      t(s, dir, "events")
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .orderBy(col("user_bucket")),
      """SELECT user_id % 10 AS user_bucket,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- cube over event_type × high-value flag ----------------------------
    // rollup nulls project to 'ALL': nullable booleans stringify differently
    // in the two engines' pandas bridges ('None' vs NaN) — a checker
    // artifact, not semantics — so the output carries no nulls.
    QuerySpec("cube_events", (s, dir) =>
      t(s, dir, "events")
        .cube(col("event_type"),
          (col("value") > 100.0).as("high_value"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("high_value").cast("string"), lit("ALL"))
            .as("high_value"),
          col("n"))
        .orderBy(col("event_type"), col("high_value")),
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |  COALESCE(CAST(value > 100.0 AS VARCHAR), 'ALL') AS high_value,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY CUBE(event_type, value > 100.0)
        |ORDER BY 1, 2""".stripMargin),

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
    QuerySpec("approx_stats_events", (s, dir) => {
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
    },
      // exact companions + sketch-contract flags; the Spark side computes the
      // flags from its own sketches, the oracle pins them TRUE (see the query
      // comment) — an out-of-contract sketch fails the hash compare
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(value) AS n_vals,
        |  TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p99_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- Neyman optimal allocation (survey-sampling design) -----------------
    // 1000 samples split across order-priority strata by N_h·σ_h —
    // big AND variable strata deserve samples; largest-remainder
    // integerization with declared tiebreaks.
    QuerySpec("neyman_alloc_orders", (s, dir) =>
      graft.sample.Samplers.neymanAllocation(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")),
        "o_orderpriority", "cents", 1000L)
        .orderBy(col("stratum")),
      // mirrored doubles throughout; weight mass as exact DECIMAL(38,6);
      // largest-remainder ranks tie-broken on the stratum key
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
        |FROM rk ORDER BY stratum""".stripMargin),

    // ---- deletion propagation: aggregate maintenance under erasure ---------
    // The right-to-be-forgotten shape: instead of rescanning the corpus
    // after deleting a user set, aggregate the DELETED rows and subtract —
    // counts as longs, money as exact decimals, so after = before − deleted
    // holds bit-exactly. At 100 TB the deleted slice is ~0.1% of the scan.
    QuerySpec("deletion_propagation_events", (s, dir) => {
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
    },
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
        |ORDER BY b.event_type""".stripMargin),

    // ---- robust aggregates: per-group winsorized sums -----------------------
    // Clip values to the group's [p05, p95] before summing — the standard
    // outlier guard before training-metric aggregation. Boundary table is
    // one row per group, broadcast back (quantileBin's shape); sums are
    // decimal-exact.
    QuerySpec("winsorize_events", (s, dir) => {
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
    },
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
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- G5 trial mean/std from exact decimal sums -------------------------
    QuerySpec("trial_stats_orders", (s, dir) => {
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
    },
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
        |FROM s ORDER BY o_orderstatus""".stripMargin),

    // ---- deterministic k-fold split (md5 mod k — shuffle-free projection) --
    QuerySpec("kfold_split_orders", (s, dir) =>
      Samplers.kfoldAssign(t(s, dir, "orders"), "o_orderkey", 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("fold")),
      """WITH f AS (
        |  SELECT CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 5 AS INT) AS fold,
        |    o_totalprice
        |  FROM orders)
        |SELECT fold, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin),

    // ---- exact interpolated percentiles per group (sort-based agg) ---------
    // (renamed from percentiles_lineitem, which wave 2's
    // distributed-selection query silently shadowed in the Map — a
    // duplicate key keeps only the last entry)
    QuerySpec("percentile_interp_lineitem", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25D)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5D)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75D)"), 6).as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- NTILE quantile binning per group (partitioned window) -------------
    QuerySpec("ntile_binning_orders", (s, dir) =>
      t(s, dir, "orders")
        .withColumn("bin", ntile(4).over(
          Window.partitionBy(col("o_orderpriority"))
            .orderBy(col("o_totalprice"), col("o_orderkey"))))
        .groupBy(col("o_orderpriority"), col("bin"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"), col("bin")),
      """WITH b AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    NTILE(4) OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS bin
        |  FROM orders)
        |SELECT o_orderpriority, bin, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM b GROUP BY o_orderpriority, bin
        |ORDER BY o_orderpriority, bin""".stripMargin),

    // ---- keyed range join: lineitems shipped within 30 days of the order ---
    QuerySpec("range_join_lineitem", (s, dir) => {
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
    },
      """SELECT o.o_orderpriority, COUNT(*) AS n_shipped_30d,
        |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM orders o JOIN lineitem l
        |  ON l.l_orderkey = o.o_orderkey
        | AND l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin),

    // ---- fixed-width histogram (shuffle only carries bin ids) --------------
    QuerySpec("histogram_orders", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_orders"),
          round(min(col("o_totalprice")), 6).as("min_price"),
          round(max(col("o_totalprice")), 6).as("max_price"))
        .orderBy(col("bin")),
      """SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n_orders,
        |  ROUND(MIN(o_totalprice), 6) AS min_price,
        |  ROUND(MAX(o_totalprice), 6) AS max_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- ranking-family windows: rank / dense_rank / percent_rank /
    // cume_dist (tie-free ordering via unique key tiebreak) ------------------
    QuerySpec("rank_family_orders", (s, dir) => {
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
    },
      """WITH r AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
        |    ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
        |    ROUND(CUME_DIST() OVER w, 6) AS cdist
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey))
        |SELECT * FROM r WHERE o_orderkey % 50 = 0
        |ORDER BY o_orderpriority, rnk""".stripMargin),

    // ---- CDC-style upsert compaction: latest version per key wins ----------
    QuerySpec("upsert_merge_orders", (s, dir) => {
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
    },
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 0
        |    THEN o_totalprice + 1000.0 ELSE o_totalprice END
        |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- z-order layout: per-file min/max envelopes on BOTH dimensions -----
    QuerySpec("zorder_stats_orders", (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("x", col("o_custkey") % 1024)
        .withColumn("y",
          expr("(CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) DIV 86400) % 1024"))
      graft.io.ZOrder.fileStats(o, col("x"), col("y"), 10, 4)
        .orderBy(col("file_id"))
    },
      s"""WITH d AS (
        |  SELECT o_custkey % 1024 AS x,
        |    (CAST(EPOCH_US(o_orderdate) AS BIGINT) // 86400000000) % 1024 AS y
        |  FROM orders),
        |z AS (SELECT x, y, $zInterleaveSql AS zv FROM d)
        |SELECT zv >> 16 AS file_id, COUNT(*) AS n_rows,
        |  MIN(x) AS min_x, MAX(x) AS max_x,
        |  MIN(y) AS min_y, MAX(y) AS max_y
        |FROM z GROUP BY file_id ORDER BY file_id""".stripMargin),

    // ---- snapshot diff: added/deleted/changed/unchanged between versions ---
    QuerySpec("snapshot_diff_orders", (s, dir) => {
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
    },
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
        |FROM c GROUP BY status ORDER BY status""".stripMargin),

    // ---- group-wise top-n: longest documents per language ------------------
    QuerySpec("topn_per_group_docs", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(col("lang"), col("rn"))
    },
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, rn FROM r WHERE rn <= 3
        |ORDER BY lang, rn""".stripMargin),

    // ---- percentile-threshold quality gate: keep docs above corpus p75 -----
    QuerySpec("quality_threshold_docs", (s, dir) => {
      val d = t(s, dir, "documents")
      val thr = d.agg(expr("percentile(n_chars, 0.75D)").as("thr"))
      d.crossJoin(broadcast(thr))
        .filter(col("n_chars").cast("double") >= col("thr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("n_chars")).as("min_chars"))
        .orderBy(col("lang"))
    },
      """WITH t AS (SELECT quantile_cont(n_chars, 0.75) AS thr FROM documents)
        |SELECT lang, COUNT(*) AS n_kept, MIN(n_chars) AS min_chars
        |FROM documents, t WHERE CAST(n_chars AS DOUBLE) >= thr
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- few-shot prompt packing: first-k serialized examples per group ----
    // (the reference's V1 prompt-formulation step, distributed: examples
    // collect per group and order deterministically — collect_list alone is
    // partition-order-dependent; sort_array over (key, text) structs pins it)
    QuerySpec("prompt_pack_customer", (s, dir) => {
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
    },
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
        |ORDER BY p.grp""".stripMargin),

    // ---- schema evolution: mergeSchema read over batches with added cols ---
    // batch 1 writes the original columns; batch 2 adds a quality column.
    // mergeSchema unions the file schemas; old rows surface null quality —
    // the append-only column-add path every long-lived 100 TB table needs
    QuerySpec("schema_evolution_docs", (s, dir) => {
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
    },
      """WITH m AS (
        |  SELECT lang, FALSE AS long_doc, TRUE AS pre_evo
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT lang, n_chars >= 100 AS long_doc, FALSE AS pre_evo
        |  FROM documents WHERE doc_id % 2 <> 0)
        |SELECT lang, long_doc, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN pre_evo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pre_evolution
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- order-invariant table checksum (migration/replica verification) ---
    // sum of 32-bit md5 row digests: commutative, so any partitioning or
    // row order produces the same value — the cheap way to prove two copies
    // of a 100 TB table identical without sorting either
    QuerySpec("table_checksum_orders", (s, dir) => {
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
    },
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
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    QuerySpec("streaming_dedup_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val deduped = stream
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_distinct_users"))
      Streams.runToMemory(deduped, "stream_dedup", OutputMode.Complete())
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- streaming: stream-static broadcast enrichment join ----------------
    // The dimension-enrichment shape every event pipeline needs: a
    // micro-batch stream joined against a STATIC broadcast dim (no state
    // store, no watermark — the static side is re-broadcast per batch),
    // then a streaming aggregation. Batch-equivalent oracle: the same
    // join+agg over the full table.
    QuerySpec("streaming_enrich_events", (s, dir) => {
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
    },
      """SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- curriculum schedule: difficulty buckets drained round-robin -------
    QuerySpec("curriculum_order_docs", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("bucket",
          least(floor(col("n_chars") / 200), lit(5L)).cast("long"))
      Samplers.curriculumInterleave(d, "doc_id", "bucket", 120)
        .select(col("position"), col("round_idx"), col("bucket"), col("doc_id"))
    },
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
        |WHERE position <= 120 ORDER BY position""".stripMargin),

    // ---- grid-blocked geo radius join (spatial neighbor search) ------------
    // Deterministic lattice coordinates derived from p_partkey (0.05°
    // steps, lat ∈ [-30, 30) so the 1.5° cell spans ≥ 100 km on both axes
    // everywhere); queries = every 50th part. The oracle brute-forces the
    // same predicate over all pairs, so a grid cell-coverage bug (a missed
    // cross-cell neighbor) is a correctness failure, not just a perf one.
    QuerySpec("geo_radius_part", (s, dir) => {
      val p = t(s, dir, "part").select(
        col("p_partkey"),
        (((col("p_partkey") * 13) % 1200).cast("double") / 20.0 - 30.0).as("lat"),
        (((col("p_partkey") * 7) % 7200).cast("double") / 20.0 - 180.0).as("lon"))
      Geo.gridRadiusJoin(p.filter(col("p_partkey") % 50 === 0), p,
          "p_partkey", "lat", "lon", 100.0, 1.5)
        .orderBy(col("query_id"), col("point_id"))
    },
      // brute-force radius predicate over ALL pairs — a grid coverage bug in
      // the Spark plan (missed cross-cell neighbor) fails this oracle
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
        |ORDER BY query_id, point_id""".stripMargin),

    // ---- priority sampling (DLT) with unbiased-total estimator -------------
    // k=500 orders weighted by price; τ-threshold contributions sum to an
    // unbiased estimate of the exact corpus total carried alongside.
    QuerySpec("priority_sample_orders", (s, dir) =>
      graft.sample.Samplers.prioritySample(
          t(s, dir, "orders").withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")),
          "o_orderkey", "cents", 500)
        .orderBy(col("sel_rank")),
      // DLT priorities replayed as exact integers (w·2^32 // (md5 draw + 1)),
      // global rank, τ from row k+1, HUGEINT contribution sums
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
        |ORDER BY sel_rank""".stripMargin),

    // ---- bounded-state sample quantiles with exact rank-error grade --------
    // O(k)-state estimator beside the exact two-pass selection: per return
    // flag, type-1 quantiles of the k=1000-row deterministic md5 bottom-k
    // sample, each estimate graded with its exact corpus rank.
    QuerySpec("sample_quantiles_lineitem", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .withColumn("rid", concat(col("l_orderkey").cast("string"),
          lit("-"), col("l_linenumber").cast("string")))
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      graft.sample.Samplers.sampleQuantiles(l, "rid", "cents",
          Seq(250000L, 500000L, 900000L), Seq("l_returnflag"), 1000, 50000L)
        .orderBy(col("l_returnflag"), col("q"))
    },
      // md5 bottom-k sample + type-1 sample quantiles + exact rank grade,
      // all replayed: the draw is the md5PrefixLong convention, the cut and
      // every rank is integer arithmetic
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
        |ORDER BY l_returnflag, q""".stripMargin),

    // ---- STREAMING sample quantiles (bottom-k aggregator state) ------------
    // The live-stream form of the O(k) estimator: a typed bottom-k
    // aggregator holds the k smallest (draw, id) triples per group as
    // Complete-mode state (k rows, period — no cut needed: the buffer IS
    // the bound), the est fold runs on the drained sample, and the grade
    // runs as a second bounded pass (|groups|·|q| counter rows).
    QuerySpec("streaming_sample_quantiles_lineitem", (s, dir) => {
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
    },
      // the aggregator holds the TRUE bottom-k (no threshold cut), so the
      // replay ranks over all draws directly; everything else is the batch
      // sample-quantile replay verbatim
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
        |ORDER BY l_returnflag, q""".stripMargin)
  )
}
