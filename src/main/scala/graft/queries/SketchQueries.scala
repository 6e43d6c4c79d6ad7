package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.scale.Baskets
import graft.streaming.Streams

import Shared._

/** Sketch and skew queries: KMV, HyperLogLog, count-min and KLL sketches,
  * bounded top-k, salting, heavy hitters and basket analysis.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object SketchQueries {

  /** The standard quantile probe set of the KLL sketch queries. */
  private val kllProbes: Seq[(Int, Int)] =
    Seq((1, 100), (5, 100), (10, 100), (25, 100), (50, 100), (75, 100),
      (90, 100), (95, 100), (99, 100))

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

  val specs: Seq[QuerySpec] = Seq(
    // ---- bounded-state mergeable distinct sketch (KMV / bottom-k) ----------
    // The deterministic counterpart of approx_count_distinct: state is the
    // 64 smallest distinct md5-prefix hashes per group (constant-width
    // map-side partials, merge-order-independent), so unlike HLL the oracle
    // replays kth/estimate EXACTLY — no tolerance flags.
    QuerySpec("kmv_distinct_events", (s, dir) => {
      val ev = t(s, dir, "events")
      val hashed = ev.withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
        col("user_id").cast("string").cast("binary"), 15))
      graft.scale.Sketches.kmvDistinct(hashed, Seq("event_type"), col("__h"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_users")), Seq("event_type"))
        .select(col("event_type"), col("n_users"), col("n_sketch"),
          col("kmv_kth"), col("kmv_est"))
        .orderBy(col("event_type"))
    },
      // deterministic KMV: k=64 smallest distinct 15-hex md5-prefix hashes
      // per group, replayed with a window over distinct hashes. Estimate is
      // exact-integer 63·2^60 div kth in HUGEINT — DuckDB's // on DECIMAL
      // ROUNDS the quotient (measured: 144.92 → 145) while // on integer
      // types truncates like Spark's div/BigInteger.divide; 63·2^60
      // overflows BIGINT, so int128 it is. Below-k groups report exact size.
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
        |FROM d JOIN s USING (event_type) ORDER BY 1""".stripMargin),

    // ---- HLL distinct sketch (exactly-replayable registers) ----------------
    // The constant-state counterpart of kmv_distinct_events with O(1)
    // reduce: 64 byte registers per group, merged by elementwise max.
    // Registers are an exact function of the input SET (bucket + leading-
    // zero rank of the md5-prefix hash), so n_zero_regs / harmonic_num /
    // regs_digest are exact integers the oracle replays, and the final
    // alpha·m²·2^R/num estimate (with linear-counting small-range branch)
    // is one fixed-order double expression over them. Exact countDistinct
    // rides along for accuracy eyeballing.
    QuerySpec("hll_distinct_events", (s, dir) => {
      val ev = t(s, dir, "events")
      val hashed = ev.withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
        col("user_id").cast("string").cast("binary"), 15))
      graft.scale.Sketches.hllDistinct(hashed, Seq("event_type"), col("__h"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_users")), Seq("event_type"))
        .select(col("event_type"), col("n_users"), col("n_zero_regs"),
          col("harmonic_num"), col("regs_digest"), col("hll_est"))
        .orderBy(col("event_type"))
    },
      // HLL: bucket = hash mod 64; rho = leading zeros of the remaining
      // 54-bit word + 1 (= 55 − bit-length, computed via the binary-format
      // string — exact integer string op in both engines); registers are
      // per-bucket MAX. Estimate arithmetic mirrors Sketches.hllDistinct
      // token for token.
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
        |FROM d JOIN s USING (event_type) ORDER BY 1""".stripMargin),

    // ---- KMV set-operation estimates (theta-sketch shape) ------------------
    // Per event_type: user-set overlap of two event slices (A = event_id
    // not ≡ 0 mod 3, B = even event_id) from 64-long sketches only — the
    // cross-corpus-overlap question at 100 TB without an exact distinct
    // join. Exact companions ride along; every sketch output is
    // exact-integer and replayed verbatim by the oracle.
    QuerySpec("kmv_setops_events", (s, dir) => {
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
    },
      // KMV set ops: the A/B sketches are the k smallest hashes of each
      // slice's user set; a union-sketch member's slice membership is its
      // per-user flag (rank-in-slice ≤ rank-in-union ≤ k, so sketch
      // membership ⟺ set membership — see Sketches.kmvSetEstimate). SUMs
      // CAST to BIGINT (DuckDB SUM(INTEGER) widens to HUGEINT).
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
        |FROM ex JOIN est USING (event_type) ORDER BY 1""".stripMargin),

    // ---- KMV sketch as STREAMING aggregation state -------------------------
    // The bounded-distinct-count production shape: the typed KMV aggregator
    // runs inside a streaming groupBy, so the state store holds ≤64 longs
    // per group however long the stream runs (vs dropDuplicates state that
    // grows with the distinct count). Merge-order invariance (SketchesSpec)
    // is what makes the result micro-batch-schedule-independent — the
    // oracle is the same window-over-distinct-hashes SQL as the batch query.
    QuerySpec("streaming_kmv_events", (s, dir) => {
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
    },
      // streaming KMV == batch KMV (merge-order invariance): same replay as
      // kmv_distinct_events, without the exact companion column
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
        |FROM s ORDER BY 1""".stripMargin),

    // ---- HLL as STREAMING aggregation state --------------------------------
    // Register max-merge is associative/commutative/idempotent, so the
    // streaming Complete-mode state is the same 64-byte register table the
    // batch build produces — the oracle replays it verbatim.
    QuerySpec("streaming_hll_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val hashed = stream.withColumn("__h",
        graft.scale.HashExprs.md5PrefixLong(
          col("user_id").cast("string").cast("binary"), 15))
      val sk = graft.scale.Sketches.hllDistinct(
        hashed, Seq("event_type"), col("__h"))
      Streams.runToMemory(sk, "stream_hll", OutputMode.Complete())
        .orderBy(col("event_type"))
    },
      // streaming HLL == batch HLL (register max is merge-order-free)
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
        |FROM s ORDER BY 1""".stripMargin),

    // ---- CMS as STREAMING aggregation state --------------------------------
    // The frequency-sketch counterpart of streaming_kmv_events: cmsBuild's
    // hash-agg runs as a streaming groupBy, so the state store holds the
    // fixed 4×512 counter table however long the stream runs — bounded-
    // memory heavy-hitter tracking. Counter addition is merge-order-free,
    // so the batch sketch-table oracle replays the result exactly.
    QuerySpec("streaming_cms_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val sk = graft.scale.Sketches.cmsBuild(stream, col("user_id"))
      Streams.runToMemory(sk, "stream_cms", OutputMode.Complete())
        .orderBy(col("j"), col("bucket"))
    },
      // streaming CMS == batch CMS (counter addition is merge-order-free):
      // the sketch table itself is the checked output
      """SELECT d.j,
        |  CAST(('0x' || substring(md5(CAST(d.j AS VARCHAR) || ':' ||
        |    CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 512 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events e CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS j) d
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- count-min frequency sketch over the event stream ------------------
    // Build a 4×512 CMS of per-user event counts (the sketch is a 2048-row
    // count table — constant size at any input mass, mergeable by summing
    // counters), then point-estimate the exact top-15 users. CMS placement
    // is md5-deterministic, so est and overcount replay exactly; est ≥
    // exact is the structural guarantee (asserted in SketchesSpec).
    QuerySpec("cms_counts_events", (s, dir) => {
      val ev = t(s, dir, "events")
      val sketch = graft.scale.Sketches.cmsBuild(ev, col("user_id"))
      val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(15)
      graft.scale.Sketches.cmsEstimate(sketch, top, "user_id")
        .join(top, Seq("user_id"))
        .select(col("user_id"), col("n_exact"), col("cms_est"),
          (col("cms_est") - col("n_exact")).as("overcount"))
        .orderBy(col("n_exact").desc, col("user_id"))
    },
      // CMS replay: row j's bucket for key x = md5-prefix("j:x") % 512 in
      // both engines; top-15 tie-break (count desc, user_id) is total order
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
        |ORDER BY t.n_exact DESC, t.user_id""".stripMargin),

    // ---- skew: salted two-phase aggregation (5 hot keys spread over salt
    // buckets; result is salt-independent → plain GROUP BY oracle) -----------
    QuerySpec("salted_agg_events", (s, dir) =>
      graft.scale.Skew.saltedCountSum(
          t(s, dir, "events"), Seq("event_type"), "value", 16,
          Seq(col("event_id")))
        .orderBy(col("event_type")),
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- heavy-hitter key diagnostic (decides when salting pays) -----------
    QuerySpec("heavy_hitters_events", (s, dir) =>
      graft.scale.Skew.heavyHitters(
        t(s, dir, "events"), Seq("user_id", "event_type"), 25),
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT COUNT(*) AS total FROM events)
        |SELECT user_id, event_type, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / total, 6) AS share
        |FROM c, t ORDER BY cnt DESC, user_id, event_type LIMIT 25""".stripMargin),

    // ---- exact join-cardinality pricing (the pre-join advisor) -------------
    // The l_partkey SELF-join priced without running it: Σ c² from one
    // histogram — the number that decides whether basket-pair generation
    // needs a cap/salt before the shuffle.
    QuerySpec("join_cardinality_lineitem", (s, dir) =>
      graft.scale.Skew.joinCardinality(
        t(s, dir, "lineitem"), "l_partkey",
        t(s, dir, "lineitem"), "l_partkey"),
      // Σ_k cA(k)·cB(k) from the key histograms — the join priced without
      // the join; NULL keys count in table sizes but never join
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
        |FROM j, la, lb""".stripMargin),

    // ---- streaming top-k heavy hitters (Complete-mode count state) ---------
    // The streaming twin of heavy_hitters_events: per-key counts as
    // streaming aggregation state (one long per key in the state store),
    // the top-k + share read runs over the drained state table.
    QuerySpec("streaming_topk_events", (s, dir) => {
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
    },
      """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk,
        |    user_id, n
        |  FROM c)
        |SELECT rk, user_id, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n AS DOUBLE) / tot, 6) AS share
        |FROM r, tot WHERE rk <= 20 ORDER BY rk""".stripMargin),

    // ---- deterministic KLL-shaped quantile sketch (guaranteed rank err) ----
    // md5-bit tournament compaction over the value dictionary: k=1024 ->
    // L = ceil(log2(n/k)) levels, every pick's |surv_rank - target| is
    // emitted exact beside its 2^L - 1 worst-case guarantee (adversarial-
    // input deterministic, unlike the sampling-error sample_quantiles).
    QuerySpec("kll_quantiles_lineitem", (s, dir) =>
      graft.scale.Sketches.kllQuantiles(
          t(s, dir, "lineitem").withColumn("cents",
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long")),
          "cents", 1024, kllProbes)
        .orderBy(col("q_num")),
      // deterministic KLL sketch: dictionary + tournament-descent fold
      kllOracle),

    // ---- per-group KLL sketch (the grouped form of the family) -------------
    QuerySpec("kll_quantiles_by_flag_lineitem", (s, dir) =>
      graft.scale.Sketches.kllQuantilesBy(
          t(s, dir, "lineitem").withColumn("cents",
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long")),
          "cents", Seq("l_returnflag"), 1024, kllProbes)
        .orderBy(col("l_returnflag"), col("q_num")),
      kllByOracle),

    // ---- STREAMING per-group KLL (per-group value-dictionary state) --------
    QuerySpec("streaming_kll_quantiles_by_flag_lineitem", (s, dir) => {
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
    },
      // grouped KLL twin: per-group (value, count) Complete-mode state
      kllByOracle),

    // ---- STREAMING KLL sketch (value-dictionary Complete-mode state) -------
    // The pre-compaction state is the associative (value, count) monoid —
    // micro-batch-order-free — and the deterministic compaction + picks
    // fold on the drained dictionary (the streaming_percentiles shape;
    // same bounded-domain caveat, same batch oracle verbatim).
    QuerySpec("streaming_kll_quantiles_lineitem", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "lineitem"), dir, "lineitem")
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      val counts = stream.groupBy(col("cents").as("v"))
        .agg(count(lit(1)).as("c"))
      val drained = Streams.runToMemory(counts, "stream_kll",
        OutputMode.Complete())
      graft.scale.Sketches.kllFromCounts(drained, 1024, kllProbes)
        .orderBy(col("q_num"))
    },
      // KLL twin: the (value, count) Complete-mode state is the batch
      // dictionary (associative monoid) — same SQL verbatim
      kllOracle),

    // ---- market-basket frequent pairs (A-priori level 2) ------------------
    // Part pairs co-ordered in >= 2 orders, with support and exact
    // cross-multiplied lift; pair mass is per-basket C(size,2), never
    // corpus^2.
    QuerySpec("basket_pairs_lineitem", (s, dir) =>
      Baskets.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", 2)
        .orderBy(col("item_a"), col("item_b")),
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
        |ORDER BY item_a, item_b""".stripMargin),

    // ---- ABC / Pareto revenue classification ------------------------------
    // Parts ranked by exact revenue cents; A while the cumulative share
    // stays within 80%, B within 95%, C beyond — boundaries decided by
    // integer cross-multiplication, never a float share.
    QuerySpec("abc_analysis_lineitem", (s, dir) =>
      Baskets.abcAnalysis(t(s, dir, "lineitem"),
          "l_partkey", "l_extendedprice")
        .orderBy(col("rank")),
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
        |FROM r, tot ORDER BY rank""".stripMargin)
  )
}
