package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streams

import Shared._

/** Pairwise-preference queries over fabricated arena matches: Bradley-Terry,
  * Plackett-Luce, Copeland, rank centrality and win-rate panels.
  * Each [[QuerySpec]] pairs a builder with its DuckDB oracle SQL.
  */
object PreferenceQueries {

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

  // ---- preference fitting: Bradley-Terry MM rounds + Elo-style report ----
  // Arena-style matches fabricated from events: players a = event_id % 12,
  // b = (event_id div 12) % 12 (a = b dropped), outcome keyed on
  // user_id % 10 — 0 tie, 1..6 the LOWER index wins, 7..9 the higher, so
  // player 0 is strongest and the fit recovers a skill gradient. Three
  // exact-integer MM rounds over the (lo, hi) pair dictionary
  // (Preference.bradleyTerryMicro); elo the only (rounded) float.
  private val bradleyTerryEvents: QuerySpec =
    QuerySpec("bradley_terry_events", (s, dir) =>
      graft.scale.Preference.bradleyTerryMicro(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc", 3)
        .orderBy(col("strength_micro").desc, col("player")),
      // Bradley-Terry: MM rounds unrolled (the pagerank convention)
      bradleyTerryOracle(3))

  // ---- Rank Centrality spectral preference fit ---------------------------
  // The random-walk cross-check on the SAME matches: stationary mass of
  // the win-fraction chain (Negahban-Oh-Shah), exact micro-longs over
  // the shared pair dictionary — robust where BT's count-weighted
  // likelihood over-trusts replayed pairs.
  private val rankCentralityEvents: QuerySpec =
    QuerySpec("rank_centrality_events", (s, dir) =>
      graft.scale.Preference.rankCentralityMicro(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc", 3)
        .orderBy(col("pi_micro").desc, col("player")),
      rankCentralityOracle(3))

  // ---- Plackett-Luce listwise fit (3-way rankings) -----------------------
  // The k-way generalization of the BT fit: two choice stages per race,
  // exact-integer MM rounds over the ordered-triple pattern dictionary.
  private val plackettLuceEvents: QuerySpec =
    QuerySpec("plackett_luce_events", (s, dir) =>
      graft.scale.Preference.plackettLuceMicro(
        arenaRaces(t(s, dir, "events")), "f", "s", "t3", 3)
        .orderBy(col("strength_micro").desc, col("player")),
      // Plackett-Luce: two-stage MM rounds over the triple dictionary
      plackettLuceOracle(3))

  val specs: Seq[QuerySpec] = Seq(
    bradleyTerryEvents,

    // ---- BOOTSTRAPPED Bradley-Terry (per-player SE + envelope) -------------
    // The leaderboard op with uncertainty: 32 Poisson(1) match-resampled
    // keyed MM fits in ONE dictionary-scale job (the one-scan bootstrap
    // composed with the rep-keyed fit), moment SE + exact envelope per
    // player beside the point fit.
    QuerySpec("bootstrap_bradley_terry_events", (s, dir) =>
      graft.scale.Preference.bradleyTerryBootstrap(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc", "mid", 32, 3)
        .orderBy(col("strength_micro").desc, col("player")),
      // bootstrap BT: long-format Poisson weights, rep-keyed MM chain
      bradleyTerryBootOracle(32, 3)),

    // ---- STREAMING Bradley-Terry (pair-count dictionary as Complete-mode
    // state; the MM fold replays on drain — fromPairs ∘ pairCounts is the
    // batch fit by construction, so the oracle is the batch SQL verbatim) --
    QuerySpec("streaming_bradley_terry_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = graft.scale.Preference.pairCounts(
        arenaMatches(stream), "pa", "pb", "oc")
      val drained = Streams.runToMemory(counts, "stream_bt",
        OutputMode.Complete())
      graft.scale.Preference.bradleyTerryFromPairs(drained, 3)
        .orderBy(col("strength_micro").desc, col("player"))
    },
      // preference twins: the pair-count dictionary is associative
      // Complete-mode state; the drained folds ARE the batch operators
      // (fromPairs ∘ pairCounts spec-pinned) — batch SQL verbatim
      bradleyTerryEvents.oracleSql),

    // ---- Condorcet / Copeland head-to-head panel ---------------------------
    // The non-parametric companion to the BT fit on the SAME matches:
    // majority graph per pair, Copeland score = h2h wins - losses,
    // is_condorcet flags a player beating every opponent faced.
    QuerySpec("copeland_events", (s, dir) =>
      graft.scale.Preference.copelandPanel(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc")
        .orderBy(col("copeland").desc, col("player")),
      // Copeland/Condorcet: majority-graph fold on the same dictionary
      copelandOracle),

    rankCentralityEvents,

    // ---- STREAMING Rank Centrality (the SAME pair-count state) -------------
    // The preference-family twin convention: the associative pair
    // dictionary is Complete-mode state; the walk runs over the drained
    // table and shares the batch oracle verbatim.
    QuerySpec("streaming_rank_centrality_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = graft.scale.Preference.pairCounts(
        arenaMatches(stream), "pa", "pb", "oc")
      val drained = Streams.runToMemory(counts, "stream_rc",
        OutputMode.Complete())
      graft.scale.Preference.rankCentralityFromPairs(drained, 3)
        .orderBy(col("pi_micro").desc, col("player"))
    },
      rankCentralityEvents.oracleSql),

    plackettLuceEvents,

    // ---- STREAMING Plackett-Luce (pattern dictionary as Complete state) ---
    QuerySpec("streaming_plackett_luce_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = graft.scale.Preference.raceCounts(
        arenaRaces(stream), "f", "s", "t3")
      val drained = Streams.runToMemory(counts, "stream_pl",
        OutputMode.Complete())
      graft.scale.Preference.plackettLuceFromCounts(drained, 3)
        .orderBy(col("strength_micro").desc, col("player"))
    },
      // PL twin: the pattern dictionary is associative Complete state
      plackettLuceEvents.oracleSql),

    // ---- pairwise win-rate matrix (the leaderboard's second table) --------
    QuerySpec("winrate_matrix_events", (s, dir) =>
      graft.scale.Preference.pairCounts(
          arenaMatches(t(s, dir, "events")), "pa", "pb", "oc")
        .select(col("lo"), col("hi"), col("n2"), col("w2lo"),
          round(col("w2lo").cast("double") / col("n2").cast("double"), 6)
            .as("winrate_lo"))
        .orderBy(col("lo"), col("hi")),
      // pairwise win-rate matrix over the shared pair dictionary
      s"""$btPairCtes
         |SELECT lo, hi, n2, w2lo,
         |  ROUND(CAST(w2lo AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
         |    AS winrate_lo
         |FROM pr ORDER BY lo, hi""".stripMargin),

    // ---- majority-graph transitivity (cyclic-triad census) -----------------
    // Rock-paper-scissors triads among decided head-to-heads — the "is
    // there a consistent ranking at all" gate before publishing a BT or
    // Copeland ladder (Kendall & Babington Smith 1940).
    QuerySpec("majority_cycles_events", (s, dir) =>
      graft.scale.Preference.majorityCycles(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc"),
      // majority-cycle triad census over the decided pair dictionary
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

    // ---- STREAMING Copeland (the SAME pair-count state, majority fold) ----
    QuerySpec("streaming_copeland_events", (s, dir) => {
      val stream = Streams.corpusStream(t(s, dir, "events"), dir, "events")
      val counts = graft.scale.Preference.pairCounts(
        arenaMatches(stream), "pa", "pb", "oc")
      val drained = Streams.runToMemory(counts, "stream_cope",
        OutputMode.Complete())
      graft.scale.Preference.copelandFromPairs(drained)
        .orderBy(col("copeland").desc, col("player"))
    },
      copelandOracle)
  )
}
