"""Output check of the operator workloads against the DuckDB oracle.

Each query's output (one parquet directory per query, written by the
runner's check pass) is compared with its oracle SQL run in DuckDB over the
same input parquet: columns sorted by name, rows sorted by all columns,
values compared exactly, dtype-sensitive (the repository's oracle-parity
rule, as tools/check_oracle.py applies it). The SQL and the compare are kept
inside the benchmark, so that no change outside it can alter the check: a
change to a query's result fails it even when the program's own oracle SQL
changes along with it.
"""
import os

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# The DuckDB oracle SQL of every sampled query, frozen here as the program
# declared it (graft.SparkEntry.oracleSql) when the sample was chosen.
ORACLE = {
    "q1_pricing_summary": r"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    "minhash_pairs_docs": r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
mh AS (
  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
  FROM sh, UNNEST(range(0, 8)) AS su(s)
  GROUP BY doc_id, s),
bands AS (
  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
  FROM mh GROUP BY doc_id, s // 2)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
ORDER BY id_a, id_b
""",
    "error_detection_end_to_end_part": r"""
WITH t1 AS (
  SELECT CASE WHEN p_partkey % 50 = 0 THEN p_brand || '_xx'
    ELSE p_brand END AS val,
    CASE WHEN p_partkey % 50 = 0 THEN 'yes' ELSE 'no' END AS gold
  FROM part WHERE p_partkey % 10 = 0),
v1 AS (SELECT DISTINCT p_brand AS w FROM part WHERE p_partkey % 10 <> 0),
t2 AS (
  SELECT CASE WHEN p_partkey % 50 = 0 THEN p_type || '_xx'
    ELSE p_type END AS val,
    CASE WHEN p_partkey % 50 = 0 THEN 'yes' ELSE 'no' END AS gold
  FROM part WHERE p_partkey % 10 = 0),
v2 AS (SELECT DISTINCT p_type AS w FROM part WHERE p_partkey % 10 <> 0),
lab AS (
  SELECT 'pbrand' AS target,
    CASE WHEN v1.w IS NULL THEN 'yes' ELSE 'no' END AS pred, gold
  FROM t1 LEFT JOIN v1 ON t1.val = v1.w
  UNION ALL
  SELECT 'ptype' AS target,
    CASE WHEN v2.w IS NULL THEN 'yes' ELSE 'no' END AS pred, gold
  FROM t2 LEFT JOIN v2 ON t2.val = v2.w),
c AS (
  SELECT target, COUNT(*) AS total,
    CAST(SUM(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS crc,
    CAST(SUM(CASE WHEN gold = 'yes' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN gold = 'yes' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN gold = 'no' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
    CAST(SUM(CASE WHEN gold = 'no' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fp
  FROM lab GROUP BY target),
p AS (
  SELECT *,
    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fp), 6) AS prec,
    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fn), 6) AS rec,
    ROUND(CAST(crc AS DOUBLE) / total, 6) AS acc
  FROM c)
SELECT target, total, crc, tp, fn, tn, fp, prec, rec, acc,
  ROUND(2.0 * prec * rec / GREATEST(1.0, prec + rec), 6) AS f1_legacy,
  ROUND(CASE WHEN prec + rec > 0.0
    THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END, 6) AS f1
FROM p ORDER BY target
""",
    "streaming_session_events": r"""
WITH e AS (
  SELECT user_id, value, CAST(EPOCH_US(ts) AS BIGINT) AS us
  FROM events),
l AS (
  SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
  FROM e),
f AS (
  SELECT *, CASE WHEN prev IS NULL OR us - prev >= 1800000000
    THEN 1 ELSE 0 END AS ns
  FROM l),
s AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us
    ROWS UNBOUNDED PRECEDING) AS sid
  FROM f)
SELECT user_id,
  MIN(us) AS start_us,
  MAX(us) + 1800000000 AS end_us,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid
ORDER BY user_id, start_us
""",
    "streaming_corpus_dedup_docs": r"""
WITH toks AS (
  SELECT doc_id, source,
    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, source, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
keys AS (
  SELECT doc_id, source, MIN(md5(sh)) AS fp
  FROM sh GROUP BY doc_id, source),
ck AS (SELECT DISTINCT fp FROM keys WHERE doc_id % 10 < 8),
inc AS (SELECT doc_id, source, fp FROM keys WHERE doc_id % 10 >= 8)
SELECT source, COUNT(*) AS n_kept
FROM inc i
WHERE NOT EXISTS (SELECT 1 FROM ck WHERE ck.fp = i.fp)
GROUP BY source ORDER BY source
""",
}


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _cells(df):
    import numpy as np
    import pandas as pd
    out = []
    for row in df.itertuples(index=False):
        cells = []
        for v in row:
            if v is None or (isinstance(v, (float, np.floating)) and pd.isna(v)):
                cells.append("NULL")
            elif isinstance(v, (float, np.floating)):
                cells.append(repr(float(v)))
            elif isinstance(v, (bool, np.bool_)):
                cells.append(str(bool(v)))
            elif isinstance(v, (int, np.integer)):
                cells.append(str(int(v)))
            else:
                cells.append(str(v))
        out.append("|".join(cells))
    return out


def compare(check_dir, data_dir, log, only=None):
    """Number of queries (all of ORACLE, or those named in `only`) whose
    output under check_dir differs from the oracle's."""
    import duckdb
    import pandas as pd

    names = sorted(ORACLE if not only else only.split(","))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    bad = 0
    for name in names:
        try:
            sql = ORACLE.get(name)
            if not sql:
                raise ValueError("no oracle SQL frozen for this query")
            got = _canon(pd.read_parquet(os.path.join(check_dir, name)))
            want = _canon(con.execute(sql).df())
            if list(got.columns) != list(want.columns):
                raise ValueError(f"columns {list(got.columns)} vs {list(want.columns)}")
            if len(got) != len(want):
                raise ValueError(f"rows {len(got)} vs {len(want)}")
            g, w = _cells(got), _cells(want)
            if g != w:
                i = next(i for i, (x, y) in enumerate(zip(g, w)) if x != y)
                raise ValueError(f"row {i}: {g[i][:160]} vs {w[i][:160]}")
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            log(f"check {name}: {e}")
            bad += 1
    con.close()
    return bad
