"""Seeded input generators for the benchmark workloads.

Wrangling inputs follow the four reference layouts (FIXTURES.md A1-A4) and
come with the outputs the pipeline must produce on them. The data is planted
so those outputs are known by construction, for every seed:

* transformation files each follow one planted program (upper-case, a fixed
  prefix, or an integer unit scale); the rule synthesizer must learn exactly
  that program and score accuracy 1.0 on the test lines;
* entity-matching, imputation and error-detection splits have every train
  text distinct and no test text equal to a train text, so the learned
  program is a 3-entry demo dictionary that misses on every test row, and
  every test row scores as the "Not excutable" sentinel.

The operator corpus mirrors the schemas of the harness parquet corpus
(FIXTURES.md B) at a chosen scale factor.

The same seed gives byte-identical files.
"""
import json
import os
import random

# -- wrangling layouts -------------------------------------------------------

SYLLABLES = ["ba", "ce", "di", "fo", "gu", "ka", "le", "mi", "pu", "ro",
             "sa", "te", "vi", "wo", "za", "qu", "xe", "ly", "tr", "br"]

# task kind -> dataset names (must be known to graft.core.TaskRegistry)
EM_SETS = ["Beer", "Fodors-Zagats"]
IMPUTE_SETS = {"Buy": ("manufacturer", ["name", "description", "price"]),
               "Restaurant": ("city", ["name", "addr", "phone", "type"])}
ED_SETS = {"Hospital": ["city", "county", "state"],
           "Adult": ["education", "occupation", "relationship"]}
TRANSFORM_SETS = ["bing-query-logs", "stackoverflow", "FF-Trifacta-GoogleRefine"]

# Workload shape. Row counts are per split; "files" is transformation pair
# files per benchmark, "lines" the pairs per file (the first 3 are train).
SHAPE = dict(em_sets=1, em_rows=400, em_train=120, em_test=80,
             imp_sets=1, imp_train=120, imp_test=60,
             ed_sets=1, ed_cols=2, ed_train=80, ed_test=60,
             tr_sets=1, files=5, lines=10)


def _word(rng, n_syll):
    return "".join(rng.choice(SYLLABLES) for _ in range(n_syll))


class _Unique:
    """Draws values distinct from every value drawn before, so that no
    test text can equal a train text."""

    def __init__(self, rng):
        self.rng, self.taken = rng, set()

    def draw(self, make):
        while True:
            v = make(self.rng)
            if v not in self.taken:
                self.taken.add(v)
                return v


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def _csv(path, header, rows):
    _write(path, "\n".join([",".join(header)] +
                           [",".join(str(v) for v in r) for r in rows]) + "\n")


def _metrics(n_test, n_yes, n_no, solved):
    """Metrics.confusionMetrics of one split: a solved task predicts every
    row exactly; an unsolved one predicts the sentinel on every row."""
    crc = n_test if solved else 0
    return {"total": n_test, "crc": crc, "tp": 0, "fn": 0 if solved else n_yes,
            "tn": 0, "fp": 0 if solved else n_no, "prec": 0.0, "rec": 0.0,
            "acc": 1.0 if solved else 0.0, "f1_legacy": 0.0, "f1": 0.0}


def _expected(tasks):
    """metrics.json / learned_funcs.json content for one dataset run, from
    [(task name, program description, n_test, n_yes, n_no, solved)]."""
    out = {}
    glob = {k: 0 for k in ("total", "crc", "fn", "fp")}
    for name, _, n, y, no, solved in tasks:
        m = _metrics(n, y, no, solved)
        for k, v in m.items():
            out[f"{name}_{k}"] = float(v)
        for k in glob:
            glob[k] += m[k]
    g = _metrics(glob["total"], glob["fn"], glob["fp"], False)
    g["crc"], g["acc"] = glob["crc"], round(glob["crc"] / glob["total"], 6)
    for k, v in g.items():
        out[f"global_{k}"] = float(v)
    accs = [1.0 if t[5] else 0.0 for t in tasks]
    mean = sum(accs) / len(accs)
    out["acc_mean"] = mean
    out["acc_std"] = (sum((a - mean) ** 2 for a in accs) / len(accs)) ** 0.5
    return {"metrics": out, "learned_funcs": [t[1] for t in tasks]}


def _gen_em(rng, root, name, s):
    u = _Unique(rng)
    def table(prefix):
        return [(i, u.draw(lambda r: f"{_word(r, 2)} {_word(r, 3)} {prefix}{r.randrange(10**6)}"),
                 _word(rng, 2), f"{rng.randrange(100, 99999) / 100:.2f}")
                for i in range(s["em_rows"])]
    header = ["id", "title", "manufacturer", "price"]
    _csv(f"{root}/tableA.csv", header, table("a"))
    _csv(f"{root}/tableB.csv", header, table("b"))
    pairs = set()
    def split(n):
        rows = []
        while len(rows) < n:
            p = (rng.randrange(s["em_rows"]), rng.randrange(s["em_rows"]))
            if p not in pairs:
                pairs.add(p)
                rows.append((p[0], p[1], 1 if rng.random() < 0.3 else 0))
        return rows
    train, test = split(s["em_train"]), split(s["em_test"])
    for f, rows in (("train.csv", train), ("test.csv", test)):
        _csv(f"{root}/{f}", ["ltable_id", "rtable_id", "label"], rows)
    _write(f"{root}/instruction.txt",
           "//Are Product A and Product B the same entity?\n")
    yes = sum(r[2] for r in test)
    return [(name, "dict(3 entries)", len(test), yes, len(test) - yes, False)]


def _gen_impute(rng, root, name, s):
    target, attrs = IMPUTE_SETS[name]
    u = _Unique(rng)
    targets = [_word(rng, 2) for _ in range(12)]
    def rows(n, start):
        out = []
        for i in range(n):
            key = u.draw(lambda r: f"{_word(r, 3)} {r.randrange(10**6)}")
            vals = [key] + [_word(rng, 2) for _ in attrs[1:]]
            out.append([start + i] + vals + [rng.choice(targets)])
        return out
    header = ["id"] + attrs + [target]
    valid, test = rows(s["imp_train"], 0), rows(s["imp_test"], 10**7)
    _csv(f"{root}/valid.csv", header, valid)
    _csv(f"{root}/test.csv", header, test)
    return [(name, "dict(3 entries)", len(test), 0, 0, False)]


def _gen_ed(rng, root, name, s):
    u = _Unique(rng)
    def value(r):
        return f"{_word(r, 3)}{r.randrange(1000)}"
    tasks = []
    cols = ED_SETS[name][:s["ed_cols"]]
    for split, n in (("train", s["ed_train"]), ("test", s["ed_test"])):
        for c in cols:
            rows = [(u.draw(value), 1 if rng.random() < 0.8 else 0)
                    for _ in range(n)]
            _csv(f"{root}/{split}_splits_single/{name.lower()}_{split}_{c}.csv",
                 [c, "is_clean"], rows)
            if split == "test":
                errors = sum(1 for r in rows if r[1] == 0)
                tasks.append((c, errors, n - errors))
    # readTasks co-sorts the per-column splits by instruction text, which
    # embeds the column name: task i is the i-th column in name order
    return [(f"{name}_{i}", "dict(3 entries)", n_yes + n_no, n_yes, n_no, False)
            for i, (_, n_yes, n_no) in enumerate(sorted(tasks))]


PREFIXES = ["ID-", "SKU-", "REF-", "NO.", "#"]
UNITS = [("m", 100), ("km", 1000), ("cm", 10)]


def _planted(rng):
    kind = rng.choice(["upper", "prefix", "scale"])
    if kind == "upper":
        return (lambda r: " ".join(_word(r, r.randrange(1, 4)) for _ in range(r.randrange(1, 4))),
                lambda x: x.upper(), "upper")
    if kind == "prefix":
        p = rng.choice(PREFIXES)
        return (lambda r: f"{_word(r, 2)}{r.randrange(10, 10**5)}",
                lambda x: p + x, f"surround('{p}','')")
    unit, factor = rng.choice(UNITS)
    return (lambda r: f"{r.randrange(1, 10**4)} {unit}",
            lambda x: str(int(x.split()[0]) * factor),
            f"affine(*{float(factor)}+0.0, 0 dp)")


def _gen_transform(rng, root, name, s):
    tasks = []
    for i in range(s["files"]):
        make, prog, desc = _planted(rng)
        lines = ["//Transform the input the same way as the examples"]
        lines += [f"{x}\t\t{prog(x)}" for x in (make(rng) for _ in range(s["lines"]))]
        fname = f"task{i:03d}.txt"
        _write(f"{root}/{fname}", "\n".join(lines) + "\n")
        tasks.append((f"{name}_{fname}", desc, s["lines"] - 3, 0, 0, True))
    return tasks


def gen_wrangle(out_dir, seed):
    """Write the wrangling datasets under out_dir/<dataset>/ and return
    {dataset: expected outputs} plus row and file counts."""
    s = SHAPE
    rng = random.Random(f"wrangle_paper:{seed}")
    plan = ([(n, _gen_em) for n in EM_SETS[:s["em_sets"]]] +
            [(n, _gen_impute) for n in list(IMPUTE_SETS)[:s["imp_sets"]]] +
            [(n, _gen_ed) for n in list(ED_SETS)[:s["ed_sets"]]] +
            [(n, _gen_transform) for n in TRANSFORM_SETS[:s["tr_sets"]]])
    expected = {}
    for name, gen in plan:
        expected[name] = _expected(gen(rng, f"{out_dir}/{name}", name, s))
    files = sum(len(fs) for _, _, fs in os.walk(out_dir))
    tasks = sum(len(e["learned_funcs"]) for e in expected.values())
    test_rows = sum(int(v) for e in expected.values()
                    for k, v in e["metrics"].items() if k == "global_total")
    _write(f"{out_dir}/expected.json", json.dumps(expected, sort_keys=True))
    return {"datasets": [n for n, _ in plan], "tasks": tasks,
            "test_rows": test_rows, "files": files}


# -- operator corpus ---------------------------------------------------------

DOC_VOCAB = ("a the data table query row column key value part order line "
             "customer batch stream window spark scan sort merge join hash "
             "group agg filter fast slow big small vector").split()


def gen_corpus(out_dir, sf, seed):
    """TPC-H-shaped tables plus events/documents/embeddings, as parquet."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    def n(base):
        return max(1, int(round(base * sf)))
    def money(lo, hi, size):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), size) / 100, 2)
    def days(start, n_days, size):
        d = np.datetime64(start) + rng.integers(0, n_days, size).astype("timedelta64[D]")
        return d.astype("datetime64[us]")
    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": names})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    nc, ns, np_, no = n(150000), n(10000), n(200000), n(1500000)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": segs[rng.integers(0, 5, nc)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    adj = ["blue", "red", "green", "small", "large", "shiny", "tiny", "big"]
    noun = ["anvil", "bolt", "widget", "ring", "gear", "spring", "nut", "pipe"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": types[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 2)})
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": status[rng.integers(0, 3, no)],
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": days("1995-01-01", 2400, no),
        "o_orderpriority": prio[rng.integers(0, 5, no)]})
    nl = 4 * no
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": days("1995-01-02", 2500, nl)})
    ne = n(1000000)
    gaps = rng.integers(1, 2 * 2592000 * 10**6 // ne, ne)   # ~30 days
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    write("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": (np.datetime64("2024-01-01") + np.cumsum(gaps).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(2, n(15000)), ne), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, ne)],
        "value": money(0.01, 490.02, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = 500
    texts = []
    for i in range(nd):
        if i and rng.random() < 0.1:   # near-duplicates for the dedup ops
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
        else:
            words = [DOC_VOCAB[j] for j in rng.integers(0, len(DOC_VOCAB), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, nd)],
        "source": [f"src{j}" for j in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, 500)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.5 * rng.normal(size=(500, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(500), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
