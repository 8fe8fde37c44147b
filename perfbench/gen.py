"""Seeded input generator for the perfbench workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical tables. Beside the inputs each workload directory holds
`truth.json`, the generator's own record of what it planted (copies,
nulls, parsed dates, category sets, near-duplicate pairs with their true
Jaccard, contaminated ids). The checker (check.py) compares program
outputs against that record and against DuckDB recomputations; it never
consults the program.

The tables are synthetic but shaped like the TPC-H-style sf0.1 corpus the
repository's own tests use (lineitem / orders / customer columns, a
documents table with doc_id/text/lang/source, an embeddings table with
vec_id/embedding/label). They are generated here rather than read from a
fixed dataset so that the benchmark needs nothing outside its checkout.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (one place; README.md quotes them) ------------------------------
TABLE_LINEITEMS = 300         # the nine-operator upload of every round
TABLE_ORDERS = 100
TABLE_CUSTOMERS = 40
TABLE_COPY_FRAC = 0.03
TABLE_OUTLIER_FRAC = 0.01


CORPUS_BASE_DOCS = 3_000
CORPUS_BAD_DOCS = 150
CORPUS_COPIES = 150
CORPUS_FAMILIES = 120
CORPUS_CONTAMINATED = 80
CORPUS_BENCH_DOCS = 60
EMB_CORPUS = 10_000
EMB_QUERIES = 100
EMB_DIM = 64
EMB_CLUSTERS = 64

# Operator parameters of corpus_prep, defined here only: the harness reads
# them from the params.tsv written beside the inputs, the checker from here.
NEARDUP_THRESHOLD = 0.7
NEARDUP_MARGIN = 0.15            # planted pairs sit >= threshold + margin
CONTAM_N = 13
CAP_PER_LANG = 700
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 8
PACK_WINDOW = 512
ANN_K = 10
ANN_NLIST = 16
ANN_NPROBE = 4

# The reference's common-typo dictionary (typo -> fix).
TYPOS = {
    "teh": "the", "adn": "and", "thier": "their", "recieve": "receive",
    "seperate": "separate", "definately": "definitely", "occured": "occurred",
    "begining": "beginning", "untill": "until", "mispelled": "misspelled",
    "accomodate": "accommodate", "embarass": "embarrass",
    "goverment": "government", "liesure": "leisure",
    "maintainance": "maintenance", "necesary": "necessary",
    "occassion": "occasion", "posession": "possession",
    "priviledge": "privilege", "recomend": "recommend", "unitd": "united",
    "managment": "management", "deparment": "department",
    "devlopment": "development", "busness": "business", "finace": "finance",
}
FIXES = sorted(set(TYPOS.values()))
FIX_TO_TYPO = {v: k for k, v in TYPOS.items()}
COMMENT_WORDS = FIXES + [
    "carefully", "final", "deposits", "quickly", "express", "packages",
    "regular", "accounts", "pending", "requests", "ironic", "furiously",
    "blithely", "special", "theodolites", "slyly", "bold", "instructions",
    "even", "foxes", "silent", "ideas", "unusual", "platelets"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
BOOL_TRUE = ["Y", "yes", "TRUE", "t", "1"]
BOOL_FALSE = ["N", "no", "FALSE", "f", "0"]
DATE_FORMATS = ["%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%Y/%m/%d",
                "%m/%d/%Y %H:%M", "%m/%d/%Y", "%d-%m-%Y"]
EPOCH = dt.datetime(1970, 1, 1)
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]


# ---- dirt helpers (vectorised: one random draw per cell) --------------------

def case_noise(rng, xs):
    r = rng.random(len(xs))
    return [x.lower() if p < 0.3 else x.title() if p < 0.5 else x
            for x, p in zip(xs, r)]


def ws_noise(rng, xs):
    r = rng.random(len(xs))
    return ["  " + x if p < 0.15 else x + "   " if p < 0.3
            else x.replace(" ", "   ") if p < 0.4 else x for x, p in zip(xs, r)]


def pad_noise(rng, xs):
    """Leading/trailing spaces only (values the type probes still trim)."""
    r = rng.random(len(xs))
    return ["  " + x if p < 0.15 else x + "   " if p < 0.3 else x
            for x, p in zip(xs, r)]


GARBAGE = ["n/a", "unknown", "-", "?"]


def stringly_numbers(rng, vals, integral):
    """Numbers as a user's CSV holds them: (strings, parsed truth); about
    4% are unparseable tokens whose truth is None."""
    n = len(vals)
    r = rng.random(n)
    g = rng.integers(0, len(GARBAGE), n)
    strs, truth = [], []
    for v, p, gi in zip(vals, r, g):
        if p < 0.04:
            strs.append(GARBAGE[gi])
            truth.append(None)
            continue
        if integral:
            x = ("+" if p < 0.2 else "") + str(int(v))
        elif p < 0.1:
            x = f"{v:.4e}"
        else:
            x = f"{v:.2f}"
        strs.append(x)
        truth.append(float(x))
    return ws_noise(rng, strs), truth


def comments(rng, n):
    """Free text: (dirty, clean) pairs; dirty has typos, case and
    whitespace noise, clean is what cleaning must give back."""
    lens = rng.integers(4, 12, n)
    idx = rng.integers(0, len(COMMENT_WORDS), int(lens.sum()))
    typo = rng.random(len(idx))
    case = rng.random(len(idx))
    sep = rng.random(n)
    dirty, clean = [], []
    k = 0
    for i in range(n):
        ws, ds = [], []
        for _ in range(lens[i]):
            w = COMMENT_WORDS[idx[k]]
            ws.append(w)
            d = FIX_TO_TYPO[w] if w in FIX_TO_TYPO and typo[k] < 0.5 else w
            c = case[k]
            ds.append(d.upper() if c < 0.2 else d.title() if c < 0.4 else d)
            k += 1
        clean.append(" ".join(ws))
        dirty.append(("  " if sep[i] < 0.3 else " ").join(ds))
    return ws_noise(rng, dirty), clean


DATE_GARBAGE = ["not a date", "2021-13-45", "TBD"]
# what each format keeps of an instant: seconds, minutes or whole days
DATE_KEEP = [1, 86400, 86400, 60, 86400, 86400]


def date_strings(rng, secs):
    """Mixed-format renderings of instants (epoch seconds): (strings, truth
    micros); about 5% are unparseable and their truth is None."""
    n = len(secs)
    r = rng.random(n)
    f = rng.integers(0, len(DATE_FORMATS), n)
    g = rng.integers(0, len(DATE_GARBAGE), n)
    strs, truth = [], []
    for t, p, fi, gi in zip(secs, r, f, g):
        if p < 0.05:
            strs.append(DATE_GARBAGE[gi])
            truth.append(None)
            continue
        t = int(t)
        strs.append((EPOCH + dt.timedelta(seconds=t)).strftime(DATE_FORMATS[fi]))
        truth.append((t - t % DATE_KEEP[fi]) * 1_000_000)
    return strs, truth


def nulls(rng, xs, frac, truth=None):
    """Replace a `frac` share of values (and their truth) with None."""
    r = rng.random(len(xs))
    out = [None if p < frac else x for x, p in zip(xs, r)]
    if truth is None:
        return out
    return out, [None if p < frac else x for x, p in zip(truth, r)]


def pick(rng, options, n):
    return [options[i] for i in rng.integers(0, len(options), n)]


# ---- the nine-operator table ---------------------------------------------------

BASE_SECS = int((dt.datetime(1992, 1, 1) - EPOCH).total_seconds())


def gen_joined_tables(rng, n_items, n_orders, n_cust, copy_frac, outlier_frac):
    # customer
    c_key = np.arange(1, n_cust + 1, dtype=np.int64)
    c_name = ws_noise(rng, case_noise(rng, [f"Customer#{k:09d}" for k in c_key]))
    seg = pick(rng, SEGMENTS, n_cust)
    c_seg, seg_clean = nulls(rng, ws_noise(rng, case_noise(rng, seg)), 0.03,
                             [x.lower() for x in seg])
    seg_clean = ["" if x is None else x for x in seg_clean]
    c_bal, c_bal_v = stringly_numbers(rng, rng.uniform(-999, 9999, n_cust), False)
    c_bal, c_bal_v = nulls(rng, c_bal, 0.03, c_bal_v)
    since = BASE_SECS + rng.integers(0, 2500, n_cust) * 86400
    c_since, since_t = nulls(rng, pad_noise(rng, [
        (EPOCH + dt.timedelta(seconds=int(t))).strftime("%d.%m.%Y") for t in since]),
        0.05, [int(t) * 1_000_000 for t in since])
    customer = pa.table({
        "c_custkey": c_key, "c_name": c_name, "c_mktsegment": c_seg,
        "c_acctbal": c_bal, "c_since": c_since})
    # orders
    o_key = np.arange(1, n_orders + 1, dtype=np.int64)
    o_cust = rng.integers(1, n_cust + 1, n_orders).astype(np.int64)
    o_date, o_date_t = date_strings(
        rng, BASE_SECS + rng.integers(0, 2400 * 86400, n_orders))
    o_date = [s if t is None else p for s, t, p in zip(o_date, o_date_t, pad_noise(rng, o_date))]
    prio = pick(rng, PRIORITIES, n_orders)
    o_prio = ws_noise(rng, case_noise(rng, prio))
    o_total = nulls(rng, np.round(rng.uniform(900, 500000, n_orders), 2).tolist(), 0.03)
    orders = pa.table({
        "o_orderkey": o_key, "o_custkey": o_cust, "o_orderdate": o_date,
        "o_orderpriority": o_prio, "o_totalprice": pa.array(o_total, pa.float64())})
    # lineitem, with planted outliers, nulls and exact copies
    qty, qty_v = stringly_numbers(rng, rng.integers(1, 51, n_items), True)
    price = rng.uniform(900, 100000, n_items)
    out_mask = rng.random(n_items) < outlier_frac
    price[out_mask] *= rng.choice([40.0, 80.0], int(out_mask.sum()))
    price_s, price_v = stringly_numbers(rng, price, False)
    price_s, price_v = nulls(rng, price_s, 0.02, price_v)
    returned = rng.random(n_items) < 0.5
    ret_tok = [(BOOL_TRUE if b else BOOL_FALSE)[i]
               for b, i in zip(returned, rng.integers(0, 5, n_items))]
    comment_d, comment_c = comments(rng, n_items)
    cols = {
        "row_id": np.arange(n_items, dtype=np.int64),
        "l_orderkey": rng.integers(1, n_orders + 1, n_items).astype(np.int64),
        "l_quantity": qty,
        "l_extendedprice": price_s,
        "l_discount": nulls(rng, np.round(rng.uniform(0, 0.1, n_items), 2).tolist(), 0.03),
        "l_tax": np.round(rng.uniform(0, 0.08, n_items), 2),
        "l_shipmode": ws_noise(rng, case_noise(rng, pick(rng, SHIPMODES, n_items))),
        "l_returned": ret_tok,
        "l_comment": comment_d,
    }
    n_copies = int(n_items * copy_frac)
    rows = np.concatenate([np.arange(n_items),
                           rng.choice(n_items, n_copies, replace=False)])
    rows = rows[rng.permutation(len(rows))]
    types = {"row_id": pa.int64(), "l_orderkey": pa.int64(),
             "l_discount": pa.float64(), "l_tax": pa.float64()}
    lineitem = pa.table({
        k: pa.array([v[i] for i in rows], types.get(k, pa.string()))
        for k, v in cols.items()})
    truth = {
        "rows_in": len(rows),
        "rows_out": n_items,
        "planted_copies": {"lineitem": n_copies, "orders": 0, "customer": 0},
        "outlier_rows": np.flatnonzero(out_mask).tolist(),
        "quantity": qty_v,
        "price": price_v,
        "returned": returned.tolist(),
        "comment": comment_c,
        "orderdate_micros": o_date_t,
        "since_micros": since_t,
        # category sets of the joined rows (orders and customers that no
        # line item references do not reach the cleaned table)
        "categories": {
            "c_mktsegment": sorted({seg_clean[o_cust[k - 1] - 1] for k in cols["l_orderkey"]}),
            "o_orderpriority": sorted({prio[k - 1].lower() for k in cols["l_orderkey"]}),
        },
        "acctbal": c_bal_v,
    }
    return {"lineitem": lineitem, "orders": orders, "customer": customer}, truth


TABLE_CONFIG = {
    "data_type_conversion": {"enabled": True, "auto_detect": True},
    "text_cleaning": {"enabled": True,
                      "operations": ["lowercase", "remove_extra_spaces"]},
    "datetime_parsing": {"enabled": True, "columns": ["c_since"],
                         "format": "dd.MM.yyyy", "extract_features": True},
    "missing_values": {"enabled": True, "strategy": "fill_median"},
    "duplicates": {"enabled": True},
    "outliers": {"enabled": True, "method": "iqr", "action": "cap",
                 "threshold": 1.5, "columns": ["l_extendedprice"]},
    "spelling_correction": {"enabled": True, "method": "common_typos",
                            "columns": ["l_comment"]},
    "encoding": {"enabled": True, "method": "label",
                 "columns": ["c_mktsegment", "o_orderpriority"]},
    "normalization": {"enabled": True, "method": "minmax",
                      "columns": ["l_quantity", "o_totalprice"]},
}


JOINED_COLUMNS = ["row_id", "l_orderkey", "l_quantity", "l_extendedprice",
                  "l_discount", "l_tax", "l_shipmode", "l_returned", "l_comment",
                  "o_orderdate", "o_orderpriority", "o_totalprice", "c_name",
                  "c_mktsegment", "c_acctbal", "c_since"]


def table_request(rng, out, path):
    """The nine-operator upload: dirty lineitem rows joined with their
    orders and customers, as one CSV. Returns (request entry, truth)."""
    import pyarrow.csv as pcsv
    tables, truth = gen_joined_tables(rng, TABLE_LINEITEMS, TABLE_ORDERS,
                                    TABLE_CUSTOMERS, TABLE_COPY_FRAC,
                                    TABLE_OUTLIER_FRAC)
    li, o, c = (tables[t].to_pandas() for t in ("lineitem", "orders", "customer"))
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey").merge(
        c, left_on="o_custkey", right_on="c_custkey")
    okey = dict(zip(j["row_id"], j["o_orderkey"]))
    ckey = dict(zip(j["row_id"], j["c_custkey"]))
    truth["row_order"] = [int(okey[i]) for i in range(truth["rows_out"])]
    truth["row_cust"] = [int(ckey[i]) for i in range(truth["rows_out"])]
    j = j[JOINED_COLUMNS].sort_values("row_id", kind="stable")
    j = j.iloc[rng.permutation(len(j))]
    table = pa.table({k: pa.array([None if v is None or v != v else str(v)
                                   for v in j[k]], pa.string())
                      for k in JOINED_COLUMNS})
    pcsv.write_csv(table, os.path.join(out, path))
    entry = {"file": path, "schema": "table", "rows_in": truth["rows_in"],
             "rows_out": truth["rows_out"],
             "planted_copies": truth["planted_copies"]["lineitem"],
             "config": TABLE_CONFIG, "recurring": True, "repeats": 1,
             "roles": {"numeric": [], "category": [], "text": ["l_comment"],
                       "date": ["c_since"]},
             "columns": JOINED_COLUMNS}
    return entry, truth


# ---- clean_requests ----------------------------------------------------------

def request_table(rng, schema, n):
    """One upload: (arrow table of strings, base rows, copies, columns by role)."""
    base = int((dt.datetime(2020, 1, 1) - EPOCH).total_seconds())
    cols, roles = {}, {}
    if schema == "items":
        cols["id"] = [str(i) for i in range(n)]
        cols["qty"] = stringly_numbers(rng, rng.integers(1, 51, n), True)[0]
        cols["price"] = stringly_numbers(rng, rng.uniform(1, 999, n), False)[0]
        cols["mode"] = ws_noise(rng, case_noise(rng, pick(rng, SHIPMODES, n)))
        cols["note"] = comments(rng, n)[0]
        roles = {"numeric": ["qty", "price"], "category": ["mode"],
                 "text": ["note"], "date": []}
    elif schema == "customers":
        cols["cust"] = [str(i) for i in range(n)]
        cols["name"] = ws_noise(rng, case_noise(rng, [f"Customer#{i:06d}" for i in range(n)]))
        cols["segment"] = nulls(rng, ws_noise(rng, case_noise(rng, pick(rng, SEGMENTS, n))), 0.03)
        cols["balance"] = stringly_numbers(rng, rng.uniform(-999, 9999, n), False)[0]
        cols["since"] = date_strings(rng, base + rng.integers(0, 900, n) * 86400)[0]
        roles = {"numeric": ["balance"], "category": ["segment"],
                 "text": ["name"], "date": ["since"]}
    elif schema == "orders":
        cols["order"] = [str(i) for i in range(n)]
        cols["placed"] = date_strings(rng, base + rng.integers(0, 900 * 86400, n))[0]
        cols["priority"] = ws_noise(rng, case_noise(rng, pick(rng, PRIORITIES, n)))
        cols["total"] = nulls(rng, stringly_numbers(rng, rng.uniform(10, 50000, n), False)[0], 0.03)
        cols["rush"] = pick(rng, BOOL_TRUE + BOOL_FALSE, n)
        roles = {"numeric": ["total"], "category": ["priority"],
                 "text": [], "date": ["placed"]}
    else:  # events
        cols["event"] = [str(i) for i in range(n)]
        cols["user"] = [str(u) for u in rng.integers(0, max(2, n // 10), n)]
        cols["kind"] = ws_noise(rng, case_noise(rng, pick(rng, ["click", "view", "buy", "share"], n)))
        cols["amount"] = stringly_numbers(rng, rng.exponential(40.0, n), False)[0]
        cols["msg"] = comments(rng, n)[0]
        roles = {"numeric": ["amount"], "category": ["kind"],
                 "text": ["msg"], "date": []}
    names = list(cols)
    copies = int(n * 0.02)
    idx = list(range(n)) + rng.choice(n, copies, replace=False).tolist()
    order = rng.permutation(len(idx))
    table = pa.table({c: pa.array([cols[c][idx[i]] for i in order], pa.string())
                      for c in names})
    return table, n, copies, roles


def request_config(ops, roles):
    """The JSON config enabling `ops`, with column parameters fitting the
    upload's schema."""
    cfg = {}
    for op in ops:
        if op == "data_type_conversion":
            cfg[op] = {"enabled": True, "auto_detect": True}
        elif op == "text_cleaning":
            cfg[op] = {"enabled": True,
                       "operations": ["lowercase", "remove_extra_spaces"]}
        elif op == "datetime_parsing":
            cfg[op] = {"enabled": True, "columns": roles["date"], "extract_features": True}
        elif op == "missing_values":
            cfg[op] = {"enabled": True, "strategy": "fill_mode"}
        elif op == "duplicates":
            cfg[op] = {"enabled": True}
        elif op == "outliers":
            cfg[op] = {"enabled": True, "method": "zscore", "action": "cap",
                       "threshold": 3.0, "columns": roles["numeric"]}
        elif op == "spelling_correction":
            cfg[op] = {"enabled": True, "method": "common_typos",
                       "columns": roles["text"] or roles["category"]}
        elif op == "encoding":
            cfg[op] = {"enabled": True, "method": "label", "columns": roles["category"]}
        elif op == "normalization":
            cfg[op] = {"enabled": True, "method": "minmax", "columns": roles["numeric"]}
    return cfg


# The shape of every round after the table upload: (schema, rows, enabled
# operators, recurring). No record of a real upload mix exists, so the
# stream is an assumption that spans what a cleaning service is asked to
# take: every schema two or three times, 2 to 9 operators enabled, 200 to 50 000
# rows. Two shapes recur, each at a small and a bulk size (same columns,
# same config); the other uploads are new, and the harness gives each of
# them column names of its own, so no two of them share a shape. The
# shapes are fixed; the seed only draws the data. Scaling and capping need
# typed columns (an upload's columns are all strings until
# data_type_conversion runs), so configs that cap or scale also convert.
DTC = "data_type_conversion"
SHAPE_A = ["text_cleaning", "spelling_correction"]
SHAPE_B = [DTC, "duplicates", "outliers"]
REQUEST_STREAM = [
    ("items", 500, SHAPE_A, True),
    ("events", 400, SHAPE_B, True),
    ("customers", 300, [DTC, "text_cleaning", "datetime_parsing", "encoding"], False),
    ("orders", 1_000, [DTC, "datetime_parsing", "missing_values", "duplicates",
                       "normalization"], False),
    ("items", 2_000, [DTC, "text_cleaning", "missing_values", "duplicates",
                      "spelling_correction", "encoding"], False),
    ("events", 700, [DTC, "text_cleaning", "missing_values", "duplicates", "outliers",
                     "spelling_correction", "normalization"], False),
    ("customers", 200, [DTC, "text_cleaning", "datetime_parsing", "missing_values",
                        "duplicates", "outliers", "encoding", "normalization"], False),
    ("orders", 3_000, ["missing_values", "duplicates"], False),
    ("events", 50_000, SHAPE_B, True),
    ("items", 20_000, SHAPE_A, True),
]
# The largest upload carries rows_per_s. Its latency varies more from
# send to send than the run-to-run noise of the others, so it is sent
# LARGEST_SENDS times in a row and its median latency counts.
LARGEST_SENDS = 5


def write_clean_requests(rng, out):
    import pyarrow.csv as pcsv
    first, table_truth = table_request(rng, out, "req-000.csv")
    reqs = [first]
    largest = max(n for _, n, _, _ in REQUEST_STREAM)
    for i, (schema, n, ops, recurring) in enumerate(REQUEST_STREAM, start=1):
        table, base_rows, copies, roles = request_table(rng, schema, n)
        cfg = request_config(ops, roles)
        path = f"req-{i:03d}.csv"
        pcsv.write_csv(table, os.path.join(out, path))
        expected_rows = base_rows if "duplicates" in cfg else base_rows + copies
        reqs.append({"file": path, "schema": schema, "rows_in": base_rows + copies,
                     "rows_out": expected_rows, "planted_copies": copies,
                     "config": cfg, "roles": roles, "recurring": recurring,
                     "repeats": LARGEST_SENDS if n == largest else 1,
                     "columns": table.column_names})
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump(reqs, f, sort_keys=True)
    # the harness reads one line per request: file, recurring, repeats, config
    with open(os.path.join(out, "requests.tsv"), "w") as f:
        for r in reqs:
            f.write(f"{r['file']}\t{int(r['recurring'])}\t{r['repeats']}\t"
                    f"{json.dumps(r['config'], sort_keys=True)}\n")
    return {"requests": len(reqs),
            "rows_in": sum(r["rows_in"] for r in reqs),
            "recurring": sum(r["recurring"] for r in reqs),
            "table": table_truth}


# ---- corpus_prep -------------------------------------------------------------

def vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n:
        k = int(rng.integers(3, 9))
        out.add("".join(letters[rng.integers(0, 26, k)]))
    return sorted(out)


def grams3(text):
    w = text.lower().split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def gen_corpus(rng):
    V = vocab(rng, 4000)
    nv = len(V)

    def words(n):
        return [V[i] for i in rng.integers(0, nv, n)]

    docs = []  # (doc_id, text, lang, source)
    next_id = [0]

    def add(text):
        i = next_id[0]
        next_id[0] += 1
        docs.append((i, text, LANGS[int(rng.choice(5, p=LANG_P))],
                     f"src{int(rng.integers(0, 20))}"))
        return i

    good = []
    for _ in range(CORPUS_BASE_DOCS):
        good.append(add(" ".join(words(int(rng.integers(40, 160))))))
    bad = []
    for _ in range(CORPUS_BAD_DOCS):
        few = words(4)
        bad.append(add(" ".join(few[int(j)] for j in rng.integers(0, 4, int(rng.integers(30, 80))))))
    # near-duplicate families: a base plus 1..3 variants, each variant a
    # light edit of the base; every pair of a family must sit above the
    # threshold by the margin, and regenerated otherwise
    pairs = []
    lo = NEARDUP_THRESHOLD + NEARDUP_MARGIN
    for _ in range(CORPUS_FAMILIES):
        while True:
            base = words(int(rng.integers(80, 160)))
            variants = []
            for _ in range(int(rng.integers(1, 4))):
                w = list(base)
                for _ in range(max(1, len(w) // 60)):
                    pos = int(rng.integers(0, len(w)))
                    # a replacement equal to the base word would leave an
                    # exact copy, which exact dedup removes before MinHash
                    w[pos] = V[(V.index(base[pos]) + int(rng.integers(1, nv))) % nv]
                variants.append(w)
            fam = [" ".join(base)] + [" ".join(v) for v in variants]
            if len(set(fam)) < len(fam):
                continue
            g = [grams3(t) for t in fam]
            js = [(a, b, jaccard(g[a], g[b]))
                  for a in range(len(fam)) for b in range(a + 1, len(fam))]
            if min(j for _, _, j in js) >= lo:
                break
        ids = [add(t) for t in fam]
        for a, b, j in js:
            pairs.append([ids[a], ids[b], round(j, 6)])
    # exact copies of good docs: same words, case/whitespace noise
    copies = []
    for src in rng.choice(good, CORPUS_COPIES, replace=False):
        t = docs[src][1]
        w = t.split(" ")
        noisy = " ".join(x.upper() if rng.random() < 0.1 else x for x in w)
        copies.append([add("  " + noisy.replace(" ", "  ", 3) + " "), int(src)])
    # held-out benchmark docs and corpus docs that quote a 13-gram of one
    bench = [" ".join(words(int(rng.integers(40, 80)))) for _ in range(CORPUS_BENCH_DOCS)]
    contaminated = []
    for _ in range(CORPUS_CONTAMINATED):
        b = bench[int(rng.integers(0, len(bench)))].split(" ")
        s = int(rng.integers(0, len(b) - CONTAM_N))
        quote = b[s:s + CONTAM_N + int(rng.integers(0, 5))]
        pre, post = words(int(rng.integers(10, 60))), words(int(rng.integers(10, 60)))
        contaminated.append(add(" ".join(pre + quote + post)))
    perm = rng.permutation(len(docs))
    table = pa.table({
        "doc_id": pa.array([docs[i][0] for i in perm], pa.int64()),
        "text": pa.array([docs[i][1] for i in perm], pa.string()),
        "lang": pa.array([docs[i][2] for i in perm], pa.string()),
        "source": pa.array([docs[i][3] for i in perm], pa.string()),
    })
    bench_t = pa.table({"doc_id": pa.array(range(10**9, 10**9 + len(bench)), pa.int64()),
                        "text": pa.array(bench, pa.string())})
    truth = {"docs_in": len(docs), "bad_quality": bad, "copies": copies,
             "neardup_pairs": pairs, "contaminated": contaminated,
             "langs": {d[0]: d[2] for d in docs}}
    return table, bench_t, truth


def gen_embeddings(rng):
    centers = rng.normal(0, 1, (EMB_CLUSTERS, EMB_DIM))
    lab = rng.integers(0, EMB_CLUSTERS, EMB_CORPUS)
    vecs = (centers[lab] + rng.normal(0, 0.35, (EMB_CORPUS, EMB_DIM))).astype(np.float32)
    qlab = rng.integers(0, EMB_CLUSTERS, EMB_QUERIES)
    qv = (centers[qlab] + rng.normal(0, 0.35, (EMB_QUERIES, EMB_DIM))).astype(np.float32)
    ftype = pa.list_(pa.float32())
    corpus = pa.table({
        "vec_id": pa.array(np.arange(EMB_CORPUS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), ftype),
        "label": pa.array(lab.astype(np.int32))})
    queries = pa.table({
        "vec_id": pa.array(np.arange(EMB_QUERIES, dtype=np.int64) + 10_000_000),
        "embedding": pa.array(list(qv), ftype),
        "label": pa.array(qlab.astype(np.int32))})
    return corpus, queries


def write_corpus_prep(rng, out):
    docs, bench, truth = gen_corpus(rng)
    pq.write_table(docs, os.path.join(out, "documents.parquet"), row_group_size=2_000)
    pq.write_table(bench, os.path.join(out, "bench.parquet"))
    corpus, queries = gen_embeddings(rng)
    pq.write_table(corpus, os.path.join(out, "embeddings.parquet"), row_group_size=5_000)
    pq.write_table(queries, os.path.join(out, "queries.parquet"))
    truth.update({"emb_corpus": EMB_CORPUS, "emb_queries": EMB_QUERIES})
    params = {"neardup_threshold": NEARDUP_THRESHOLD, "contam_n": CONTAM_N,
              "cap_per_lang": CAP_PER_LANG, "chunk_tokens": CHUNK_TOKENS,
              "chunk_overlap": CHUNK_OVERLAP, "pack_window": PACK_WINDOW,
              "ann_k": ANN_K, "ann_nlist": ANN_NLIST, "ann_nprobe": ANN_NPROBE}
    with open(os.path.join(out, "params.tsv"), "w") as f:
        f.writelines(f"{k}\t{v}\n" for k, v in params.items())
    return truth


WRITERS = {"clean_requests": write_clean_requests,
           "corpus_prep": write_corpus_prep}


def generate(workload, seed, out):
    """Write the inputs of (workload, seed) to `out` once; return `out`."""
    if os.path.exists(os.path.join(out, "truth.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    salt = int(hashlib.sha256(workload.encode()).hexdigest()[:8], 16)
    rng = np.random.default_rng([seed, salt])
    truth = WRITERS[workload](rng, tmp)
    truth["seed"] = seed
    truth["workload"] = workload
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
