"""Output checker for perfbench, independent of the engine.

It reads the generated inputs, the generator's ground-truth record and
the outputs a run left behind, and recomputes what the outputs must be
with DuckDB, pandas and numpy. It never calls the engine.

What is checked, by workload:

clean_requests, the nine-operator table upload of every round (semantics
of the reference cleaning service: a sanitizer after load and after every
operator fills numeric nulls with the column median and string nulls
with "")
  - one row per distinct input row: exactly the planted copies are gone;
  - median fill values of every numeric column, recomputed over all
    joined input rows (copies included: the sanitizer runs before dedup);
    a median filled into an integer column is truncated toward zero;
  - IQR cap bounds (1.5 IQR) of l_extendedprice, over the distinct rows;
  - min/max scaling of l_quantity and o_totalprice;
  - label-encoding category sets and codes (codes = rank of the cleaned
    value among the sorted distinct values, "" for nulls);
  - parsed date instants, derived date features, booleans, cleaned text.
clean_requests, every upload
  - row counts (planted copies removed when dedup is enabled, kept
    otherwise), column sets, typo-free and lower-cased text columns.
corpus_prep
  - row counts after each stage match what the ground truth implies;
  - every reported near-duplicate pair, re-scored over distinct word
    3-grams of the normalised text, clears the threshold;
  - cluster labels equal the minimum id of each connected component of
    the reported pairs (union-find here);
  - no kept document shares a 13-gram with the contamination set;
  - the per-language cap keeps the documents first in salted-md5 order;
  - shuffle positions are the salted-md5 permutation;
  - packed sequences respect the window and conserve tokens;
  - returned ANN scores equal numpy cosine, and recall@10 against numpy
    brute force (ties at the 10th score count as hits) stays above
    ANN_RECALL_FLOOR.

check(...) returns {"problems": [...], "dup_recall": r, "layers": {...}};
an empty problem list means the outputs are correct.
"""
import glob
import hashlib
import os
import re

import duckdb
import numpy as np
import pandas as pd

import gen

REL_TOL = 1e-9
ANN_RECALL_FLOOR = 0.85
NUMERIC_RE = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"
INT_RE = r"^[+-]?\d+$"


def close(a, b, tol=REL_TOL):
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    return np.allclose(a, b, rtol=tol, atol=tol, equal_nan=True)


def clean_text(s):
    """lowercase + collapse whitespace runs + trim (text_cleaning)."""
    if s is None:
        return ""
    return re.sub(r"\s+", " ", s.lower()).strip()


# ---- the nine-operator table upload -----------------------------------------

def parse_num(series, pattern):
    """Strings → float where the trimmed value matches `pattern`, else NaN
    (the type conversion's regex-gated, null-on-failure parse)."""
    t = series.fillna("").str.strip(" ")
    ok = t.str.fullmatch(pattern[1:-1])
    return pd.to_numeric(t.where(ok), errors="coerce")


def check_table(inputs, out, req, truth):
    """Value-level checks of the nine-operator upload (request 0)."""
    problems = []
    con = duckdb.connect()
    src = pd.read_csv(os.path.join(inputs, req["file"]), dtype=str, keep_default_na=False,
                      na_values=[""])
    n_expected = truth["rows_out"]
    rid = out["row_id"].astype(np.int64)
    if rid.nunique() != n_expected or len(out) != n_expected:
        return [f"table: {len(out)} rows ({rid.nunique()} distinct), expected {n_expected}"]
    out = out.assign(row_id=rid).sort_values("row_id").reset_index(drop=True)
    # every joined input row, planted copies included: the sanitizer fills
    # numeric nulls (and unparseable strings) with the median of ALL rows
    j = pd.DataFrame({
        "row_id": src["row_id"].astype(np.int64),
        "qty": parse_num(src["l_quantity"], INT_RE),
        "price": parse_num(src["l_extendedprice"], NUMERIC_RE),
        "disc": parse_num(src["l_discount"], NUMERIC_RE),
        "total": parse_num(src["o_totalprice"], NUMERIC_RE),
        "bal": parse_num(src["c_acctbal"], NUMERIC_RE)})
    con.register("j", j)
    med = con.execute("""SELECT quantile_cont(qty, 0.5), quantile_cont(price, 0.5),
        quantile_cont(disc, 0.5), quantile_cont(total, 0.5), quantile_cont(bal, 0.5)
        FROM j""").fetchone()
    # a median filled into an integer column is truncated toward zero
    fill = dict(zip(["qty", "price", "disc", "total", "bal"],
                    [float(np.trunc(med[0]))] + list(med[1:])))
    d = j.fillna(fill).drop_duplicates("row_id").sort_values("row_id").reset_index(drop=True)
    con.register("d", d)
    if not (d["row_id"].values == out["row_id"].values).all():
        return ["table: row ids differ from the distinct input rows"]
    num = lambda c: pd.to_numeric(out[c], errors="coerce").values
    # IQR cap (1.5) over the distinct rows, after the median fill
    q1, q3 = con.execute("SELECT quantile_cont(price, 0.25), quantile_cont(price, 0.75) "
                         "FROM d").fetchone()
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    if not close(num("l_extendedprice"), np.clip(d["price"].values, lo, hi)):
        problems.append("table: l_extendedprice differs from median fill + IQR cap")
    for col, key in (("l_quantity", "qty"), ("o_totalprice", "total")):
        x = d[key].values.astype(float)
        span = x.max() - x.min()
        if not close(num(col), (x - x.min()) / (span if span != 0 else 1.0)):
            problems.append(f"table: {col} differs from median fill + min/max scaling")
    for col, key in (("l_discount", "disc"), ("c_acctbal", "bal")):
        if not close(num(col), d[key].values):
            problems.append(f"table: {col} median fill differs")
    # per-row truth from the generator
    rows = out["row_id"].values
    okey = np.array([truth["row_order"][i] for i in rows]) - 1
    ckey = np.array([truth["row_cust"][i] for i in rows]) - 1

    def micros(col):
        t = pd.to_datetime(out[col].replace("", None), utc=True, format="ISO8601")
        return np.array([None if pd.isna(v) else v.value // 1000 for v in t], dtype=object)

    want = np.array([truth["orderdate_micros"][k] for k in okey], dtype=object)
    if not (micros("o_orderdate") == want).all():
        problems.append("table: o_orderdate instants differ from the planted dates")
    since = np.array([truth["since_micros"][k] for k in ckey], dtype=object)
    if not (micros("c_since") == since).all():
        problems.append("table: c_since instants differ from the planted dates")
    else:
        # derived features; a null date's features take the median of the
        # feature over all rows (copies included), truncated
        known = since != None  # noqa: E711
        t = pd.to_datetime(since[known].astype(np.int64), unit="us")
        allc = np.array([truth["since_micros"][truth["row_cust"][i] - 1]
                         for i in j["row_id"]], dtype=object)
        ta = pd.to_datetime(allc[allc != None].astype(np.int64), unit="us")  # noqa: E711
        for f, get in (("year", lambda x: x.year), ("month", lambda x: x.month),
                       ("day", lambda x: x.day), ("hour", lambda x: x.hour),
                       ("dayofweek", lambda x: (x.dayofweek + 1) % 7 + 1)):
            want = np.empty(len(rows))
            want[known] = np.asarray(get(t), dtype=float)
            want[~known] = np.trunc(np.median(np.asarray(get(ta), dtype=float)))
            if not close(num(f"c_since_{f}"), want):
                problems.append(f"table: c_since_{f} differs")
    if list(out["l_returned"]) != ["true" if truth["returned"][i] else "false" for i in rows]:
        problems.append("table: l_returned booleans differ")
    if list(out["l_comment"]) != [truth["comment"][i] for i in rows]:
        problems.append("table: l_comment differs from the typo-fixed clean text")
    # label codes: rank of the cleaned value among the sorted distinct values
    first = src.drop_duplicates("row_id").assign(row_id=lambda x: x["row_id"].astype(np.int64))
    first = first.sort_values("row_id")
    for col in ("c_mktsegment", "o_orderpriority"):
        cleaned = [clean_text(None if v != v else v) for v in first[col]]
        cats = sorted(set(cleaned))
        if cats != truth["categories"][col]:
            problems.append(f"table: {col} categories {cats} != {truth['categories'][col]}")
        code = {c: i for i, c in enumerate(cats)}
        if list(num(col)) != [code[c] for c in cleaned]:
            problems.append(f"table: {col} label codes differ")
    return problems


# ---- clean_requests ----------------------------------------------------------

def read_csv_dir(path):
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    frames = [pd.read_csv(p, dtype=str, keep_default_na=False) for p in parts]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def check_clean_requests(inputs, run_dir, truth, last_round):
    problems = []
    planted = removed = 0
    for i, r in enumerate(truth["requests"]):
        out = read_csv_dir(os.path.join(run_dir, "results", f"req-{i:03d}"))
        sfx = "" if r["recurring"] else f"_r{last_round}_{i}"
        cols = [c + sfx for c in r["columns"]]
        if len(out) != r["rows_out"]:
            problems.append(f"request {i}: {len(out)} rows, expected {r['rows_out']}")
        missing = set(cols) - set(out.columns)
        extra = set(out.columns) - set(cols)
        feats = {f"{c}{sfx}_{f}" for c in r["roles"]["date"]
                 for f in ("year", "month", "day", "hour", "dayofweek")}
        if missing or extra - feats:
            problems.append(f"request {i}: columns {sorted(out.columns)}, expected {cols}")
            continue
        if r["schema"] == "table":
            problems += check_table(inputs, out, r, truth["table"])
        cfg = r["config"]
        if "duplicates" in cfg:
            planted += r["planted_copies"]
            removed += min(r["planted_copies"], r["rows_in"] - len(out))
        fixed = cfg.get("spelling_correction", {}).get("columns", [])
        encoded = cfg.get("encoding", {}).get("columns", [])
        for c in [c + sfx for c in fixed if c not in encoded]:
            if any(w in gen.TYPOS for v in out[c] for w in re.findall(r"\w+", v.lower())):
                problems.append(f"request {i}: typo words left in {c}")
        if "text_cleaning" in cfg:
            for c in [c + sfx for c in r["roles"]["text"]]:
                s = out[c]
                if (s != s.str.lower()).any() or s.str.contains("  ").any():
                    problems.append(f"request {i}: {c} not lower-cased/collapsed")
    return problems, (removed / planted if planted else 1.0)


# ---- corpus_prep -------------------------------------------------------------

def grams(text, n):
    w = text.lower().split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def md5_order(ids):
    return sorted(ids, key=lambda i: (hashlib.md5(f"graft:{i}".encode()).hexdigest(), i))


def check_corpus_prep(inputs, run_dir, truth):
    problems = []
    layers = {}
    ck = os.path.join(run_dir, "corpus")

    def read(stage):
        return pd.read_parquet(os.path.join(ck, stage))

    docs = pd.read_parquet(os.path.join(inputs, "documents.parquet"))
    text = dict(zip(docs["doc_id"], docs["text"]))
    bad = set(truth["bad_quality"])
    quality = read("quality")
    exp = set(docs["doc_id"]) - bad
    if set(quality["doc_id"]) != exp:
        problems.append(f"quality: kept {len(quality)} docs, expected {len(exp)}")
    copies = {c for c, _ in truth["copies"]}
    exact = read("exact")
    exp -= copies
    if set(exact["doc_id"]) != exp:
        problems.append(f"exact dedup: kept {len(exact)} docs, expected {len(exp)}")
    # near-duplicate pairs: each reported pair must clear the threshold
    pairs = read("pairs")
    layers["dedup.pairs"] = float(len(pairs))
    gcache = {}

    def g3(i):
        if i not in gcache:
            gcache[i] = grams(text[i], 3)
        return gcache[i]

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ga, gb = g3(a), g3(b)
        j = len(ga & gb) / len(ga | gb)
        if j < gen.NEARDUP_THRESHOLD:
            problems.append(f"near-dup pair ({a},{b}) has Jaccard {j:.3f} < threshold")
            break
    # clusters: min id of each connected component of the reported pairs
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label = {x: find(x) for x in list(parent)}
    cl = read("clusters")
    if dict(zip(cl["id"], cl["cluster"])) != label:
        problems.append("clusters: labels differ from union-find minimum ids")
    planted = [(a, b) for a, b, _ in truth["neardup_pairs"]]
    hit = sum(1 for a, b in planted if a in label and b in label and label[a] == label[b])
    dup_recall = hit / len(planted) if planted else 1.0
    reps = read("representatives")
    exp = {i for i in exp if label.get(i, i) == i}
    if set(reps["doc_id"]) != exp:
        problems.append(f"representatives: kept {len(reps)}, expected {len(exp)}")
    # decontamination: the planted quotes are gone and no kept doc shares a 13-gram
    decon = read("decontaminated")
    exp -= set(truth["contaminated"])
    if set(decon["doc_id"]) != exp:
        problems.append(f"decontaminate: kept {len(decon)}, expected {len(exp)}")
    bench = pd.read_parquet(os.path.join(inputs, "bench.parquet"))
    bgrams = set().union(*(grams(t, gen.CONTAM_N) for t in bench["text"]))
    if any(grams(t, gen.CONTAM_N) & bgrams for t in decon["text"]):
        problems.append("decontaminate: a kept document shares a 13-gram with the benchmark")
    # per-language cap in salted-md5 order
    capped = read("capped")
    lang = truth["langs"]
    by_lang = {}
    for i in exp:
        by_lang.setdefault(lang[str(i)], []).append(i)
    exp_cap = {i for ids in by_lang.values() for i in md5_order(ids)[:gen.CAP_PER_LANG]}
    if set(capped["doc_id"]) != exp_cap:
        problems.append(f"cap: kept {len(capped)}, expected {len(exp_cap)}")
    shuffled = read("shuffled")
    order = md5_order(sorted(exp_cap))
    got = shuffled.sort_values("shuffle_pos")
    if list(got["doc_id"]) != order or list(got["shuffle_pos"]) != list(range(len(order))):
        problems.append("shuffle: positions are not the salted-md5 permutation")
    # chunks: windows of CHUNK_TOKENS with CHUNK_OVERLAP over each doc
    chunks = read("chunks").sort_values("chunk_key")
    stride = gen.CHUNK_TOKENS - gen.CHUNK_OVERLAP
    exp_chunks = sum(-(-len(text[i].split()) // stride) for i in order)
    if len(chunks) != exp_chunks:
        problems.append(f"chunk: {len(chunks)} chunks, expected {exp_chunks}")
    tokens = [t for toks in chunks["toks"] for t in toks]
    packed = read("packed").sort_values("seq_id")
    w = gen.PACK_WINDOW
    n = packed["n_tokens"].values
    if (n > w).any() or (n[:-1] != w).any() or n.sum() != len(tokens):
        problems.append("pack: sequences break the window or lose tokens")
    elif " ".join(packed["seq_text"]).split(" ") != tokens:
        problems.append("pack: packed token stream differs from the chunk stream")
    layers["plans.sequences"] = float(len(packed))
    problems += check_ann(inputs, run_dir, layers)
    return problems, dup_recall, layers


def check_ann(inputs, run_dir, layers):
    problems = []
    corpus = pd.read_parquet(os.path.join(inputs, "embeddings.parquet"))
    queries = pd.read_parquet(os.path.join(inputs, "queries.parquet"))
    c = np.stack(corpus["embedding"].values).astype(np.float64)
    q = np.stack(queries["embedding"].values).astype(np.float64)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = qn @ cn.T
    cid = corpus["vec_id"].values
    res = pd.read_parquet(os.path.join(run_dir, "corpus", "ann_topk"))
    qpos = {v: i for i, v in enumerate(queries["vec_id"].values)}
    cpos = {v: i for i, v in enumerate(cid)}
    qi = np.array([qpos[v] for v in res["query_id"]])
    ci = np.array([cpos[v] for v in res["neighbor_id"]])
    if not np.allclose(res["sim"].values, np.round(sims[qi, ci], 6), atol=1.5e-6):
        problems.append("ann: returned scores differ from numpy cosine")
    kth = np.sort(sims, axis=1)[:, -gen.ANN_K]
    hits = int((sims[qi, ci] >= kth[qi] - 1e-6).sum())
    if res.groupby("query_id").size().max() > gen.ANN_K:
        problems.append("ann: more than k results for a query")
    recall = hits / (gen.ANN_K * len(queries))
    layers["sim.recall_at_10"] = recall
    if recall < ANN_RECALL_FLOOR:
        problems.append(f"ann: recall@10 {recall:.3f} below {ANN_RECALL_FLOOR}")
    return problems


def check(workload, inputs, run_dir, truth, raw):
    layers = {}
    if workload == "clean_requests":
        problems, recall = check_clean_requests(inputs, run_dir, truth, raw["last_round"])
    else:
        problems, recall, layers = check_corpus_prep(inputs, run_dir, truth)
    return {"problems": problems, "dup_recall": recall, "layers": layers}
