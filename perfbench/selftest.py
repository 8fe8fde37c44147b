"""Self-test of the output checker: every check must be able to fail.

    python3 perfbench/selftest.py [--seed N]

Run from the root of a source checkout. Runs each workload once
(untraced, one round), keeps its outputs, and requires the checker to
accept them. Then it applies one mutation at a time to a copy of those
outputs and requires the checker to reject each. Prints one line per
mutation; exits non-zero if a mutated output is accepted or the real one
is rejected.
"""
import argparse
import glob
import os
import shutil
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402


def csv_part(d):
    return sorted(glob.glob(os.path.join(d, "part-*.csv")))[0]


def edit_csv(run_dir, req, fn):
    p = csv_part(os.path.join(run_dir, "results", f"req-{req:03d}"))
    df = pd.read_csv(p, dtype=str, keep_default_na=False)
    fn(df).to_csv(p, index=False)


def edit_parquet(run_dir, stage, fn):
    d = os.path.join(run_dir, "corpus", stage)
    df = fn(pd.read_parquet(d))
    shutil.rmtree(d)
    os.makedirs(d)
    df.to_parquet(os.path.join(d, "part-0.parquet"), index=False)


def bump(col, i, f):
    def go(df):
        df.loc[i, col] = f(df.loc[i, col])
        return df
    return go


def request_mutations(truth):
    table = [
        ("table: a row dropped", lambda d: edit_csv(d, 0, lambda x: x.iloc[:-1])),
        ("table: a capped price perturbed",
         lambda d: edit_csv(d, 0, bump("l_extendedprice", 0, lambda v: str(float(v) * 1.001)))),
        ("table: a median-filled column perturbed",
         lambda d: edit_csv(d, 0, bump("l_discount", 0, lambda v: str(float(v) + 0.5)))),
        ("table: a scaled value off",
         lambda d: edit_csv(d, 0, bump("o_totalprice", 0, lambda v: str(float(v) + 0.01)))),
        ("table: a label code shifted",
         lambda d: edit_csv(d, 0, bump("o_orderpriority", 0, lambda v: str((int(v) + 1) % 5)))),
        ("table: a date shifted",
         lambda d: edit_csv(d, 0, bump("o_orderdate", 1, lambda v: "1999-01-01T00:00:00.000Z"))),
        ("table: a typo left in",
         lambda d: edit_csv(d, 0, bump("l_comment", 0, lambda v: "teh " + v))),
        ("upload: a row dropped", lambda d: edit_csv(d, 1, lambda x: x.iloc[:-1])),
    ]
    return table


def corpus_mutations(truth):
    pairs = [tuple(p[:2]) for p in truth["neardup_pairs"]]
    touched = {}
    for a, b in pairs:
        touched[a] = touched.get(a, 0) + 1
        touched[b] = touched.get(b, 0) + 1
    lone = next((a, b) for a, b in pairs if touched[a] == 1 and touched[b] == 1)
    docs = sorted(set(range(truth["docs_in"])) - set(touched) - set(truth["bad_quality"])
                  - {c for c, _ in truth["copies"]} - set(truth["contaminated"]))

    def drop_pair(df):
        return df[~((df["id_a"] == lone[0]) & (df["id_b"] == lone[1]))]

    def add_pair(df):
        extra = pd.DataFrame({"id_a": [docs[0]], "id_b": [docs[1]], "jaccard": [0.9]})
        return pd.concat([df, extra.astype(df.dtypes.to_dict())], ignore_index=True)

    def relabel(df):
        i = df.index[df["cluster"] != df["id"]][0]
        df.loc[i, "cluster"] = df.loc[i, "id"]
        return df

    def keep_contaminated(run_dir):
        reps = pd.read_parquet(os.path.join(run_dir, "corpus", "representatives"))
        bad = reps[reps["doc_id"].isin(truth["contaminated"])].head(1)
        edit_parquet(run_dir, "decontaminated", lambda df: pd.concat([df, bad[df.columns]]))

    def swap(df):
        df = df.sort_values("shuffle_pos").reset_index(drop=True)
        df.loc[[0, 1], "doc_id"] = df.loc[[1, 0], "doc_id"].values
        return df

    def lose_token(df):
        df.loc[0, "seq_text"] = df.loc[0, "seq_text"].split(" ", 1)[1]
        return df

    return [
        ("exact: a document dropped", lambda d: edit_parquet(d, "exact", lambda x: x.iloc[1:])),
        ("pairs: a true pair removed", lambda d: edit_parquet(d, "pairs", drop_pair)),
        ("pairs: a dissimilar pair added", lambda d: edit_parquet(d, "pairs", add_pair)),
        ("clusters: a label changed", lambda d: edit_parquet(d, "clusters", relabel)),
        ("decontaminate: a quoting document kept", keep_contaminated),
        ("shuffle: two positions swapped", lambda d: edit_parquet(d, "shuffled", swap)),
        ("pack: a token lost", lambda d: edit_parquet(d, "packed", lose_token)),
        ("ann: a score perturbed",
         lambda d: edit_parquet(d, "ann_topk", bump("sim", 0, lambda v: v + 0.01))),
    ]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    base = os.path.join(run.BUILD, "selftest")
    ok = True
    for workload, mutations in (("clean_requests", request_mutations),
                                ("corpus_prep", corpus_mutations)):
        real = os.path.join(base, workload)
        raw, truth, inputs = run.harness(workload, a.seed, 0, 0, real)
        problems = check.check(workload, inputs, real, truth, raw)["problems"]
        print(f"{workload}: real outputs {'accepted' if not problems else problems}")
        ok &= not problems
        for name, mutate in mutations(truth):
            copy = os.path.join(base, "mutated")
            shutil.rmtree(copy, ignore_errors=True)
            shutil.copytree(real, copy)
            mutate(copy)
            found = check.check(workload, inputs, copy, truth, raw)["problems"]
            print(f"  {name:45s} {'rejected: ' + found[0] if found else 'ACCEPTED'}")
            ok &= bool(found)
    shutil.rmtree(base, ignore_errors=True)
    print("checker self-test", "passed" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
