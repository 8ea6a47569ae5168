"""Output checks, run after the timed passes on what the check phase
dumped. Each check returns one line: "OK ..." or the reason it failed.

- Ops with an oracle (their own, or their declared twin's) must
  hash-match DuckDB on the same generated inputs, canonicalized by the
  repository's own `tools/check.py`.
- parking and library also assert properties the generator planted.
"""
import glob
import os
import re

import duckdb
import numpy as np


def _connect(inputs):
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(inputs, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    return con


def _dump(check_dir, name):
    return f"'{os.path.join(check_dir, name)}/*.parquet'"


def _materialized(sql):
    """The oracle SQL with every non-recursive CTE marked MATERIALIZED.
    DuckDB 1.0 otherwise inlines a CTE at each reference, and a
    recursive CTE re-evaluates what it references once per iteration:
    x25's packing recursion recomputes the whole kept-docs chain per
    row of a shard. Results are unchanged; only evaluation is shared."""
    out, pos = [], 0
    for m in re.finditer(r"(?m)^(\s*(?:WITH(?: RECURSIVE)?\s+)?)(\w+) AS \(",
                         sql):
        depth, end = 1, m.end()
        while depth and end < len(sql):
            depth += {"(": 1, ")": -1}.get(sql[end], 0)
            end += 1
        recursive = re.search(rf"\b{m.group(2)}\b", sql[m.end():end])
        out.append(sql[pos:m.end() - 1])
        out.append("(" if recursive else "MATERIALIZED (")
        pos = m.end()
    return "".join(out) + sql[pos:]


def _oracle(con, res, repo_check):
    out = []
    for name, sql in sorted(res["oracle"].items()):
        try:
            got = repo_check.canon(con.sql(
                f"SELECT * FROM {_dump(res['check_dir'], name)}"))
            want = repo_check.canon(con.sql(_materialized(sql)))
        except Exception as e:  # a query error is a failed check
            out.append(f"{name}: oracle check error {e}")
            continue
        if got != want:
            out.append(f"{name}: differs from the DuckDB oracle "
                       f"({len(got[1])} vs {len(want[1])} rows)")
        else:
            out.append(f"OK {name} matches the DuckDB oracle "
                       f"({len(got[1])} rows)")
    return out


def _parking(con, res, truth):
    out = []
    d = res["check_dir"]
    feats = con.sql(f"SELECT * FROM {_dump(d, 'features')}").df()
    codes = list(feats["단지코드"])
    out.append("OK one feature row per complex"
               if sorted(codes) == sorted(truth["train_codes"])
               else f"feature rows {len(codes)} for "
                    f"{len(truth['train_codes'])} complexes")
    bands = [c for c in feats.columns if c.startswith("전용면적_")]
    sums = dict(zip(codes, feats[bands].sum(axis=1)))
    bad = [c for c, h in truth["households"].items() if sums.get(c) != h]
    out.append(f"OK {len(bands)} band columns sum to households"
               if len(bands) == 10 and not bad
               else f"band sums differ for {len(bad)} complexes "
                    f"({len(bands)} band columns)")
    rest = feats[feats["단지코드"] != truth["all_na"]]
    na_row = feats[feats["단지코드"] == truth["all_na"]]
    ok = len(na_row) == 1
    for c in ("임대보증금", "임대료"):
        med = float(np.median(rest[c].to_numpy(dtype=float)))
        ok = ok and abs(float(na_row[c].iloc[0]) - med) <= 1e-9 * abs(med)
    out.append("OK all-NA-rent complex imputed to the median" if ok
               else "all-NA-rent complex not imputed to the median")
    sub = con.sql(f"SELECT * FROM read_csv('{res['submission_csv']}/*.csv',"
                  " header=true)").df()
    ok = (sorted(sub["code"]) == sorted(truth["test_codes"])
          and not sub.isnull().any().any())
    out.append("OK one submission row per test complex, no nulls" if ok
               else f"submission has {len(sub)} rows for "
                    f"{len(truth['test_codes'])} test complexes or nulls")
    return out


def _library(con, res, truth):
    out = []
    d = res["check_dir"]
    diff = con.sql(f"""
        SELECT count(*) FROM {_dump(d, 'x25_pipeline_e2e')} a
        FULL JOIN {_dump(d, 'x26_pipeline_tokens')} b USING (shard)
        WHERE a.n_docs IS DISTINCT FROM b.n_docs""").fetchone()[0]
    total = con.sql(f"SELECT sum(n_docs) FROM "
                    f"{_dump(d, 'x25_pipeline_e2e')}").fetchone()[0]
    out.append(f"OK x25 and x26 agree on {total} kept docs per shard"
               if diff == 0 and total else
               f"x25/x26 per-shard doc counts differ in {diff} shards")
    if "d6_dedup_clusters" not in res["oracle"]:
        return out  # d6 runs, and is dumped, in traced runs only
    reps = dict(con.sql(f"SELECT doc_id, rep FROM "
                        f"{_dump(d, 'd6_dedup_clusters')}").fetchall())
    bad = [c for c in truth["clusters"]
           if len({reps.get(m) for m in c}) != 1
           or sum(reps.get(m) == m for m in c) != 1]
    out.append(f"OK each of {len(truth['clusters'])} planted clusters "
               "keeps one member" if not bad else
               f"{len(bad)} planted clusters do not keep exactly one member")
    return out


def run(workload, res, inputs, truth, repo_check):
    con = _connect(inputs)
    out = _oracle(con, res, repo_check)
    asserts = {"parking": _parking, "library": _library}.get(workload)
    if asserts:
        try:
            out += asserts(con, res, truth)
        except Exception as e:  # e.g. a dump the check phase lost
            out.append(f"{workload} assertions error {e}")
    return out
