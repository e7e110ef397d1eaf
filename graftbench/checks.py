"""Checks of each op's output against a computation made apart from
the engine. Each check returns a list of problems (empty when correct).

- etl_full: the DuckDB oracle SQL the engine ships for the query
  (SparkEntry.oracleSql), run on the generated inputs, against op 0's
  written output; every later op must write the same rows (same count
  and content digest).
- search: exact brute-force neighbours in numpy. Every returned score
  is recomputed, and mean recall@k must reach RECALL_FLOOR.

A run in which no op completed is not correct: it measured nothing.
"""
import glob
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

RECALL_FLOOR = 0.8


def _oracle(inp, run, got_dir):
    with open(os.path.join(run, "oracle.sql")) as f:
        sql = f.read()
    con = duckdb.connect()
    con.sql("SET threads=2")
    for p in glob.glob(os.path.join(inp, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    exp = con.sql(sql).df()
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df()
    got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return [f"columns {list(got.columns)} vs oracle {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"{len(got)} rows vs oracle {len(exp)}"]
    if len(got) == 0:
        return ["oracle and output are both empty"]
    gs = got.sort_values(list(got.columns)).reset_index(drop=True)
    es = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    problems = []
    for c in got.columns:
        eq = (gs[c] == es[c]) | (gs[c].isna() & es[c].isna())
        if not eq.all():
            i = (~eq).idxmax()
            problems.append(f"{c}@{i}: {gs[c][i]!r} vs oracle {es[c][i]!r} "
                            f"({(~eq).sum()} diffs)")
    return problems


def _ran(ops):
    return [o for o in ops if "error" not in o]


def check_etl_full(inp, run, ops):
    ok = _ran(ops)
    problems = _oracle(inp, run, ok[0]["dir"])
    for o in ok[1:]:
        if (o["lines"], o["digest"]) != (ok[0]["lines"], ok[0]["digest"]):
            problems.append(f"op {o['op']} output differs from op 0")
    return problems


def check_search(inp, run, ops, k=5):
    t = pq.read_table(os.path.join(inp, "embeddings.parquet")).to_pydict()
    ids = np.array(t["vec_id"])
    vecs = np.array(t["embedding"], dtype=np.float32).astype(np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    by_id = dict(zip(ids.tolist(), range(len(ids))))
    corpus = np.flatnonzero(ids >= 10)
    problems = []
    for o in _ran(ops):
        got = {}
        for q, rank, c, cos in o["rows"]:
            got.setdefault(q, []).append((rank, c, cos))
        recalls = []
        for q in ids[ids < 10].tolist():
            sims = vecs[corpus] @ vecs[by_id[q]]
            truth = set(ids[corpus[np.argsort(-sims, kind="stable")[:k]]].tolist())
            res = sorted(got.get(q, []))
            if [r for r, _, _ in res] != list(range(1, k + 1)):
                problems.append(f"op {o['op']} q{q}: ranks {[r for r, _, _ in res]}")
                continue
            for _, c, cos in res:
                if c not in by_id or c < 10:
                    problems.append(f"op {o['op']} q{q}: {c} is not a corpus vector")
                elif abs(float(vecs[by_id[c]] @ vecs[by_id[q]]) - cos) > 1.5e-3:
                    problems.append(f"op {o['op']} q{q}: score of {c} is {cos}")
            if any(a[2] < b[2] for a, b in zip(res, res[1:])):
                problems.append(f"op {o['op']} q{q}: scores not descending")
            recalls.append(len(truth & {c for _, c, _ in res}) / k)
        if recalls and np.mean(recalls) < RECALL_FLOOR:
            problems.append(f"op {o['op']}: recall@{k} {np.mean(recalls):.3f} "
                            f"below {RECALL_FLOOR}")
    return problems


def check(workload, inp, run, ops):
    if not _ran(ops):
        return [f"none of {len(ops)} ops completed"]
    return {"etl_full": check_etl_full, "search": check_search}[workload](inp, run, ops)
