"""Seeded input generators for the benchmark workloads.

Each generator writes parquet files with the exact schemas and value
formats of the engine's fixture tables (the oracle SQL parses them:
`props` is '{"k": n}', `ts` is a microsecond timestamp, `embedding` is
a list of float32). The same seed always gives the same files.

    python3 graftbench/gen.py WORKLOAD SEED OUTDIR
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DIM = 64

# Sizes. Every op of every workload is dominated by fixed per-plan cost
# (planning, code generation, job scheduling) on small inputs, so the
# inputs are kept small enough that a run fits its time budget.
EVENTS = 30_000
USERS = 600
DOCS = 1_500
SEARCH_VECTORS = 600
BUGS = 1_500
BUG_EVENTS = 12          # mean activity rows per bug in the initial log
DELTA_BUGS = 15          # bugs touched by the one delta

# Duplicate families planted in the documents, as shares of them.
CURATION_RATES = {"exact": 0.06, "near": 0.06, "semantic": 0.05,
                  "containment": 0.04, "contaminated": 0.03}


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def events_table(rng, n, users):
    gaps = rng.integers(1, 2 * 30 * 86400 * 1_000_000 // n, n)
    ts = EPOCH_US + np.cumsum(gaps)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % v for v in k]),
    })


def documents_table(texts, rng):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(vecs, labels):
    flat = pa.array(vecs.astype(np.float32).reshape(-1))
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(vecs) * DIM + 1, DIM, dtype=np.int32)), flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def clustered(rng, n, clusters, spread):
    centers = rng.normal(0, 1, (clusters, DIM))
    labels = rng.integers(0, clusters, n)
    vecs = centers[labels] + rng.normal(0, spread, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs, labels


def gen_etl_full(rng, out):
    _write(events_table(rng, EVENTS, USERS), f"{out}/events.parquet")
    planted = curation_corpus(rng, out)
    change_log(rng, f"{out}/log")
    return planted


def curation_corpus(rng, out):
    """Documents and their embeddings with planted duplicate families;
    returns how many of each were planted."""
    texts = [_text(rng, int(w)) for w in rng.integers(20, 60, DOCS)]
    # like the fixture: unit vectors with no cluster structure, so only
    # the planted copies and a thin tail of random pairs are semantic dups
    vecs, labels = clustered(rng, DOCS, 10, 50.0)
    planted = {}
    ids = rng.permutation(np.arange(1, DOCS))
    pos = 0
    for family, rate in CURATION_RATES.items():
        take = ids[pos:pos + int(rate * DOCS)]
        pos += len(take)
        planted[family] = len(take)
        for d in take:
            src = int(rng.integers(0, d))
            words = texts[src].split()
            if family == "exact":
                texts[d] = texts[src]
            elif family == "near":
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
                texts[d] = " ".join(words)
            elif family == "semantic":
                vecs[d] = vecs[src] + rng.normal(0, 0.02, DIM)
                vecs[d] /= np.linalg.norm(vecs[d])
                labels[d] = labels[src]
            elif family == "containment":
                texts[d] = " ".join(words[:max(8, int(len(words) * 0.9))])
            else:  # shares a run of words with an eval holdout doc
                ev = 97 * int(rng.integers(0, (DOCS - 1) // 97 + 1))
                texts[d] = texts[d] + " " + " ".join(texts[ev].split()[:8])
    _write(documents_table(texts, rng), f"{out}/documents.parquet")
    _write(embeddings_table(vecs, labels), f"{out}/embeddings.parquet")
    return planted


def gen_search(rng, out):
    vecs, labels = clustered(rng, SEARCH_VECTORS, 20, 0.6)
    _write(embeddings_table(vecs, labels), f"{out}/embeddings.parquet")


# ---- Bugzilla-shaped change log -------------------------------------------
STATUSES = ["NEW", "ASSIGNED", "RESOLVED", "VERIFIED", "REOPENED", "CLOSED"]
PRIORITIES = ["P1", "P2", "P3", "P4", "P5"]
CC_POOL = ["u%d@example.org" % i for i in range(40)]


def _bug_events(rng, state, t0, t1, n):
    """n changes of one bug at distinct ms in [t0, t1), applied to its
    state in time order; returns the activity rows."""
    rows = []
    for ts in np.unique(rng.integers(t0, t1, n)):
        kind = int(rng.integers(0, 3))
        if kind == 0:
            new = STATUSES[int(rng.integers(0, len(STATUSES)))]
            if new == state["status"]:
                continue
            rows.append((int(ts), "status", state["status"], new))
            state["status"] = new
        elif kind == 1:
            new = PRIORITIES[int(rng.integers(0, len(PRIORITIES)))]
            if new == state["priority"]:
                continue
            rows.append((int(ts), "priority", state["priority"], new))
            state["priority"] = new
        else:
            item = CC_POOL[int(rng.integers(0, len(CC_POOL)))]
            if item in state["cc"]:
                state["cc"].remove(item)
                rows.append((int(ts), "cc", item, ""))
            else:
                state["cc"].append(item)
                rows.append((int(ts), "cc", "", item))
    return rows


def _activity_table(rows):
    return pa.table({
        "id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.int64()),
        "modified_by": pa.array(["u%d@example.org" % (r[0] % 40) for r in rows]),
        "field": pa.array([r[2] for r in rows]),
        "old_value": pa.array([r[3] for r in rows]),
        "new_value": pa.array([r[4] for r in rows]),
    })


def _current_table(states):
    ids = sorted(states)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "created_ts": pa.array([states[i]["created"] for i in ids], pa.int64()),
        "status": pa.array([states[i]["status"] for i in ids]),
        "priority": pa.array([states[i]["priority"] for i in ids]),
        "cc": pa.array([list(states[i]["cc"]) for i in ids], pa.list_(pa.string())),
    })


def change_log(rng, out):
    """An initial (current, activity) log (suffix 0000) and one delta
    of an hour that touches DELTA_BUGS bugs (suffix 0001)."""
    os.makedirs(out)
    day = 86_400_000
    start = EPOCH_US // 1000
    states, rows = {}, []
    for b in range(BUGS):
        created = start + int(rng.integers(0, 60 * day))
        states[b] = {"created": created, "cc": [],
                     "status": "NEW", "priority": PRIORITIES[int(rng.integers(0, 5))]}
        n = int(rng.poisson(BUG_EVENTS))
        rows += [(b,) + r for r in _bug_events(rng, states[b], created + 1,
                                               start + 90 * day, n)]
    _write(_activity_table(rows), f"{out}/activity-0000.parquet")
    _write(_current_table(states), f"{out}/current-0000.parquet")
    t = start + 90 * day
    delta = []
    for b in rng.choice(BUGS, DELTA_BUGS, replace=False):
        n = int(rng.integers(1, 4))
        delta += [(int(b),) + r for r in _bug_events(rng, states[int(b)], t, t + 3_600_000, n)]
    _write(_activity_table(delta), f"{out}/activity-0001.parquet")
    _write(_current_table(states), f"{out}/current-0001.parquet")


GENERATORS = {"etl_full": gen_etl_full, "search": gen_search}


def generate(workload, seed, out):
    """Writes the inputs of `workload` for `seed` into the new dir `out`."""
    os.makedirs(out)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    meta = GENERATORS[workload](rng, out) or {}
    with open(f"{out}/meta.json", "w") as f:
        json.dump({"workload": workload, "seed": seed, "planted": meta}, f)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
