"""Seeded input generator for the perfbench workloads.

`generate(seed, workload, out_dir)` writes the engine's input tables
(documents, events, orders as parquet, with the row counts and value
distributions measured on the sf0.1 test data; see README.md) and `script.json`, the workload's operation plan: questions
and upsert batches for qa_mixed; rerun budget/shares and panel draws
and parameters for admin_mixed. Everything derives from the seed alone;
the engine only ever sees these files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# the sf0.1 figures (README.md, "Input shape")
N_DOCS = 5000
N_NEAR_DUPS = N_DOCS // 20    # docs that copy another doc's text + " dup"
N_EXACT_DUPS = 8              # docs that copy another doc's text exactly
N_DOCS_ADMIN = 1500           # admin_mixed's corpus (README.md, "Input shape")
N_EVENTS = 100_000
N_USERS = 1500
VALUE_MEAN = 50.0             # events.value ~ exponential, 2 decimals
N_ORDERS = 150_000
N_CUSTOMERS = 15_000
EVENT_SPAN_S = 30 * 24 * 3600
T0_US = 1_704_067_200 * 10**6          # 2024-01-01T00:00:00Z
ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = 2405                      # through 2001-08-01

# the run mix: the benchmark's own choice, not an sf0.1 figure
# (README.md, "Run mix")
UPSERT_NEW, UPSERT_EDITS = 2, 1   # a 3-row upsert batch (README.md)
ASKS_PER_UPSERT = 6

PANELS = ["dashboard_stats", "contribution_analytics", "session_stats",
          "live_users", "activity_summary", "funnel", "cohort_retention",
          "top_rated", "recent_n", "paginate", "range_active_sessions"]


def _words(rng, lo, hi):
    return " ".join(rng.choice(VOCAB, size=int(rng.integers(lo, hi + 1))))


def documents(rng, n=N_DOCS):
    texts = [_words(rng, 10, 99) for _ in range(n)]
    # near duplicates: another doc's text plus " dup", in random order
    # so a few copy a copy; then a few exact duplicates
    for i in rng.choice(n, size=n * N_NEAR_DUPS // N_DOCS, replace=False):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    for a, b in rng.choice(n, size=(N_EXACT_DUPS, 2), replace=False):
        texts[b] = texts[a]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": list(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng):
    ts = np.sort(rng.integers(0, EVENT_SPAN_S * 10**6, size=N_EVENTS)) + T0_US
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, size=N_EVENTS)),
        "event_type": list(rng.choice(EVENT_TYPES, size=N_EVENTS)),
        "value": pa.array(np.round(rng.exponential(VALUE_MEAN, N_EVENTS), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)],
    })


def orders(rng):
    days = rng.integers(0, ORDER_DAYS, size=N_ORDERS)
    dates = (ORDER_DAY0 + days).astype("datetime64[us]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, size=N_ORDERS)),
        "o_orderstatus": list(rng.choice(["O", "F", "P"], size=N_ORDERS)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, N_ORDERS), 2)),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": list(rng.choice(PRIORITIES, size=N_ORDERS)),
    })


def qa_script(rng):
    questions = [_words(rng, 3, 7) for _ in range(4000)]
    batches, next_id = [], N_DOCS
    for b in range(200):
        rows = []
        # UPSERT_NEW new docs (fresh ids) and UPSERT_EDITS edits of
        # existing ids, so the MERGE both inserts and replaces; the
        # unique tail words keep each upserted text distinct from every
        # corpus doc
        for j in range(UPSERT_NEW):
            rows.append([next_id, _words(rng, 20, 60) + f" fresh{b}n{j}"])
            next_id += 1
        for j, old in enumerate(rng.choice(N_DOCS, size=UPSERT_EDITS, replace=False)):
            rows.append([int(old), _words(rng, 20, 60) + f" edit{b}n{j}"])
        batches.append({"rows": rows, "probe": rows[0][0]})
    return {"questions": questions, "batches": batches,
            "asks_per_upsert": ASKS_PER_UPSERT, "n_probe": 2, "k": 5}


def admin_script(rng):
    reruns = []
    for _ in range(200):
        budget = int(rng.choice([128, 192, 256, 384, 512]))
        shares = {}
        if rng.random() < 0.75:
            w = rng.integers(1, 5, size=3)
            shares = {"exec": int(w[0]), "query": int(w[1]), "storage": int(w[2])}
        reruns.append({"budget": budget, "shares": shares})
    # panel requests in blocks of one request per panel (one dashboard
    # refresh) in seeded order, so every refresh has the same panel mix;
    # each block asks session_stats at a session gap no earlier block
    # used, so one request per refresh misses the sessionized memo that
    # the other session panels share
    gaps = [int(g) for g in rng.permutation(np.arange(31, 400))]
    requests = []
    for block in range(200):
        for panel in rng.permutation(PANELS):
            panel = str(panel)
            p = {}
            if panel in ("top_rated", "recent_n"):
                p["n"] = int(rng.choice([5, 10, 20]))
            elif panel == "paginate":
                p["page"] = int(rng.integers(0, 5))
                p["size"] = int(rng.choice([10, 20]))
            elif panel == "activity_summary":
                p["days"] = int(rng.choice([1, 7, 14]))
            elif panel == "session_stats":
                p["gap_min"] = gaps[block]
            requests.append({"panel": panel, "params": p})
    return {"reruns": reruns, "requests": requests}


SCRIPTS = {"qa_mixed": qa_script, "admin_mixed": admin_script}
# the tables each workload reads
TABLES = {
    "qa_mixed": {"documents": documents},
    "admin_mixed": {"documents": lambda rng: documents(rng, N_DOCS_ADMIN),
                    "events": events, "orders": orders},
}


def generate(seed, workload, out_dir):
    """Write the tables and the workload script for (seed, workload)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, make in TABLES[workload].items():
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
    script = SCRIPTS[workload](np.random.default_rng([seed, 1]))
    with open(os.path.join(out_dir, "script.json"), "w") as f:
        json.dump(script, f)
