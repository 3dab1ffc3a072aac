"""Seeded input generators for the benchmark.

Everything the library reads is made here from ``--seed``: the star
schema plus ``events``/``documents``/``embeddings`` tables that the
catalog queries scan (same names, column types and value shapes as
the fixture tables the catalog is written against), and the synthetic
GitHub repositories the ETL workload fetches through the mock API.
The same seed gives byte-identical inputs; sizes depend only on the
scale factor, never on the seed, so every seed does the same amount
of work.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "red", "big", "blue", "green", "tiny", "steel", "brass")
PART_NOUN = ("ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
REVIEW_STATES = ("APPROVED", "CHANGES_REQUESTED", "COMMENTED", "DISMISSED")

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# Child fan-out of every synthetic PR; the ETL check derives the four
# tables' row counts from these.
COMMITS_PER_PR = 2
FILES_PER_COMMIT = 3
REVIEWS_PER_PR = 2
COMMENTS_PER_PR = 2


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng, n: int) -> dict:
    """Word-soup documents with planted near duplicates: about 5 % copy
    another document and append "dup" once or twice, and a few are
    exact copies, so the dedup operators always find clusters."""
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(WORDS, k)))
    for i in rng.choice(n, max(1, n // 20), replace=False):
        src = int(rng.integers(0, n))
        texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    for i in rng.choice(n, max(1, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64, clusters: int = 10) -> dict:
    centers = rng.normal(0.0, 0.15, (clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = (centers[label] + rng.normal(0.0, 0.08, (n, dim))).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten catalog tables at scale factor ``sf``; returns the dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(100, int(50_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in rng.integers(0, 8, (n_part, 2))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    orderdate = _days(rng, "1995-01-01", 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": orderdate,
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_line).astype(np.int64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": orderdate[l_order]
        + rng.integers(1, 122, n_line).astype("timedelta64[D]"),
    })
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return out_dir


# ------------------------------------------------------------- GitHub repos


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def github_repo(repo: str, n_prs: int, seed: int) -> list[dict]:
    """Enriched PR documents for one synthetic repository.

    Each PR carries exactly COMMITS_PER_PR commits of FILES_PER_COMMIT
    files, REVIEWS_PER_PR reviews and COMMENTS_PER_PR comments, all with
    a user and a non-empty body, so no connector filter drops a row and
    the output row counts are closed-form."""
    rng = np.random.default_rng([seed, sum(repo.encode())])
    start = dt.datetime(2026, 1, 1)
    prs = []
    for num in range(1, n_prs + 1):
        created = start + dt.timedelta(minutes=int(rng.integers(0, 60 * 24 * 90)))
        merged = rng.random() < 0.6
        bug = int(rng.integers(1, 2_000_000))
        title = (
            f"Bug {bug} - fix {rng.choice(WORDS)} {rng.choice(WORDS)}"
            if rng.random() < 0.7
            else f"Update {rng.choice(WORDS)} docs"
        )
        review_ids = [num * 10 + k for k in range(REVIEWS_PER_PR)]
        prs.append({
            "number": num,
            "title": title,
            "state": "closed" if merged else "open",
            "created_at": _iso(created),
            "updated_at": _iso(created + dt.timedelta(hours=5)),
            "merged_at": _iso(created + dt.timedelta(hours=6)) if merged else None,
            "labels": [{"name": f"area-{k}"} for k in range(int(rng.integers(0, 3)))],
            "commit_data": [
                {
                    "sha": f"{num:06d}c{c}{int(rng.integers(0, 1 << 30)):08x}",
                    "commit": {"author": {
                        "name": f"dev{int(rng.integers(0, 40))}",
                        "date": _iso(created + dt.timedelta(minutes=c)),
                    }},
                    "files": [
                        {
                            "filename": f"src/{rng.choice(WORDS)}/f{f}.py",
                            "additions": int(rng.integers(0, 400)),
                            "deletions": int(rng.integers(0, 200)),
                        }
                        for f in range(FILES_PER_COMMIT)
                    ],
                }
                for c in range(COMMITS_PER_PR)
            ],
            "reviewer_data": [
                {
                    "id": rid,
                    "user": {"login": f"rev{int(rng.integers(0, 30))}"},
                    "state": REVIEW_STATES[int(rng.integers(0, 4))],
                    "submitted_at": _iso(created + dt.timedelta(hours=2, minutes=k)),
                }
                for k, rid in enumerate(review_ids)
            ],
            "comment_data": [
                {
                    "id": num * 100 + k,
                    "user": {"login": f"user{int(rng.integers(0, 50))}"},
                    "body": " ".join(rng.choice(WORDS, int(rng.integers(3, 30)))),
                    "created_at": _iso(created + dt.timedelta(hours=3, minutes=k)),
                    "pull_request_review_id": review_ids[0] if k == 0 else None,
                }
                for k in range(COMMENTS_PER_PR)
            ],
        })
    return prs


def write_landing(landing_dir: str, prs: list[dict], per_file: int) -> None:
    """Land enriched PRs as JSON-lines files of ``per_file`` PRs each:
    the streaming path's input."""
    os.makedirs(landing_dir, exist_ok=True)
    for i in range(0, len(prs), per_file):
        path = os.path.join(landing_dir, f"prs-{i // per_file:05d}.json")
        with open(path, "w") as f:
            for pr in prs[i : i + per_file]:
                f.write(json.dumps(pr) + "\n")
